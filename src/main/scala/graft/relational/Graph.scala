package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.util.ArtifactCache

/** Graph analytics over the brand co-occurrence graph.
  *
  * The graph is DERIVED, the way a recommender / knowledge-graph pipeline
  * derives one from transactions: baskets = (order, brand) incidences,
  * pair weights = co-occurrence counts, and the edge set is each node's
  * top-3 neighbors by weight (a kNN graph — the degree-bounded
  * construction that stays sparse and non-degenerate at every corpus
  * size, unlike a lift threshold, which concentrates to 1 as N grows).
  * On top of it: market-basket association rules (q155), oriented
  * triangle enumeration (q156), integer-exact PageRank (q157), and
  * k-hop BFS reachability (q158).
  *
  * Scale shape, shared by all four: the only corpus-sized operations are
  * the lineitem→part broadcast join and ONE shuffle on l_orderkey (the
  * basket fold — collect_set over per-order rows, basket size bounded by
  * order width). Everything downstream runs on the |brands|²-bounded
  * pair frame and the ≤3·|brands| edge frame; with an unbounded vertex
  * domain the same plans hold with the per-vertex frames hash-partitioned
  * on vertex id instead of broadcast — no stage is ever all-pairs in the
  * corpus.
  */
object Graph {

  /** Per-(session, sfDir) graph artifacts, built once and
    * localCheckpointed in the [[ArtifactCache]] (with the dedup pair
    * index and the k-means run). Round 7 measured
    * the four graph queries independently rebuilding the baskets →
    * pairCounts → knnEdges chain (~2.5 s each: a corpus join + orderkey
    * shuffle + window); a production graph pipeline derives the basket /
    * edge tables ONCE and every downstream kernel reads them. Three
    * artifacts, in derivation order:
    *   - arr:   per-order sorted distinct-brand array (the materialized
    *            basket table; |orders|-sized, the ONLY corpus shuffle)
    *   - pairs: co-occurrence counts (|brands|²-bounded)
    *   - edges: undirected kNN edge set (≤ 3·|brands|) */
  private def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    ArtifactCache.cached(s, key)(build.localCheckpoint(true))

  /** (ok, b): distinct order→brand incidences. One broadcast join; the
    * distinct folds into the downstream groupBy(ok) shuffle. */
  private def baskets(s: SparkSession, d: String): DataFrame = {
    val li = Tables(s, d, "lineitem").select(col("l_orderkey").as("ok"),
      col("l_partkey"))
    val pt = Tables(s, d, "part").select(col("p_partkey"),
      col("p_brand").as("b"))
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("b"))
  }

  /** Materialized basket table: (ok, arr) with arr = sorted distinct
    * brands per order. ONE shuffle on ok, cached — marginals, order
    * counts, and pair counts all derive from it without another corpus
    * pass. */
  private def basketArr(s: SparkSession, d: String): DataFrame =
    cached(s, s"graph:arr:$d") {
      baskets(s, d).groupBy("ok")
        .agg(sort_array(collect_set(col("b"))).as("arr"))
    }

  /** Unordered co-occurring brand pairs with counts: per-basket pair
    * fan-out bounded by basket size (never a self-join of the incidence
    * table), then a map-side-combined count on the |brands|²-bounded
    * pair key. */
  private def pairCounts(s: SparkSession, d: String): DataFrame =
    cached(s, s"graph:pairs:$d") {
      basketArr(s, d)
        .select(explode(expr(
          """flatten(transform(arr, (x, i) ->
            |  transform(slice(arr, i + 2, size(arr)),
            |            y -> struct(x AS ba, y AS bb))))""".stripMargin))
          .as("p"))
        .select(col("p.ba"), col("p.bb"))
        .groupBy("ba", "bb").agg(count(lit(1)).as("n_ab"))
    }

  /** Cached kNN edge set (see knnEdges). */
  private def edges(s: SparkSession, d: String): DataFrame =
    cached(s, s"graph:edges:$d") { knnEdges(pairCounts(s, d)) }

  /** Undirected kNN edge set (k = 3 by weight, deterministic neighbor
    * tiebreak): directed top-3 per node on the pair frame, symmetrized
    * through least/greatest + distinct. Bounded by 3·|nodes| edges. */
  private def knnEdges(pairs: DataFrame): DataFrame = {
    val dir = pairs.select(col("ba").as("src"), col("bb").as("dst"),
        col("n_ab"))
      .unionAll(pairs.select(col("bb").as("src"), col("ba").as("dst"),
        col("n_ab")))
    val w = Window.partitionBy("src")
      .orderBy(col("n_ab").desc, col("dst"))
    dir.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** The shared oracle-SQL prelude: baskets → pairs → kNN edges. */
  private val edgeSql =
    """baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |              FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pairs AS (SELECT x.b AS ba, y.b AS bb, count(*) AS n_ab
      |          FROM baskets x JOIN baskets y
      |            ON x.ok = y.ok AND x.b < y.b
      |          GROUP BY 1, 2),
      |dir AS (SELECT ba AS src, bb AS dst, n_ab FROM pairs
      |        UNION ALL
      |        SELECT bb, ba, n_ab FROM pairs),
      |knn AS (SELECT src, dst FROM (
      |          SELECT src, dst, row_number() OVER (
      |            PARTITION BY src ORDER BY n_ab DESC, dst) AS rn
      |          FROM dir) WHERE rn <= 3),
      |edges AS (SELECT DISTINCT least(src, dst) AS a,
      |                 greatest(src, dst) AS b FROM knn)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------------------- q155:
    // Market-basket association rules over brand pairs: support,
    // directional confidence, and lift, at min-support n_ab >= 20. All
    // ratios are ONE final division of exact BIGINT cross products
    // (values < 2^53, so the BIGINT→DOUBLE casts are exact and the
    // rounded quotients bit-match across engines). The brand-marginal
    // frame is |brands|-sized and broadcasts back against the pair
    // frame; the 1-row basket total is a broadcast cross join.
    QueryDef(
      "q155_brand_affinity",
      (s, d) => {
        // all three inputs derive from the cached basket table — zero
        // additional corpus passes (arr already holds the per-order
        // distinct brand set, so exploding it IS the distinct incidence)
        val arr = basketArr(s, d)
        val pairs = pairCounts(s, d)
        val nOrders = arr.agg(count(lit(1)).as("n_orders"))
        val marg = arr.select(explode(col("arr")).as("b"))
          .groupBy("b").agg(count(lit(1)).as("n_b"))
        pairs
          .join(broadcast(marg.select(col("b").as("ba"),
            col("n_b").as("n_a"))), "ba")
          .join(broadcast(marg.select(col("b").as("bb"),
            col("n_b").as("n_bb"))), "bb")
          .crossJoin(broadcast(nOrders))
          .filter(col("n_ab") >= 20)
          .select(col("ba"), col("bb"), col("n_ab"),
            round(col("n_ab").cast("double") /
              col("n_orders").cast("double"), 6).as("support"),
            round(col("n_ab").cast("double") /
              col("n_a").cast("double"), 6).as("conf_ab"),
            round(col("n_ab").cast("double") /
              col("n_bb").cast("double"), 6).as("conf_ba"),
            round((col("n_ab") * col("n_orders")).cast("double") /
              (col("n_a") * col("n_bb")).cast("double"), 6).as("lift"))
          .orderBy("ba", "bb")
      },
      Some("""
        WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                         FROM lineitem JOIN part ON l_partkey = p_partkey),
        pairs AS (SELECT x.b AS ba, y.b AS bb, count(*) AS n_ab
                  FROM baskets x JOIN baskets y
                    ON x.ok = y.ok AND x.b < y.b
                  GROUP BY 1, 2),
        n AS (SELECT count(DISTINCT ok) AS n_orders FROM baskets),
        marg AS (SELECT b, count(*) AS n_b FROM baskets GROUP BY 1)
        SELECT p.ba, p.bb, p.n_ab,
               round(CAST(p.n_ab AS DOUBLE) /
                     CAST(n.n_orders AS DOUBLE), 6) AS support,
               round(CAST(p.n_ab AS DOUBLE) /
                     CAST(ma.n_b AS DOUBLE), 6) AS conf_ab,
               round(CAST(p.n_ab AS DOUBLE) /
                     CAST(mb.n_b AS DOUBLE), 6) AS conf_ba,
               round(CAST(p.n_ab * n.n_orders AS DOUBLE) /
                     CAST(ma.n_b * mb.n_b AS DOUBLE), 6) AS lift
        FROM pairs p
        JOIN marg ma ON ma.b = p.ba
        JOIN marg mb ON mb.b = p.bb
        CROSS JOIN n
        WHERE p.n_ab >= 20
        ORDER BY p.ba, p.bb"""),
    ),

    // -------------------------------------------------------------- q156:
    // Oriented triangle enumeration on the kNN graph: with every edge
    // stored once as a < b, the two-join chain e1(a,b) ⋈ e2(b,c) ⋈
    // probe(a,c) enumerates each triangle EXACTLY once (a < b < c by
    // construction) — the standard orientation trick that replaces the
    // 6-fold-redundant symmetric join. On a power-law graph the
    // production variant orients by (degree, id) instead of raw id so
    // high-degree hubs never fan out; same plan otherwise. The edge
    // frame is 3·|nodes|-bounded here, so all joins broadcast.
    QueryDef(
      "q156_triangle_count",
      (s, d) => {
        val e = edges(s, d)
        val e1 = e.select(col("a").as("x"), col("b").as("y"))
        val e2 = e.select(col("a").as("y"), col("b").as("z"))
        val e3 = e.select(col("a").as("x"), col("b").as("z"))
        e1.join(e2, "y").join(e3, Seq("x", "z"))
          .select(col("x").as("brand_a"), col("y").as("brand_b"),
            col("z").as("brand_c"))
          .orderBy("brand_a", "brand_b", "brand_c")
      },
      Some(s"""
        WITH $edgeSql
        SELECT e1.a AS brand_a, e1.b AS brand_b, e2.b AS brand_c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ORDER BY 1, 2, 3"""),
    ),

    // -------------------------------------------------------------- q157:
    // PageRank, 3 iterations, INTEGER-exact: scores are BIGINT mass
    // units (10^12 per node at t=0); each iteration every node keeps
    // the damping floor 0.15·10^12 and sends floor(score·85 /
    // (100·deg)) along each incident edge. Floor division is identical
    // in both engines (all terms positive), so the scores — not just
    // their order — hash-match; transcendental-free PageRank. Floor
    // remainders are deliberately dropped (deterministic mass leak,
    // same in both engines). Per iteration the work is one edge-sized
    // join + one vertex-keyed aggregation — the textbook distributed
    // PageRank step; here every per-vertex frame is brand-bounded so
    // Spark broadcasts them, at an unbounded vertex domain the same
    // plan hash-partitions on vertex id.
    QueryDef(
      "q157_pagerank",
      (s, d) => {
        // sym/deg/nodes are tiny (≤ 6·|brands| rows) but feed EVERY
        // iteration: checkpoint them once so the loop's terminal action
        // doesn't re-derive the edge pipeline per level, and checkpoint
        // each round's scores so plan depth stays O(1) in iterations
        // (the q84 connected-components lesson — see Dedup.scala).
        val e = edges(s, d)
        val sym = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
        val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val nodes = sym.select(col("src").as("node")).distinct()
          .localCheckpoint(true)
        var scores = nodes.withColumn("score", lit(1000000000000L))
        for (_ <- 1 to 3) {
          val inflow = sym
            .join(scores.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .withColumn("send", expr("score * 85 DIV (100 * deg)"))
            .groupBy(col("dst").as("node"))
            .agg(sum("send").as("inflow"))
          scores = nodes.join(inflow, Seq("node"), "left")
            .select(col("node"),
              (lit(150000000000L) + coalesce(col("inflow"), lit(0L)))
                .as("score"))
            .localCheckpoint(true)
        }
        scores.orderBy(col("score").desc, col("node"))
      },
      Some(s"""
        WITH $edgeSql,
        sym AS (SELECT a AS src, b AS dst FROM edges
                UNION ALL SELECT b, a FROM edges),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
        it0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS score
                FROM nodes),
        in1 AS (SELECT e.dst AS node,
                       sum((s.score * 85) // (100 * d.deg)) AS inflow
                FROM sym e JOIN it0 s ON s.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
        it1 AS (SELECT n.node,
                       150000000000 + coalesce(i.inflow, 0) AS score
                FROM nodes n LEFT JOIN in1 i ON i.node = n.node),
        in2 AS (SELECT e.dst AS node,
                       sum((s.score * 85) // (100 * d.deg)) AS inflow
                FROM sym e JOIN it1 s ON s.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
        it2 AS (SELECT n.node,
                       150000000000 + coalesce(i.inflow, 0) AS score
                FROM nodes n LEFT JOIN in2 i ON i.node = n.node),
        in3 AS (SELECT e.dst AS node,
                       sum((s.score * 85) // (100 * d.deg)) AS inflow
                FROM sym e JOIN it2 s ON s.node = e.src
                JOIN deg d ON d.src = e.src GROUP BY 1),
        it3 AS (SELECT n.node,
                       CAST(150000000000 + coalesce(i.inflow, 0) AS BIGINT)
                         AS score
                FROM nodes n LEFT JOIN in3 i ON i.node = n.node)
        SELECT node, score FROM it3 ORDER BY score DESC, node"""),
    ),

    // -------------------------------------------------------------- q158:
    // k-hop BFS (k = 3) from the lexicographically-first vertex, with
    // exact hop distances: three frontier expansions (edge join on the
    // previous frontier), then min(dist) per node folds the union of
    // levels — the iterative shortest-path kernel every graph engine
    // runs, expressed as k unrolled join/aggregate rounds. Frontier
    // joins partition on vertex id at scale (each round touches only
    // edges incident to the frontier); the fixture's brand domain keeps
    // every frame broadcast-sized.
    QueryDef(
      "q158_khop_reach",
      (s, d) => {
        val e = edges(s, d)
        val sym = e.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
        val seed = sym.agg(min(least(col("src"), col("dst"))).as("node"))
        var frontier = seed
        var levels = seed.withColumn("dist", lit(0))
        for (h <- 1 to 3) {
          frontier = sym
            .join(broadcast(frontier.withColumnRenamed("node", "src")),
              "src")
            .select(col("dst").as("node")).distinct()
          levels = levels.unionAll(frontier.withColumn("dist", lit(h)))
        }
        levels.groupBy("node").agg(min("dist").as("dist"))
          .orderBy("dist", "node")
      },
      Some(s"""
        WITH $edgeSql,
        sym AS (SELECT a AS src, b AS dst FROM edges
                UNION ALL SELECT b, a FROM edges),
        f0 AS (SELECT min(src) AS node FROM sym),
        f1 AS (SELECT DISTINCT e.dst AS node
               FROM sym e JOIN f0 ON e.src = f0.node),
        f2 AS (SELECT DISTINCT e.dst AS node
               FROM sym e JOIN f1 ON e.src = f1.node),
        f3 AS (SELECT DISTINCT e.dst AS node
               FROM sym e JOIN f2 ON e.src = f2.node),
        lv AS (SELECT node, 0 AS dist FROM f0
               UNION ALL SELECT node, 1 FROM f1
               UNION ALL SELECT node, 2 FROM f2
               UNION ALL SELECT node, 3 FROM f3)
        SELECT node, min(dist) AS dist FROM lv
        GROUP BY node ORDER BY dist, node"""),
    ),

    // -------------------------------------------------------------- q178:
    // Item-item cosine recommendations ("customers also bought"): the
    // similarity form of q155's association rules — sim(a,b) =
    // n_ab / sqrt(n_a · n_b) over basket co-occurrence, top-3 neighbors
    // per brand. sqrt is IEEE-correctly-rounded, so the single float
    // expression is bit-stable cross-engine; ranking still orders by the
    // ROUNDED sim with a neighbor tiebreak (q63 discipline). Rides the
    // SAME cached basket/pair artifacts as q155–q158 — marginal cost of
    // a new recommender kernel on the materialized graph is one
    // |brands|²-sized window, no corpus work at all.
    QueryDef(
      "q178_item_item_recs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val arr = basketArr(s, d)
        val pairs = pairCounts(s, d)
        val marg = arr.select(explode(col("arr")).as("b"))
          .groupBy("b").agg(count(lit(1)).as("n_b"))
        val sym = pairs.select(col("ba").as("brand"), col("bb").as("rec"),
            col("n_ab"))
          .unionAll(pairs.select(col("bb").as("brand"), col("ba").as("rec"),
            col("n_ab")))
        val w = Window.partitionBy("brand")
          .orderBy(col("sim").desc, col("rec"))
        sym
          .join(broadcast(marg.select(col("b").as("brand"),
            col("n_b").as("n_brand"))), "brand")
          .join(broadcast(marg.select(col("b").as("rec"),
            col("n_b").as("n_rec"))), "rec")
          .withColumn("sim", round(col("n_ab").cast("double") /
            sqrt((col("n_brand") * col("n_rec")).cast("double")), 6))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("brand"), col("rk"), col("rec"), col("n_ab"),
            col("sim"))
          .orderBy("brand", "rk")
      },
      Some("""
        WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
                         FROM lineitem JOIN part ON l_partkey = p_partkey),
        pairs AS (SELECT x.b AS ba, y.b AS bb, count(*) AS n_ab
                  FROM baskets x JOIN baskets y
                    ON x.ok = y.ok AND x.b < y.b
                  GROUP BY 1, 2),
        marg AS (SELECT b, count(*) AS n_b FROM baskets GROUP BY 1),
        sym AS (SELECT ba AS brand, bb AS rec, n_ab FROM pairs
                UNION ALL SELECT bb, ba, n_ab FROM pairs),
        sc AS (SELECT s.brand, s.rec, s.n_ab,
                      round(CAST(s.n_ab AS DOUBLE) /
                        sqrt(CAST(mb.n_b * mr.n_b AS DOUBLE)), 6) AS sim
               FROM sym s
               JOIN marg mb ON mb.b = s.brand
               JOIN marg mr ON mr.b = s.rec),
        r AS (SELECT brand, rec, n_ab, sim,
                CAST(ROW_NUMBER() OVER (PARTITION BY brand
                     ORDER BY sim DESC, rec) AS INTEGER) AS rk
              FROM sc)
        SELECT brand, rk, rec, n_ab, sim
        FROM r WHERE rk <= 3
        ORDER BY brand, rk"""),
    ),
  )
}
