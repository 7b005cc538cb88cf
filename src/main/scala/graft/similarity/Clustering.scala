package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.util.ArtifactCache

/** Embedding clustering + semantic deduplication (the SemDeDup recipe:
  * k-means the corpus embeddings, then prune near-duplicates WITHIN each
  * cluster — the cluster bound is what turns the quadratic pairwise pass
  * into k independent |c|² problems sized by k).
  *
  * Determinism contract (both engines bit-identical):
  *   - seeds = the K lowest vec_ids; cluster label = seed vec_id;
  *   - distances are sequential left-folds in double (Spark
  *     `aggregate(zip_with(...), 0D, +)` ≡ DuckDB `list_reduce`; the 0D
  *     seed is exact: 0 + x == x);
  *   - argmin ties break on cluster id;
  *   - centroid means are order-free exact BIGINT sums of binary-quantized
  *     values (floor(v·2^20), exact in both engines), then ONE IEEE
  *     division (Det.scala spirit; see `centroids` for why not decimal).
  */
object Clustering {

  /** Target cluster population: k is DERIVED from the corpus as
    * k = max(2, ceil(n / TargetClusterSize)) — the SemDeDup scale law.
    * With k ∝ n, expected |c| stays ≈ TargetClusterSize at ANY corpus
    * size, so the within-cluster pair stage does Σ|c|² ≈ n ·
    * TargetClusterSize work — LINEAR in n, where a pinned k would be
    * quadratic (the published recipe runs k in the tens of thousands for
    * exactly this reason). The oracle computes the same k from the same
    * count in SQL, so the law — not a constant — is what hash-matches.
    * (Fixture note: sf0.001 and sf0.01 both ship 500 vectors → k=4;
    * sf0.1 ships 2000 → k=16. ClusteringSpec proves the law varies k by
    * additionally running a subsampled corpus.) */
  val TargetClusterSize = 128
  def kFor(n: Long): Int =
    math.max(2, math.ceil(n.toDouble / TargetClusterSize).toInt)

  /** Fixed Lloyd rounds (centroid updates); Rounds+1 assignment passes
    * run in total. Fixed — not convergence-tested — so the oracle can
    * replay the exact same computation as chained CTEs. */
  val Rounds = 2

  /** SemDeDup keep threshold. Fixture-calibrated: the synthetic embeddings
    * are near-isotropic (pairwise cosine tops out ≈ 0.51), so the
    * real-corpus 0.95+ regime would prune nothing; 0.4 exercises actual
    * drops. The knob, not the pipeline, is fixture-specific. */
  val Tau = 0.4

  private def points(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("pe"))

  private val sqDist = expr(
    "aggregate(zip_with(pe, ce, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")

  /** One assignment pass. Scale shape: centroids are k rows — ALWAYS
    * broadcast, the point side never shuffles for the distance scan; the
    * argmin is a map-side-combinable min(struct(dist, cluster)) groupBy,
    * not a window — one exchange on vec_id, partial-reduced to one row
    * per point per mapper before it. */
  private def assign(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.crossJoin(broadcast(cents))
      .withColumn("sq_dist", sqDist)
      .groupBy("vec_id")
      .agg(min(struct(col("sq_dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.sq_dist").as("sq_dist"))

  /** Centroid update: posexplode to (cluster, dim, v), exact integer sum
    * per (cluster, dim) — the q105 label-centroid shape, map-side
    * combined, one shuffle of k·dims partials — then rebuild the ordered
    * array.
    *
    * Quantization is BINARY, not decimal: floor(v · 2^20) is exact in
    * both engines (power-of-two multiply + floor have no rounding step),
    * where a double→DECIMAL(25,10) cast is not — DuckDB scales by a
    * double multiply, so a value whose exact ×10^10 expansion sits within
    * an ulp of a .5 boundary rounds differently than Spark's BigDecimal
    * path (observed: 1e-12-level centroid skew). The ~1e-6 quantization
    * of the mean is part of the operator's definition. */
  private def centroids(pts: DataFrame, asg: DataFrame): DataFrame =
    asg.select("vec_id", "cluster").join(pts, "vec_id")
      .select(col("cluster"), posexplode(col("pe")).as(Seq("dim", "v")))
      .groupBy("cluster", "dim")
      .agg((sum(floor(col("v") * lit(1048576.0)).cast("long")).cast("double") /
        (count(lit(1)) * lit(1048576L)).cast("double")).as("m"))
      .groupBy("cluster")
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)")
        .as("ce"))

  /** The k-means run: the final (vec_id, cluster, sq_dist) assignment
    * after `Rounds` updates and the centroids it was scored against.
    * q127 and q128 share one run per (session, corpus), an
    * [[ArtifactCache]] entry. Centroids are localCheckpoint'd per round
    * (k rows — O(1)): the iteration never stacks lineage, the q84
    * connected-components precedent. */
  private def kmeans(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ArtifactCache.cached(s, s"kmeans:$d") {
      val pts = points(s, d)
      // O(1)-row scalar probe (count → k); the corpus itself never
      // collects. At 100 TB this is a metadata-cheap count vs a
      // quadratic pair stage — the right trade.
      val k = kFor(pts.count())
      var cents = pts.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cluster"), col("pe").as("ce"))
        .localCheckpoint(true)
      for (_ <- 1 to Rounds) {
        cents = centroids(pts, assign(pts, cents)).localCheckpoint(true)
      }
      (assign(pts, cents).localCheckpoint(true), cents)
    }

  private def finalAssign(s: SparkSession, d: String): DataFrame =
    kmeans(s, d)._1

  /** One raw (un-checkpointed) assignment pass against the seed
    * centroids — spec-only surface so the plan shape of the iteration
    * body is assertable (the cached finalAssign shows only its
    * checkpoint scan). */
  private[graft] def assignPlanProbe(s: SparkSession, d: String): DataFrame = {
    val pts = points(s, d)
    assign(pts, pts.orderBy("vec_id").limit(kFor(pts.count()))
      .select(col("vec_id").as("cluster"), col("pe").as("ce")))
  }

  /** The centroid frame the final assignment was scored against —
    * spec-only surface (Voronoi-optimality check). */
  private[graft] def finalCentroids(s: SparkSession, d: String): DataFrame =
    kmeans(s, d)._2

  /** The k-means replay as DuckDB CTEs (terminal CTE: `a2`), shared by
    * both oracles. a-CTEs are assignment passes (QUALIFY argmin with the
    * cluster tie-break), c-CTEs the integer-exact centroid updates. */
  private val duckKmeans = s"""
    p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pe
          FROM embeddings),
    nk AS (SELECT GREATEST(2, CAST(ceil(count(*) / $TargetClusterSize.0)
             AS BIGINT)) AS k FROM p),
    c0 AS (SELECT vec_id AS cluster, pe AS ce FROM p
           QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM nk)),
    a0 AS (SELECT p.vec_id, c.cluster,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (p.pe[i] - c.ce[i]) * (p.pe[i] - c.ce[i])),
               (acc, v) -> acc + v) AS sq_dist
           FROM p, c0 c
           QUALIFY row_number() OVER (PARTITION BY p.vec_id
             ORDER BY sq_dist, cluster) = 1),
    c1 AS (SELECT cluster, list(m ORDER BY dim) AS ce FROM (
             SELECT a.cluster, g.i AS dim,
                    CAST(sum(CAST(floor(p.pe[g.i] * 1048576.0) AS BIGINT))
                      AS DOUBLE) / CAST(count(*) * 1048576 AS DOUBLE) AS m
             FROM a0 a JOIN p USING (vec_id), generate_series(1, 64) g(i)
             GROUP BY 1, 2) GROUP BY 1),
    a1 AS (SELECT p.vec_id, c.cluster,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (p.pe[i] - c.ce[i]) * (p.pe[i] - c.ce[i])),
               (acc, v) -> acc + v) AS sq_dist
           FROM p, c1 c
           QUALIFY row_number() OVER (PARTITION BY p.vec_id
             ORDER BY sq_dist, cluster) = 1),
    c2 AS (SELECT cluster, list(m ORDER BY dim) AS ce FROM (
             SELECT a.cluster, g.i AS dim,
                    CAST(sum(CAST(floor(p.pe[g.i] * 1048576.0) AS BIGINT))
                      AS DOUBLE) / CAST(count(*) * 1048576 AS DOUBLE) AS m
             FROM a1 a JOIN p USING (vec_id), generate_series(1, 64) g(i)
             GROUP BY 1, 2) GROUP BY 1),
    a2 AS (SELECT p.vec_id, c.cluster,
             list_reduce(list_transform(generate_series(1, 64),
               i -> (p.pe[i] - c.ce[i]) * (p.pe[i] - c.ce[i])),
               (acc, v) -> acc + v) AS sq_dist
           FROM p, c2 c
           QUALIFY row_number() OVER (PARTITION BY p.vec_id
             ORDER BY sq_dist, cluster) = 1)"""

  val defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------------------- q127:
    // Lloyd k-means over the corpus embeddings, k = ceil(n/128) (the
    // SemDeDup scale law — see TargetClusterSize), 2 fixed centroid
    // updates, deterministic lowest-vec_id seeding. At 100 TB the shape
    // is the textbook one: k·dims centroids broadcast every round (a few
    // KB), the corpus scanned once per round with a map-side-combined
    // argmin + per-dim partial sums — per round, ONE exchange of k·dims
    // partial rows, never the corpus.
    QueryDef(
      "q127_kmeans",
      (s, d) => finalAssign(s, d).orderBy("vec_id"),
      Some(s"""
        WITH $duckKmeans
        SELECT vec_id, cluster, sq_dist FROM a2 ORDER BY vec_id""")),

    // -------------------------------------------------------------- q128:
    // SemDeDup: within each k-means cluster, a document is pruned when an
    // earlier (lower vec_id) cluster member is semantically near-identical
    // (cosine > tau) — greedy-by-id, so the decision is deterministic and
    // single-pass. The pairwise stage is the point of the recipe: it runs
    // per cluster — and because k scales with n (TargetClusterSize), the
    // expected Σ|c|² is n·TargetClusterSize, linear — using the native codegen'd
    // cosine_sim, and reduces to max-over-earlier per point — no pair
    // list survives the aggregation. max() over doubles is order-free, so
    // no decimal detour is needed.
    QueryDef(
      "q128_semdedup",
      (s, d) => {
        val a = finalAssign(s, d).select("vec_id", "cluster")
        val m = a.join(Tables(s, d, "embeddings")
          .select("vec_id", "embedding"), "vec_id")
        val prior = m.as("x").join(m.as("y"),
            col("x.cluster") === col("y.cluster") &&
              col("x.vec_id") > col("y.vec_id"))
          .select(col("x.vec_id").as("vec_id"),
            graft.functions.functions.cosine_sim(
              col("x.embedding"), col("y.embedding")).as("cos"))
          .groupBy("vec_id").agg(max("cos").as("max_prior_cos"))
        a.join(prior, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster"), col("max_prior_cos"),
            (col("max_prior_cos").isNull || col("max_prior_cos") <= lit(Tau))
              .as("is_kept"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH $duckKmeans,
        n AS (SELECT a.vec_id, a.cluster, p.pe,
                sqrt(list_reduce(list_transform(generate_series(1, 64),
                  i -> p.pe[i] * p.pe[i]), (acc, v) -> acc + v)) AS nrm
              FROM a2 a JOIN p USING (vec_id)),
        prior AS (SELECT x.vec_id,
                max(list_reduce(list_transform(generate_series(1, 64),
                  i -> x.pe[i] * y.pe[i]), (acc, v) -> acc + v)
                  / (x.nrm * y.nrm)) AS max_prior_cos
              FROM n x JOIN n y
                ON x.cluster = y.cluster AND x.vec_id > y.vec_id
              GROUP BY 1)
        SELECT a.vec_id, a.cluster, pr.max_prior_cos,
               (pr.max_prior_cos IS NULL OR pr.max_prior_cos <= $Tau)
                 AS is_kept
        FROM a2 a LEFT JOIN prior pr USING (vec_id)
        ORDER BY vec_id"""))
  )
}
