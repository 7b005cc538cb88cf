package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** olap_mix: the read-only registry queries in a seeded order over the
  * generated fixture tables. Each operation builds the query through its
  * public `QueryDef.run`, plans it and runs one action that returns the
  * row count and an order-insensitive hash of the rows, which are
  * compared with the values pinned for the same inputs. */
final class Olap(c: Ctx) extends Workload {
  import c.{formats, tr}

  private val defs = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
  private val order = (c.plan \ "olap" \ "order").extract[IndexedSeq[String]]
  private val perPass = (c.plan \ "olap" \ "per_pass").extract[Int]
  private val warmPasses = (c.plan \ "olap" \ "warmup_passes").extract[Int]
  private val pinned = (c.plan \ "olap" \ "pinned").extract[Map[String, Map[String, Long]]]
    .map { case (k, v) => k -> ((v("rows"), v("hash"))) }
  private val observed = scala.collection.mutable.Map.empty[String, (Long, Long)]
  /** queries whose hash differed between two executions in this run */
  private val unstable = scala.collection.mutable.Set.empty[String]

  /** Hashable form of a column: maps have no hash in Spark SQL, so they
    * (and containers holding them) are hashed through their JSON text. */
  private def hashable(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(x => hasMap(x.dataType))
      case _ => false
    }
    val col0 = col(s"`${f.name}`")
    if (hasMap(f.dataType)) to_json(struct(col0)) else col0
  }

  /** Runs one query and returns (rows, hash). */
  private def query(name: String): (Long, Long) = {
    val df = tr.span("query.build") { defs(name).run(c.spark, c.dataDir) }
    val h = if (df.columns.isEmpty) lit(0L) else shiftrightunsigned(xxhash64(hashable(df): _*), 20)
    val checked = df.agg(count(lit(1)), coalesce(sum(h), lit(0L)))
    tr.span("query.plan") { checked.queryExecution.executedPlan }
    val r = tr.span("query.exec") { checked.collect().head }
    (r.getLong(0), r.getLong(1))
  }

  private def check(name: String, got: (Long, Long)): Either[String, Unit] = {
    if (observed.getOrElseUpdate(name, got)._2 != got._2) unstable += name
    val (rows, hash) = pinned(name)
    if (got._1 != rows) Left(s"$name: rows ${got._1} != pinned $rows")
    else if (hash >= 0 && got._2 != hash) Left(s"$name: hash ${got._2} != pinned $hash")
    else Right(())
  }

  def setup(): Seq[Double] = {
    val t0 = System.nanoTime()
    val pre0 = System.nanoTime()
    tr.span("tables.preflight") { graft.Tables.preflight(c.spark, c.dataDir) }
    tr.add("tables.preflight_ms", (System.nanoTime() - pre0) / 1e6)
    // untimed warm-up passes, in the run's first orders: the first pays
    // class loading and code generation, the later ones let the JIT
    // catch up with the code every timed pass runs
    val warmFails = order.take(perPass * warmPasses).flatMap { n =>
      try check(n, tr.span("warmup") { query(n) }).left.toOption
      catch { case e: Throwable => Some(s"$n: warm-up ${e.getClass.getSimpleName}") }
    }
    extra("warmup_failures") = warmFails.distinct
    Seq((System.nanoTime() - t0) / 1e9)
  }

  def hasOp(i: Int): Boolean = i < order.size

  /** Whole passes only, and at least two, so every run times the same
    * multiset of queries whatever the seed. */
  override def canStopBefore(i: Int): Boolean =
    i % perPass == 0 && i >= 2 * perPass

  def runOp(i: Int): OpRec = {
    val n = order(i)
    timed("query", n, "") { tr.span("op.query") { check(n, query(n)) } }
  }

  def finish(ops: Seq[OpRec]): Map[String, Seq[String]] = {
    extra("observed") = observed.map { case (k, (r, h)) =>
      k -> Map("rows" -> r, "hash" -> (if (unstable(k)) -1L else h)) }.toMap
    Map("pinned_results" -> ops.filterNot(_.ok).map(_.err))
  }
}
