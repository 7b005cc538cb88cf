package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The hermetic fixture-schema contract (round-7 postmortem).
  *
  * Round 7 lost 12 queries because the regenerated events fixture changed
  * its physical ts encoding (TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs)) and
  * nothing in the repo asserted the schema the engine assumed: streams
  * decoded the new µs values through a hard-coded long schema and emitted
  * wrong-but-plausible rows with rc=0. This spec makes that class of
  * drift impossible to miss:
  *
  *  1. `Tables.preflight` (run by Verify AND Bench before any query) must
  *     pass on the current fixtures — column names, types, and a decoded
  *     ts VALUE-RANGE check.
  *  2. The current encoding is pinned exactly: if the driver regenerates
  *     events.ts under ANY other encoding — even one the engine adapts,
  *     like the old nanos — `sbt test` goes red here, forcing a human to
  *     look before correctness artifacts are produced.
  *  3. Hypothetical drifts are exercised for real: a nanos-encoded copy
  *     must fail the pin (while still normalizing correctly — the
  *     adapter keeps working), and a seconds-encoded copy — type-
  *     indistinguishable from the nanos legacy — must fail preflight on
  *     the value-range check, NOT decode garbage.
  */
class FixtureContractSpec extends SparkSpec {

  test("preflight passes on the shipped fixtures") {
    Tables.preflight(spark, sfDir) // throws = fails
  }

  test("events.ts physical encoding is pinned (drift must fail the build, even to an adapted encoding)") {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      s"events.ts encoding drifted to ${raw.schema("ts").dataType.simpleString}: " +
        "verify Tables.normalizeEventsTs handles it, rerun the full oracle " +
        "suite, then re-pin this assertion")
  }

  /** Rewrite the sf0.001 events table with ts transformed to `enc`,
    * returning a fixture-dir-shaped temp dir. */
  private def rewrittenFixture(encode: org.apache.spark.sql.Column,
      tsType: DataType): String = {
    val dir = Files.createTempDirectory("graft_fixture_drift_").toString
    val src = Tables(spark, sfDir, "events") // normalized TIMESTAMP
    src.withColumn("ts", encode)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the other tables preflight reads — symlink the real ones
    Seq("lineitem", "orders", "documents", "embeddings",
        "region", "nation", "customer", "supplier", "part").foreach { t =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(dir, s"$t.parquet"),
        java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    }
    dir
  }

  test("the OLD nanos-as-long encoding still normalizes, but fails the encoding pin") {
    val dir = rewrittenFixture(expr("unix_micros(ts) * 1000L"), LongType)
    // adapter: values decode to the same instants the NTZ fixture holds
    val a = Tables(spark, dir, "events").agg(max("ts")).head().getTimestamp(0)
    val b = Tables(spark, sfDir, "events").agg(max("ts")).head().getTimestamp(0)
    assert(a == b, s"nanos adapter decodes $a, NTZ fixture holds $b")
    Tables.preflight(spark, dir) // recognized encoding: preflight passes
    // ...but the pin (test above, applied to this dir) fails — the drift
    // is surfaced in sbt test even though the engine adapts
    val drifted = spark.read.parquet(s"$dir/events.parquet")
    assert(drifted.schema("ts").dataType != TimestampNTZType)
  }

  test("a seconds-encoded long fixture fails preflight LOUDLY instead of decoding garbage") {
    // seconds-as-long is type-identical to the nanos legacy (INT64);
    // only the decoded value range can tell them apart. Interpreted as
    // nanos, 1.7e9 seconds ≈ 1.7 s past epoch → year 1970 → out of the
    // plausible window → preflight throws.
    val dir = rewrittenFixture(expr("unix_micros(ts) div 1000000L"), LongType)
    val e = intercept[IllegalStateException](Tables.preflight(spark, dir))
    assert(e.getMessage.contains("implausible"),
      s"expected the value-range check to fire, got: ${e.getMessage}")
  }

  test("an unrecognized ts type fails normalization with an actionable error") {
    val dir = rewrittenFixture(expr("cast(ts as string)"), StringType)
    val e = intercept[IllegalStateException](Tables(spark, dir, "events"))
    assert(e.getMessage.contains("unrecognized"))
  }

  test("a fixture regenerated in place re-reads its schema and keeps one memo entry") {
    val dir = Files.createTempDirectory("graft_fixture_regen_").toString
    val path = s"$dir/region.parquet"
    val gens = Seq(Seq("a"), Seq("a", "b"), Seq("a", "b", "c"))
    gens.foreach { cols =>
      spark.range(3).select(cols.map(c => col("id").as(c)): _*)
        .write.mode("overwrite").parquet(path)
      assert(Tables(spark, dir, "region").columns.toSeq == cols,
        "the regenerated fixture must miss the memo, not reuse the stale schema")
    }
    assert(Tables.cachedSchemas(dir) == 1)
  }
}
