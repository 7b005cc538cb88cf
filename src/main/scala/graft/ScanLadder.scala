package graft

/** Catalog-scan constant-factor ladder (VERDICT r10 item 3): the same
  * rows as a plain parquet directory vs a managed catalog table,
  * read-only, x1 and x10 — the managed read path must stay within a
  * small constant factor of Spark's native vectorized parquet scan or
  * the lakehouse layer taxes every downstream query.
  *
  * Prints one JSON line per (variant, scale): min-of-3 wall seconds for
  * a full-scan aggregate (SUM + COUNT over two columns — enough to force
  * real column materialization, cheap enough to be scan-dominated).
  *
  * Usage: runMain graft.ScanLadder [sfDir] — results recorded in
  * BASELINE.md ("catalog scan ladder").
  */
object ScanLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    val work = java.nio.file.Files.createTempDirectory("scan-ladder-")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

    def timeMin3(f: () => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min

    Seq(1, 10).foreach { x =>
      val df = if (x == 1) orders
        else (1 to x).map(i =>
          orders.withColumn("o_orderkey",
            col("o_orderkey") + lit(i.toLong * 100000000L)))
          .reduce(_ unionAll _)
      val plainDir = work.resolve(s"plain_x$x").toString
      df.write.mode("overwrite").parquet(plainDir)
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.default.ladder_x$x")
      df.createOrReplaceTempView("ladder_src")
      spark.sql(s"""CREATE TABLE graft_cat.default.ladder_x$x
                    AS SELECT * FROM ladder_src""")
      def agg(from: String): Unit =
        spark.sql(s"""SELECT COUNT(*), SUM(o_totalprice),
                             SUM(o_custkey), COUNT(o_orderpriority)
                      FROM $from""").collect(): Unit
      spark.read.parquet(plainDir).createOrReplaceTempView("plain_v")
      agg("plain_v") // warm both paths once before timing
      agg(s"graft_cat.default.ladder_x$x")
      val tPlain = timeMin3(() => agg("plain_v"))
      val tCat = timeMin3(() => agg(s"graft_cat.default.ladder_x$x"))
      val rows = df.count()
      println(f"""{"ladder":"catalog_scan","x":$x,"rows":$rows,""" +
        f""""plain_sec":$tPlain%.3f,"catalog_sec":$tCat%.3f,""" +
        f""""factor":${tCat / tPlain}%.2f}""")
      spark.sql(s"DROP TABLE graft_cat.default.ladder_x$x")
    }
    graft.util.Fs.rmTree(work)
    spark.stop()
  }
}
