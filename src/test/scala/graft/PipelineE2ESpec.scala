package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.FraudPipeline
import graft.streaming.Replay

/** Drives the complete reference-parity pipeline end to end:
  * prepare → train → persist → replay → streaming score → sink → read
  * back. The reference's flagship flow (SURVEY.md §3.2), in one test. */
class PipelineE2ESpec extends SparkSpec {

  private lazy val base = FraudPipeline.prepareTrainProduce(
    spark, sfDir, Files.createTempDirectory("graft_e2e_").toString)

  test("prepare -> train -> replay -> streaming predict scores every test row exactly once") {
    val a = base
    assert(a.nTest > 0)

    val q = FraudPipeline.predict(spark, a)
    q.awaitTermination()

    val preds = FraudPipeline.readPredictions(spark, a).cache()
    try {
      // exactly-once: one prediction per replayed test row
      assert(preds.count() == a.nTest)
      assert(preds.select("vec_id").distinct().count() == a.nTest)
      // output carries ground truth + prediction side by side (predict.py:40-42)
      assert(preds.filter(col("actual_label").isNull ||
        col("predicted_label").isNull).count() == 0)
      // predictions land in the label domain
      val labels = Tables(spark, sfDir, "embeddings")
        .select("label").distinct().collect().map(_.getInt(0)).toSet
      val outLabels = preds.select("predicted_label").distinct()
        .collect().map(_.getDouble(0).toInt).toSet
      assert(outLabels.subsetOf(labels))
    } finally preds.unpersist()
  }

  test("predict again after the topic grows scores every event exactly once") {
    val work = Files.createTempDirectory("graft_e2e_resume_").toString
    val rows = spark.read.schema(FraudPipeline.recordSchema).json(base.topicDir)
      .orderBy("vec_id").limit(20).cache()
    val ids = rows.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids.size == 20)
    val a = base.copy(topicDir = s"$work/input", outDir = s"$work/predictions",
      nTest = ids.size.toLong)

    Replay.replay(rows.filter(col("vec_id") <= ids(9)), "vec_id", a.topicDir, batchSize = 5)
    FraudPipeline.predict(spark, a).awaitTermination()
    assert(FraudPipeline.readPredictions(spark, a).count() == 10)

    // grow the topic: ten more events under file names the first replay
    // did not use (Replay numbers its files from 0)
    Replay.replay(rows.filter(col("vec_id") > ids(9)), "vec_id", s"$work/more", batchSize = 5)
    Files.list(Paths.get(s"$work/more")).iterator.asScala.toList
      .foreach(p => Files.move(p, Paths.get(a.topicDir, s"more_${p.getFileName}")))
    FraudPipeline.predict(spark, a).awaitTermination()

    val scored = FraudPipeline.readPredictions(spark, a)
      .groupBy("vec_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scored.keySet == ids.toSet, "every event of both replays is scored")
    assert(scored.values.forall(_ == 1L), s"each event scored once: $scored")
    rows.unpersist()
  }
}
