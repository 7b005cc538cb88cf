package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Tables
import graft.ml.MLQueries
import graft.streaming.Replay

/** `FraudPipeline.predict` loads a saved model once per saved version:
  * repeat calls against an unchanged model directory reuse one loaded
  * instance, and overwriting the directory with a new model is picked up
  * by the next call, which then scores with the new model. Its queries
  * share the executor's default class loader, so repeat cycles compile
  * no generated code, also on a session with artifact isolation on. */
class ModelCacheSpec extends graft.SparkSpec {

  /** A small forest over the pipeline's assembler; `shift` rotates the
    * labels so the two fits disagree. */
  private def fit(shift: Int): PipelineModel = {
    val train = Tables(spark, sfDir, "embeddings")
      .withColumn("label", ((col("label") + shift) % 10).cast("int"))
    new Pipeline().setStages(Array(MLQueries.assembler(),
        new RandomForestClassifier().setNumTrees(10).setMaxDepth(5).setSeed(42)))
      .fit(MLQueries.withAssemblerInputs(train))
  }

  /** Replays `rows` into a fresh topic and drains one predict cycle;
    * returns the cycle's predictions as (vec_id, predicted_label). */
  private def cycle(work: String, modelDir: String, name: String,
                    rows: DataFrame): DataFrame = {
    val a = FraudPipeline.Artifacts(modelDir, s"$work/$name/input",
      s"$work/$name/predictions", -1L)
    Replay.replay(rows, "vec_id", a.topicDir, batchSize = 10)
    FraudPipeline.predict(spark, a).awaitTermination()
    FraudPipeline.readPredictions(spark, a).select("vec_id", "predicted_label")
  }

  private def batch(model: PipelineModel, rows: DataFrame): DataFrame =
    model.transform(MLQueries.withAssemblerInputs(rows))
      .select(col("vec_id"), col("prediction").as("predicted_label"))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("repeat predicts reuse the loaded model until the directory is re-saved") {
    val work = Files.createTempDirectory("graft_model_cache_").toString
    val modelDir = s"$work/model"
    val rows = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label").filter(col("vec_id") % 5 === 0)
    val (m1, m2) = (fit(0), fit(3))
    assert(!same(batch(m1, rows), batch(m2, rows)), "the two fits must disagree")

    m1.write.overwrite().save(modelDir)
    val p1 = cycle(work, modelDir, "c1", rows)
    val loaded = FraudPipeline.loadedModel(spark, modelDir)
    val p2 = cycle(work, modelDir, "c2", rows)
    assert(FraudPipeline.loadedModel(spark, modelDir) eq loaded,
      "an unchanged model directory is loaded once")
    assert(same(p1, batch(m1, rows)) && same(p2, batch(m1, rows)))
    assert(FraudPipeline.cachedModels(modelDir) == 1)

    // re-saving writes new part files: the next cycle misses and scores
    // with the new model, and the stale entry is dropped
    m2.write.overwrite().save(modelDir)
    val p3 = cycle(work, modelDir, "c3", rows)
    assert(FraudPipeline.loadedModel(spark, modelDir) ne loaded)
    assert(same(p3, batch(m2, rows)), "the re-saved model scores the next cycle")
    assert(FraudPipeline.cachedModels(modelDir) == 1)
  }

  test("repeat predicts compile no code on a session with artifact isolation on") {
    val key = "spark.sql.artifact.isolation.enabled"
    val s = spark.newSession()
    s.conf.set(key, "true")
    val starts = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = starts.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      val work = Files.createTempDirectory("graft_codegen_cache_").toString
      val modelDir = s"$work/model"
      fit(0).write.overwrite().save(modelDir)
      val rows = Tables(s, sfDir, "embeddings")
        .select("vec_id", "embedding", "label").filter(col("vec_id") % 5 === 0)
      val compiles = (1 to 4).map { i =>
        val a = FraudPipeline.Artifacts(modelDir, s"$work/c$i/input",
          s"$work/c$i/predictions", -1L)
        Replay.replay(rows, "vec_id", a.topicDir, batchSize = 10)
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        FraudPipeline.predict(s, a).awaitTermination()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      assert(compiles.drop(2).forall(_ == 0), s"Janino compiles per cycle: $compiles")
      assert(s.conf.get(key) == "true", "the caller's conf reads as before")
      assert(starts.get == 4, "every query started in the caller's manager")
    } finally s.streams.removeListener(listener)
  }
}
