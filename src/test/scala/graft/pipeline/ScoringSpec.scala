package graft.pipeline

import java.nio.file.Files

import org.apache.spark.SparkEnv
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ml.MLQueries
import graft.streaming.Replay

/** How `FraudPipeline.predict` scores: the classifier reaches the tasks
  * as a broadcast, not inside the micro-batch's task closure; its
  * `predict` gives the labels of the model's batch `transform`, also
  * with `thresholds` set; and a model that does not end in a vector
  * classifier is refused before any query starts. */
class ScoringSpec extends graft.SparkSpec {

  private def rows: DataFrame = Tables(spark, sfDir, "embeddings")
    .select("vec_id", "embedding", "label")

  private def fit(last: PipelineStage): PipelineModel =
    new Pipeline().setStages(Array(MLQueries.assembler(), last))
      .fit(MLQueries.withAssemblerInputs(rows))

  private def forest(trees: Int, depth: Int): PipelineModel =
    fit(new RandomForestClassifier().setNumTrees(trees).setMaxDepth(depth).setSeed(42))

  /** Saves `model` under a fresh directory and replays `rows` into its
    * topic; returns the artifacts of one predict cycle over them. */
  private def artifacts(model: PipelineModel): FraudPipeline.Artifacts = {
    val work = Files.createTempDirectory("graft_scoring_").toString
    model.write.overwrite().save(s"$work/model")
    val a = FraudPipeline.Artifacts(s"$work/model", s"$work/input",
      s"$work/predictions", -1L)
    Replay.replay(rows, "vec_id", a.topicDir, batchSize = 100)
    a
  }

  private def serializedBytes(o: AnyRef): Long =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit().toLong

  test("the scoring plan's UDFs do not carry the model") {
    val model = forest(trees = 20, depth = 6)
    val udfs = FraudPipeline.scored(spark, artifacts(model)).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.nonEmpty, "the scoring plan has UDFs")
    val udfBytes = udfs.map(u => serializedBytes(u.function)).sum
    val modelBytes = serializedBytes(model.stages.last)
    info(s"UDFs: $udfBytes bytes; the model's last stage: $modelBytes bytes")
    assert(udfBytes * 10 < modelBytes,
      s"the plan's UDFs serialize to $udfBytes bytes; the model's last stage to $modelBytes")
  }

  test("a forest saved with thresholds streams the labels of its batch transform") {
    val model = forest(trees = 10, depth = 5)
    val input = MLQueries.withAssemblerInputs(rows)
    def batch(m: PipelineModel): DataFrame =
      m.transform(input).select(col("vec_id"), col("prediction").as("want"))
    val argmax = batch(model).collect().toSet
    val rf = model.stages.last.asInstanceOf[RandomForestClassificationModel]
    rf.setThresholds(Array.tabulate(rf.numClasses)(i => if (i == 0) 0.9 else 0.1))
    val want = batch(model)
    assert(want.collect().toSet != argmax, "the thresholds must change some labels")

    val a = artifacts(model)
    FraudPipeline.predict(spark, a).awaitTermination()
    val got = FraudPipeline.readPredictions(spark, a)
    val differ = want.join(got, Seq("vec_id"), "full_outer")
      .filter(col("want").isNull || col("predicted_label").isNull ||
        col("want") =!= col("predicted_label"))
      .count()
    assert(differ == 0, s"$differ streamed labels differ from the batch transform")
    assert(got.count() == rows.count())
  }

  test("a model that does not end in a vector classifier is refused before a query starts") {
    val assemblerOnly = new Pipeline().setStages(Array(MLQueries.assembler()))
      .fit(MLQueries.withAssemblerInputs(rows))
    val regression = fit(new LinearRegression().setMaxIter(2))
    for (model <- Seq(assemblerOnly, regression)) {
      val a = artifacts(model)
      val running = spark.streams.active.length
      val e = intercept[IllegalArgumentException](FraudPipeline.predict(spark, a))
      val stage = model.stages.last.getClass.getName
      assert(e.getMessage.contains(stage), s"the refusal names $stage: ${e.getMessage}")
      assert(spark.streams.active.length == running)
      assert(!new java.io.File(a.outDir).exists, "no query wrote output")
    }
  }
}
