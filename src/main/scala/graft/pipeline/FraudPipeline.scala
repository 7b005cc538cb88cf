package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.SizeEstimator

import graft.Tables
import graft.catalog.ByteLruCache
import graft.streaming.Replay

/** End-to-end reference-pipeline parity (SURVEY.md §0, §3): the complete
  * prepare → train → produce → predict flow of the reference
  * (`tasks/scripts/{prepare_data,train_model,producer,predict}.py`),
  * rebuilt Spark-first over the `embeddings` fixture:
  *
  *  1. prepare: deterministic stratified sample + 70/30 split as
  *     distributed transformations (prepare_data.py:19-31, seed-42 analog
  *     via md5 ranking — no driver-side pandas);
  *  2. train: the 2-stage VectorAssembler → RandomForest(100 trees,
  *     depth 10, seed 42) Pipeline, persisted to disk
  *     (train_model.py:16-33, graft.ml.MLQueries.pipeline);
  *  3. produce: throttled replay of the test split as JSON-lines files —
  *     the sealed-env Kafka topic (producer.py:30-43, graft.streaming.Replay);
  *  4. predict: Structured Streaming file source → schema'd JSON decode →
  *     loaded PipelineModel.transform → to_json projection carrying
  *     actual_label + predicted_label side by side → checkpointed file
  *     sink (predict.py:22-53, output shape tasks/README.md:108-116).
  *     Like predict.py, which loads the model once and then scores a
  *     long-running stream, the model is loaded once per saved version
  *     per JVM: every later call against an unchanged model directory
  *     reuses it, and re-saving the model is picked up on the next call.
  *     The saved version is told by a fingerprint of the directory: the
  *     sorted (relative path, length, mtime) of every file under it,
  *     walked with `FileSystem.listStatus`, which reads no permissions
  *     (`listFiles` would fork an `ls -ld` per file on the local
  *     filesystem).
  *
  * Every stage is cluster-shaped: no collect() (replay streams via
  * toLocalIterator), checkpointed exactly-once sink, schema-enforced
  * decode. The checkpoint lives with the output, so calling `predict`
  * again after the topic grew resumes and scores each new record exactly
  * once. PipelineE2ESpec drives the whole flow and asserts each test
  * row is scored exactly once.
  */
object FraudPipeline {

  /** Declared wire schema of one replayed record (schema.py:3-35 analog:
    * id + feature payload + ground-truth label). */
  val recordSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  final case class Artifacts(
      modelDir: String, topicDir: String, outDir: String, nTest: Long)

  /** Stages 1-3: prepare, train, persist model, replay test split. */
  def prepareTrainProduce(spark: SparkSession, sfDir: String,
                          workDir: String, replayBatch: Int = 50): Artifacts = {
    // 1. prepare — exact stratified 70/30 (prepare_data.py:26-31 analog),
    // ranked via the two-phase bucketed ranking (Sampling.rankedByClass):
    // no bare-label window, so prep parallelism never collapses to #labels.
    val base = Sampling.rankedByClass(Tables(spark, sfDir, "embeddings"),
        "label", md5(concat(lit("42:"), col("vec_id").cast("string"))), "vec_id")
      .withColumn("is_train", col("rn") <= ceil(col("n_class") * 0.7).cast("long"))
    val train = base.filter(col("is_train"))
      .select("vec_id", "embedding", "label")
    val test = base.filter(!col("is_train"))
      .select("vec_id", "embedding", "label")

    // 2. train + persist (train_model.py:16-33 analog): the 2-stage
    // VectorAssembler -> RF pipeline — feature assembly is PERSISTED with
    // the classifier, so predict round-trips the full recipe via load.
    val model = graft.ml.MLQueries.pipeline()
      .fit(graft.ml.MLQueries.withAssemblerInputs(train))
    val modelDir = s"$workDir/credit_model"
    model.write.overwrite().save(modelDir)

    // 3. produce — throttled JSON replay (producer.py:30-43 analog)
    val topicDir = s"$workDir/input_data"
    val n = Replay.replay(test, "vec_id", topicDir,
      batchSize = replayBatch, intervalMs = 0L)
    Artifacts(modelDir, topicDir, s"$workDir/predictions", n)
  }

  /** Loaded models, keyed by model directory plus a fingerprint of its
    * saved files, so a re-saved model (new UUID-named part files) misses.
    * A miss drops the directory's stale entry: at most one model per
    * directory, and the whole memo is bounded by bytes. Never handed to
    * callers, so sharing one instance across calls is safe. */
  private val models =
    new ByteLruCache[(String, Vector[(String, Long, Long)]), PipelineModel](
      () => ByteLruCache.DefaultBytes, m => SizeEstimator.estimate(m))

  /** (relative path, length, mtime) of every file under `dir`, sorted;
    * listed through the Hadoop FileSystem, so HDFS model dirs work too.
    * Walks `listStatus` rather than `listFiles`: the `LocatedFileStatus`
    * of `listFiles` reads each file's owner and permissions, which the
    * local filesystem does by forking `ls -ld` per file, and the
    * fingerprint needs neither. */
  private def fingerprint(spark: SparkSession, dir: String): Vector[(String, Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    def files(p: Path): Vector[FileStatus] = fs.listStatus(p).toVector
      .flatMap(s => if (s.isDirectory) files(s.getPath) else Vector(s))
    files(root)
      .map(f => (f.getPath.toString.stripPrefix(prefix), f.getLen, f.getModificationTime))
      .sortBy(_._1)
  }

  /** The model saved in `dir`, loaded from disk once per saved version. */
  private[pipeline] def loadedModel(spark: SparkSession, dir: String): PipelineModel = {
    val key = (dir, fingerprint(spark, dir))
    models.getOrCompute(key) {
      models.invalidateIf(k => k._1 == dir && k != key)
      PipelineModel.load(dir)
    }
  }

  /** Number of loaded models held for `dir` (at most one). */
  private[pipeline] def cachedModels(dir: String): Int =
    models.keys.count(_._1 == dir)

  /** Stage 4: streaming score (predict.py:22-53 analog). Returns the
    * started query; callers await termination (AvailableNow drains the
    * replayed topic and stops). The model is loaded once per saved
    * version and reused by later calls. The checkpoint lives under
    * `outDir` (`_checkpoint`, hidden from file listings), so a repeat
    * call on the same Artifacts resumes where the last one stopped and
    * scores every record exactly once. */
  def predict(spark: SparkSession, a: Artifacts): StreamingQuery = {
    val model = loadedModel(spark, a.modelDir)
    // The wire carries only raw columns (recordSchema); the loaded 2-stage
    // model's assembler stage rebuilds `features` itself — predict derives
    // the assembler INPUTS (scalar summaries + vectorized embedding) and
    // nothing else, exactly predict.py:18's load-and-transform shape.
    // The embedding dim comes FROM the persisted model (assembled width
    // minus the 2 scalars), declared as vector-size metadata so the
    // assembler never needs a batch first() on the stream.
    val dim = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.RandomForestClassificationModel]
      .numFeatures - 2
    val parsed = graft.ml.MLQueries.withAssemblerInputs(
      spark.readStream.schema(recordSchema).json(a.topicDir), Some(dim))
    val scored = model.transform(parsed)
      .select(to_json(struct(
        col("vec_id"),
        col("label").as("actual_label"),
        col("prediction").as("predicted_label"))).as("value"))
    // text sink: one JSON string per line — the Kafka message-value shape
    scored.writeStream
      .format("text")
      .option("path", a.outDir)
      .option("checkpointLocation", s"${a.outDir}/_checkpoint")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Reads back the prediction topic as a DataFrame of the documented
    * output shape (tasks/README.md:108-116). */
  def readPredictions(spark: SparkSession, a: Artifacts): DataFrame = {
    val sch = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("actual_label", IntegerType),
      StructField("predicted_label", DoubleType)))
    spark.read.text(a.outDir)
      .select(from_json(col("value"), sch).as("p")).select("p.*")
  }

  /** The reference's Airflow DAG (O4/O5: prepare → train / produce →
    * predict, `airflow/dags` task ordering) wired onto [[Dag]]: stages
    * share state via the filesystem exactly as the reference's tasks share
    * via HDFS, `train` and `produce` run in PARALLEL once `prepare`
    * lands (the dependency structure Airflow would exploit), every stage
    * is idempotence-guarded, and a failed stage skips its dependents.
    * Returns the run report plus the artifact locations. */
  def dag(spark: SparkSession, sfDir: String, workDir: String,
          replayBatch: Int = 50): (Dag.Report, Artifacts) = {
    val trainPath = s"$workDir/train_split"
    val testPath = s"$workDir/test_split"
    val modelDir = s"$workDir/credit_model"
    val topicDir = s"$workDir/input_data"
    val outDir = s"$workDir/predictions"
    def done(p: String) = new java.io.File(p, "_SUCCESS").exists

    val prepare = Dag.Stage("prepare",
      isDone = () => done(trainPath) && done(testPath)) { () =>
      val base = Sampling.rankedByClass(Tables(spark, sfDir, "embeddings"),
          "label", md5(concat(lit("42:"), col("vec_id").cast("string"))), "vec_id")
        .withColumn("is_train", col("rn") <= ceil(col("n_class") * 0.7).cast("long"))
      base.filter(col("is_train")).select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(trainPath)
      base.filter(!col("is_train")).select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(testPath)
    }
    val train = Dag.Stage("train", deps = Seq("prepare"),
      isDone = () => new java.io.File(modelDir).exists) { () =>
      val model = graft.ml.MLQueries.pipeline().fit(
        graft.ml.MLQueries.withAssemblerInputs(spark.read.parquet(trainPath)))
      model.write.overwrite().save(modelDir)
    }
    val produce = Dag.Stage("produce", deps = Seq("prepare"),
      isDone = () => new java.io.File(topicDir).exists) { () =>
      Replay.replay(spark.read.parquet(testPath), "vec_id", topicDir,
        batchSize = replayBatch, intervalMs = 0L): Unit
    }
    // the streaming text sink writes _spark_metadata (not _SUCCESS):
    // directory existence is the idempotence marker here
    val predictStage = Dag.Stage("predict", deps = Seq("train", "produce"),
      isDone = () => new java.io.File(outDir).exists) { () =>
      predict(spark, Artifacts(modelDir, topicDir, outDir, -1L))
        .awaitTermination()
    }
    val report = Dag.run(Seq(prepare, train, produce, predictStage), parallelism = 2)
    (report, Artifacts(modelDir, topicDir, outDir, -1L))
  }
}
