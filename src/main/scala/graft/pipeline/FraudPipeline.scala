package graft.pipeline

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.ProbabilisticClassificationModel
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector => MLVector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.SizeEstimator

import graft.{GraftSession, Tables}
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
  *     the loaded model's feature stages → the broadcast classifier's
  *     `predict` → to_json projection carrying actual_label +
  *     predicted_label side by side → checkpointed file sink
  *     (predict.py:22-53, output shape tasks/README.md:108-116).
  *     Like predict.py, which loads the model once and then scores a
  *     long-running stream, the model is loaded once per saved version
  *     per JVM: every later call against an unchanged model directory
  *     reuses it, and re-saving the model is picked up on the next call.
  *     The saved version is told by a fingerprint of the directory: the
  *     sorted (relative path, length, mtime) of every file under it,
  *     walked with `FileSystem.listStatus`, which reads no permissions
  *     (`listFiles` would fork an `ls -ld` per file on the local
  *     filesystem).
  *     The classifier reaches the tasks the same way: once per saved
  *     version, as a broadcast. `PipelineModel.transform` would build its
  *     prediction UDFs as closures over the forest itself, so every
  *     micro-batch would Java-serialize the whole forest twice before
  *     its tasks launch (the closure check and the task binary) and
  *     deserialize it in each task; the scoring UDF here closes over the
  *     broadcast handle only.
  *     Like predict.py's one long-running query, the generated code of
  *     the scoring plan is compiled once per JVM: each call's query
  *     starts with artifact isolation off (`GraftSession.startShared`),
  *     so its tasks share the executor's default class loader, and with
  *     it Spark's generated-class cache, with every earlier call's.
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
    val (train, test) = prepareSplit(spark, sfDir)
    val modelDir = s"$workDir/credit_model"
    trainAndSave(train, modelDir)
    val topicDir = s"$workDir/input_data"
    val n = produce(test, topicDir, replayBatch)
    Artifacts(modelDir, topicDir, s"$workDir/predictions", n)
  }

  /** Stage 1, prepare: the exact stratified 70/30 split as (train, test)
    * (prepare_data.py:26-31 analog), ranked via the two-phase bucketed
    * ranking (Sampling.rankedByClass): no bare-label window, so prep
    * parallelism never collapses to #labels. */
  private def prepareSplit(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val base = Sampling.rankedByClass(Tables(spark, sfDir, "embeddings"),
        "label", md5(concat(lit("42:"), col("vec_id").cast("string"))), "vec_id")
      .withColumn("is_train", col("rn") <= ceil(col("n_class") * 0.7).cast("long"))
    (base.filter(col("is_train")).select("vec_id", "embedding", "label"),
      base.filter(!col("is_train")).select("vec_id", "embedding", "label"))
  }

  /** Stage 2, train + persist (train_model.py:16-33 analog): the 2-stage
    * VectorAssembler -> RF pipeline — feature assembly is PERSISTED with
    * the classifier, so predict round-trips the full recipe via load. */
  private def trainAndSave(train: DataFrame, modelDir: String): Unit =
    graft.ml.MLQueries.pipeline()
      .fit(graft.ml.MLQueries.withAssemblerInputs(train))
      .write.overwrite().save(modelDir)

  /** Stage 3, produce: throttled JSON replay of the test split
    * (producer.py:30-43 analog); returns the records replayed. */
  private def produce(test: DataFrame, topicDir: String,
      replayBatch: Int): Long =
    Replay.replay(test, "vec_id", topicDir,
      batchSize = replayBatch, intervalMs = 0L)

  /** A loaded model and a broadcast of its last stage, the classifier. */
  private final case class Loaded(
      model: PipelineModel,
      classifier: Broadcast[ProbabilisticClassificationModel[MLVector, _]])

  /** Loaded models, keyed by model directory, Spark application (a
    * broadcast belongs to the SparkContext that made it) and a
    * fingerprint of the saved files, so a re-saved model (new UUID-named
    * part files) misses. A miss drops the directory's stale entry: at
    * most one model per directory, and the whole memo is bounded by
    * bytes. A dropped entry's broadcast is never destroyed here, since a
    * running query may still read it; Spark's ContextCleaner reclaims it
    * once nothing references it. Never handed to callers, so sharing one
    * instance across calls is safe. */
  private val models =
    new ByteLruCache[(String, String, Vector[(String, Long, Long)]), Loaded](
      () => ByteLruCache.DefaultBytes, l => SizeEstimator.estimate(l.model))

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

  /** The model saved in `dir` and its broadcast classifier, loaded from
    * disk and broadcast once per saved version. */
  private def loaded(spark: SparkSession, dir: String): Loaded = {
    val key = (dir, spark.sparkContext.applicationId, fingerprint(spark, dir))
    models.getOrCompute(key) {
      models.invalidateIf(k => k._1 == dir && k != key)
      val model = PipelineModel.load(dir)
      Loaded(model, spark.sparkContext.broadcast(classifier(model, dir)))
    }
  }

  /** The model saved in `dir`, loaded from disk once per saved version. */
  private[pipeline] def loadedModel(spark: SparkSession, dir: String): PipelineModel =
    loaded(spark, dir).model

  /** The last stage of `model` if it is a probabilistic classifier over
    * feature vectors; otherwise an IllegalArgumentException naming the
    * stage's class. */
  private def classifier(model: PipelineModel,
                         dir: String): ProbabilisticClassificationModel[MLVector, _] =
    model.stages.lastOption match {
      // the features type is erased; transformSchema checks it against a vector column
      case Some(c: ProbabilisticClassificationModel[_, _]) if Try(c.transformSchema(
          StructType(Seq(StructField(c.getFeaturesCol, SQLDataTypes.VectorType))))).isSuccess =>
        c.asInstanceOf[ProbabilisticClassificationModel[MLVector, _]]
      case last => throw new IllegalArgumentException(
        s"the model in $dir must end in a ProbabilisticClassificationModel over " +
          s"feature vectors; its last stage is ${last.fold("missing")(_.getClass.getName)}")
    }

  /** Number of loaded models held for `dir` (at most one). */
  private[pipeline] def cachedModels(dir: String): Int =
    models.keys.count(_._1 == dir)

  /** The stream `predict` writes: one JSON string per replayed record,
    * carrying vec_id, actual_label and predicted_label. The loaded
    * model's stages before the last (the assembler) run as they are;
    * `predicted_label` is one UDF over the broadcast classifier, whose
    * `predict` applies the same thresholds-or-argmax rule as the
    * `prediction` column of its `transform`. */
  private[pipeline] def scored(spark: SparkSession, a: Artifacts): DataFrame = {
    val Loaded(model, classifier) = loaded(spark, a.modelDir)
    // The wire carries only raw columns (recordSchema); the loaded 2-stage
    // model's assembler stage rebuilds `features` itself — predict derives
    // the assembler INPUTS (scalar summaries + vectorized embedding) and
    // nothing else, exactly predict.py:18's load-and-transform shape.
    // The embedding dim comes FROM the persisted model (assembled width
    // minus the 2 scalars), declared as vector-size metadata so the
    // assembler never needs a batch first() on the stream.
    val dim = classifier.value.numFeatures - 2
    val parsed = graft.ml.MLQueries.withAssemblerInputs(
      spark.readStream.schema(recordSchema).json(a.topicDir), Some(dim))
    val features = model.stages.init.foldLeft(parsed)((df, t) => t.transform(df))
    val label = udf((v: MLVector) => classifier.value.predict(v))
    features.select(to_json(struct(
      col("vec_id"),
      col("label").as("actual_label"),
      label(col(classifier.value.getFeaturesCol)).as("predicted_label"))).as("value"))
  }

  /** Stage 4: streaming score (predict.py:22-53 analog). Returns the
    * started query; callers await termination (AvailableNow drains the
    * replayed topic and stops). The model is loaded and its classifier
    * broadcast once per saved version and reused by later calls; a model
    * whose last stage is not a probabilistic classifier over feature
    * vectors is refused before any query starts. The checkpoint lives
    * under `outDir` (`_checkpoint`, hidden from file listings), so a
    * repeat call on the same Artifacts resumes where the last one stopped
    * and scores every record exactly once. The query starts through
    * `GraftSession.startShared`: it compiles no generated code that an
    * earlier call already compiled, also on a session the factory did not
    * build, while `spark`'s conf reads as before and the query stays in
    * `spark.streams`. */
  def predict(spark: SparkSession, a: Artifacts): StreamingQuery = {
    // text sink: one JSON string per line — the Kafka message-value shape
    val writer = scored(spark, a).writeStream
      .format("text")
      .option("path", a.outDir)
      .option("checkpointLocation", s"${a.outDir}/_checkpoint")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    GraftSession.startShared(spark)(writer.start())
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
      val (train, test) = prepareSplit(spark, sfDir)
      train.write.mode("overwrite").parquet(trainPath)
      test.write.mode("overwrite").parquet(testPath)
    }
    val train = Dag.Stage("train", deps = Seq("prepare"),
      isDone = () => new java.io.File(modelDir).exists) { () =>
      trainAndSave(spark.read.parquet(trainPath), modelDir)
    }
    val produceStage = Dag.Stage("produce", deps = Seq("prepare"),
      isDone = () => new java.io.File(topicDir).exists) { () =>
      produce(spark.read.parquet(testPath), topicDir, replayBatch): Unit
    }
    // the streaming text sink writes _spark_metadata (not _SUCCESS):
    // directory existence is the idempotence marker here
    val predictStage = Dag.Stage("predict", deps = Seq("train", "produce"),
      isDone = () => new java.io.File(outDir).exists) { () =>
      predict(spark, Artifacts(modelDir, topicDir, outDir, -1L))
        .awaitTermination()
    }
    val report = Dag.run(Seq(prepare, train, produceStage, predictStage), parallelism = 2)
    (report, Artifacts(modelDir, topicDir, outDir, -1L))
  }
}
