package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import graft.pipeline.FraudPipeline
import graft.streaming.Replay

/** A warm fraud scoring cycle and a copy-on-write INSERT start no child
  * process through Hadoop's `Shell` (`chmod`, `readlink`, `ls`): the
  * local filesystem answers those calls in-process. Process starts are
  * recorded with JFR's `jdk.ProcessStart` event and its stack trace. */
class NoShellSpawnSpec extends graft.SparkSpec {

  private def shellSpawns(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft_spawns_", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
          e.getStackTrace.getFrames.asScala.exists(
            _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")
      }
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  test("a warm predict cycle and a CoW INSERT fork no Hadoop shell command") {
    val work = Files.createTempDirectory("graft_nospawn_").toString
    val base = FraudPipeline.prepareTrainProduce(spark, sfDir, s"$work/base")
    val rows = spark.read.schema(FraudPipeline.recordSchema).json(base.topicDir)
      .orderBy("vec_id").limit(20).collect().toSeq.asJava
    def cycle(name: String): Unit = {
      val a = base.copy(topicDir = s"$work/$name/input", outDir = s"$work/$name/predictions")
      Replay.replay(spark.createDataFrame(rows, FraudPipeline.recordSchema), "vec_id",
        a.topicDir, batchSize = 5)
      FraudPipeline.predict(spark, a).awaitTermination()
      assert(FraudPipeline.readPredictions(spark, a).count() == rows.size)
    }
    spark.conf.set("spark.sql.catalog.nospawn", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.nospawn.warehouse", s"$work/graftcat")
    spark.sql("""CREATE TABLE nospawn.default.t (k BIGINT, v STRING)
      TBLPROPERTIES ('graft.mode'='cow')""")
    def insert(k: Long): Unit = spark.sql(s"""INSERT INTO nospawn.default.t
      SELECT id AS k, CAST(id AS STRING) AS v FROM range($k, ${k + 10})""")

    // warm: the first cycle loads the model, the first insert the table
    cycle("c0"); insert(0)
    val spawns = shellSpawns { cycle("c1"); insert(100) }
    assert(spark.table("nospawn.default.t").count() == 20)
    val cmds = spawns.map(_.getString("command"))
    assert(cmds.isEmpty, s"— Hadoop Shell started ${cmds.size} processes")
  }
}
