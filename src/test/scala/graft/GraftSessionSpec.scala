package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one home of engine configuration: the spec
  * session runs the factory's engine, and no other file in `src/main`
  * builds a session, binds `graft_cat` or sets artifact isolation by
  * hand. */
class GraftSessionSpec extends SparkSpec {

  test("the spec session holds every factory engine key at the factory's value") {
    val conf = spark.sparkContext.getConf
    GraftSession.engineConf(4).foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v),
        s"$k: spec ${conf.getOption(k)}, factory $v")
    }
  }

  test("only GraftSession.scala builds a session or names the graft_cat key") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), Paths.get("").toAbsolutePath)
    val sources: Seq[Path] = {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally st.close()
    }
    def count(src: String, needle: String): Int =
      Iterator.iterate(src.indexOf(needle))(i => src.indexOf(needle, i + 1))
        .takeWhile(_ >= 0).size
    Seq("SparkSession.builder()", "\"spark.sql.catalog.graft_cat\"",
        "\"spark.sql.artifact.isolation.enabled\"").foreach {
      needle =>
        val elsewhere = sources
          .filterNot(_.getFileName.toString == "GraftSession.scala")
          .map(p => p -> count(Files.readString(p), needle)).filter(_._2 > 0)
        assert(elsewhere.isEmpty, s"$needle: ${elsewhere.map(_._2).sum} " +
          s"sites outside GraftSession.scala, in ${elsewhere.map(_._1)}")
    }
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
  }
}
