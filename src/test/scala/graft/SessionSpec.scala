package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Session.local]] is the one session setup: every graft main and the
  * test suite get their settings from it, so they cannot drift apart.
  */
class SessionSpec extends SparkSpec {

  test("graft.Session holds the only SparkSession builder in src/main and src/test") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    val sources = Seq("src/main", "src/test").flatMap { d =>
      val walk = Files.walk(root.resolve(d))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 100, s"source walk found only ${sources.size} files")
    val builders = sources
      .filter(p => builderCall.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined)
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("src/main/scala/graft/Session.scala"))
  }

  test("the test session carries the factory's settings") {
    // the SparkContext's conf is the one the session started with;
    // specs may change runtime SQL confs later, not these
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(Session.CodegenCacheEntries == 4096)
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf.get("spark.hadoop.fs.file.impl") == "graft.io.NioLocalFileSystem")
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") == "graft.io.NioLocalFs")
    assert(Session.local(cores = 4, shuffle = Some(4)) eq spark,
      "a second call must return the live session")
  }
}
