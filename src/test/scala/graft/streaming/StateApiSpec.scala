package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Keyed streaming state has one API in src/main, `transformWithState`,
  * whose state store enforces TTLs itself: the legacy group-state
  * operators cannot come back beside it.
  */
class StateApiSpec extends AnyFunSuite {

  test("src/main calls no mapGroupsWithState or flatMapGroupsWithState") {
    val legacy = """(?:flatMap|map)GroupsWithState""".r
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    val walk = Files.walk(root.resolve("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.size > 50, s"source walk found only ${sources.size} files")
    val users = sources
      .filter(p => legacy.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined)
      .map(p => root.relativize(p).toString)
    assert(users.isEmpty, s"legacy group-state API in $users")
  }
}
