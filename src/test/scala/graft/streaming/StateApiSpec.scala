package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Keyed streaming state has one API in src/main, `transformWithState`,
  * whose state store enforces TTLs itself, and one processor on it,
  * `StreamApply.keyedState`'s: the legacy group-state operators cannot
  * come back beside it, and no view spells its own processor out again.
  */
class StateApiSpec extends AnyFunSuite {

  /** The src/main sources whose text `pattern` matches, relative to the
    * project root.
    */
  private def mainSourcesMatching(pattern: scala.util.matching.Regex): List[String] = {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    val walk = Files.walk(root.resolve("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.size > 50, s"source walk found only ${sources.size} files")
    sources
      .filter(p => pattern.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined)
      .map(p => root.relativize(p).toString)
  }

  test("src/main calls no mapGroupsWithState or flatMapGroupsWithState") {
    val users = mainSourcesMatching("""(?:flatMap|map)GroupsWithState""".r)
    assert(users.isEmpty, s"legacy group-state API in $users")
  }

  test("StatefulProcessor appears in src/main only in StreamApply") {
    val users = mainSourcesMatching("""StatefulProcessor""".r)
    assert(users == List("src/main/scala/graft/streaming/StreamApply.scala"),
      s"StatefulProcessor outside StreamApply.keyedState: $users")
  }
}
