package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** README's Running section documents every environment variable
  * `src/main` reads, and nothing else: a knob cannot be added or
  * dropped on one side without this spec failing.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props.getOrElse("user.dir", "."))

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("the env vars src/main reads are exactly those README's Running section documents") {
    val walk = Files.walk(root.resolve("src/main"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map(read).toList
      finally walk.close()
    val anyRead = """sys\.env\b|System\.getenv\b""".r
    val literalRead =
      """(?:sys\.env(?:\.(?:get|getOrElse|contains))?|System\.getenv)\s*\(\s*"([A-Z0-9_]+)"""".r
    // a variable read under a computed name would escape the census
    assert(sources.map(anyRead.findAllIn(_).size).sum ==
      sources.map(literalRead.findAllIn(_).size).sum,
      "an env read whose name is not a string literal")
    val readNames = sources.flatMap(literalRead.findAllMatchIn(_).map(_.group(1))).toSet

    val readme = read(root.resolve("README.md"))
    val start = readme.indexOf("\n## Running")
    assert(start >= 0, "README has no Running section")
    val end = readme.indexOf("\n## ", start + 1)
    val running = readme.substring(start, if (end < 0) readme.length else end)
    // upper-case words with an underscore, not file names such as X_Y.json
    val documented = """\b[A-Z][A-Z0-9]*(?:_[A-Z0-9]+)+\b(?!\.[a-z])""".r
      .findAllIn(running).toSet

    assert(readNames.size >= 10, s"census found only $readNames")
    assert(readNames == documented,
      s"read but undocumented: ${readNames -- documented}; " +
        s"documented but not read: ${documented -- readNames}")
  }
}
