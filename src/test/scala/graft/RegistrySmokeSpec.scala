package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The committed REGISTRY.json must stay in sync with the live
  * registry: same key set, same per-key oracle coverage, module names
  * from `SparkEntry.modules`. Regenerate with
  * `runMain graft.RegistryManifest` whenever a key is added.
  */
class RegistrySmokeSpec extends AnyFunSuite {

  private lazy val root = {
    val p = Paths.get(sys.props.getOrElse("user.dir", "."), "REGISTRY.json")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  test("manifest keys match SparkEntry.queries exactly") {
    val entries = root.get("entries")
    val keys = (0 until entries.size())
      .map(i => entries.get(i).get("key").asText()).toSet
    assert(keys == SparkEntry.queries.keySet,
      s"stale REGISTRY.json — regenerate (missing: ${
        SparkEntry.queries.keySet -- keys}, extra: ${keys -- SparkEntry.queries.keySet})")
    assert(root.get("n_keys").asInt() == entries.size())
  }

  test("per-key oracle flags and module names are live values") {
    val mods = SparkEntry.modules.map(_._1).toSet
    val oracles = SparkEntry.oracleSql.keySet
    val entries = root.get("entries")
    (0 until entries.size()).foreach { i =>
      val e = entries.get(i)
      val k = e.get("key").asText()
      assert(mods.contains(e.get("module").asText()), s"$k: unknown module")
      assert(e.get("oracle").asBoolean() == oracles.contains(k),
        s"$k: oracle flag diverged")
      assert(e.get("indexes").isArray && e.get("module_specs").isArray)
    }
  }

  test("no cross-module key collisions — Map ++ would shadow silently") {
    // SparkEntry.queries is a ++ union of the module maps; a key
    // declared twice (e.g. a new module reusing an old number) would
    // silently drop one implementation and the oracle comparison would
    // test the WRONG query under the right name. Guard the invariant
    // that the union is collision-free, module by module.
    val owners = SparkEntry.modules
      .flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }
      .groupBy(_._1).filter(_._2.length > 1)
    assert(owners.isEmpty,
      s"key(s) declared in multiple modules: " +
        owners.map { case (k, ms) =>
          s"$k(${ms.map(_._2).mkString("+")})" }.mkString(", "))
    assert(SparkEntry.modules.map(_._2.size).sum == SparkEntry.queries.size,
      "union size diverges from module sizes — a key was shadowed")
    assert(SparkEntry.modules.map(_._3.size).sum == SparkEntry.oracleSql.size,
      "oracle union size diverges — an oracle entry was shadowed")
  }

  test("oracle keys are a subset of query keys") {
    // an orphaned oracle entry (query renamed, oracle left behind)
    // would otherwise be silently dropped by the driver's comparison
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("a rendered manifest with a quote and a backslash parses back") {
    val sf = "/data/sf\"0.01\\run"
    val entries = Seq(
      RegistryManifest.Entry("a1_\"x\\", "ext.T\"", oracle = true,
        Seq("idx\\\"1"), Seq("src/test/\"A\".scala")),
      RegistryManifest.Entry("b2", "cdc.C", oracle = false, Nil, Nil))
    val text = RegistryManifest.render(sf, entries)
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(back.get("sf").asText == sf && back.get("n_keys").asInt == 2)
    val es = back.get("entries")
    assert(es.size == 2)
    entries.zipWithIndex.foreach { case (e, i) =>
      val j = es.get(i)
      def strs(f: String) = (0 until j.get(f).size).map(j.get(f).get(_).asText)
      assert(j.get("key").asText == e.key && j.get("module").asText == e.module)
      assert(j.get("oracle").asBoolean == e.oracle)
      assert(strs("indexes") == e.indexes && strs("module_specs") == e.moduleSpecs)
    }
    // one entry per line, as the committed file reads
    assert(text.linesIterator.count(_.startsWith("  {\"key\"")) == 2)
  }
}
