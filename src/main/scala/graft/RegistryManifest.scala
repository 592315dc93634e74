package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Generates `REGISTRY.json` — the machine-readable coverage manifest
  * (r12 VERDICT item 8): one entry per registry key with its module,
  * oracle coverage, attributed spec files, and the durable corpus
  * indexes the query rides
  * ([[graft.sources.CorpusIndex.recordingDeps]] — recorded at
  * construction time, so `localCheckpoint` plan truncation cannot hide
  * a dependency). `RegistrySmokeSpec` asserts the committed manifest
  * stays in sync with `SparkEntry`.
  *
  * Usage: runMain graft.RegistryManifest [sfDir] (default sf0.001 — the
  * construction pass resolves every query once, building any missing
  * index at the smallest scale).
  */
object RegistryManifest {

  /** Test files that reference each module object (simple name + dot) —
    * module-grain spec attribution, rescanned at generation time so a
    * renamed or added spec shows up on the next regeneration.
    */
  private def moduleSpecs(testRoot: java.io.File): Map[String, Seq[String]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val files = walk(testRoot).map(f =>
      f.getPath -> new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    SparkEntry.modules.map { case (mod, _, _) =>
      val simple = mod.split('.').last + "."
      mod -> files.collect {
        case (p, txt) if txt.contains(simple) =>
          p.replaceFirst("^.*?src/test/", "src/test/")
      }.sorted
    }.toMap
  }

  /** One manifest entry: a registry key and what the manifest records
    * about it.
    */
  private[graft] case class Entry(key: String, module: String, oracle: Boolean,
      indexes: Seq[String], moduleSpecs: Seq[String])

  /** The `REGISTRY.json` text: a header, then one entry per line in the
    * given order. Jackson writes every value, so any character in a key
    * or path comes back as written.
    */
  private[graft] def render(sfDir: String, entries: Seq[Entry]): String = {
    import scala.jdk.CollectionConverters._
    val head = Bench.json(Bench.obj("n_keys" -> entries.size,
      "generated_by" -> "runMain graft.RegistryManifest", "sf" -> sfDir))
    val rows = entries.map(e => Bench.json(Bench.obj("key" -> e.key,
      "module" -> e.module, "oracle" -> e.oracle, "indexes" -> e.indexes.asJava,
      "module_specs" -> e.moduleSpecs.asJava)))
    head.stripSuffix("}") + rows.mkString(",\"entries\":[\n  ", ",\n  ", "\n]}\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    val cwd = Paths.get(sys.props.getOrElse("user.dir", "."))
    val specs = moduleSpecs(cwd.resolve("src/test/scala").toFile)
    val oracles = SparkEntry.oracleSql.keySet
    val entries = SparkEntry.modules.flatMap { case (mod, qs, _) =>
      qs.keys.toSeq.map { key =>
        // construction-time dependency recording; shared frames cleared
        // per key so a shared chain's indexes attribute to EVERY rider,
        // not just the first key that happened to build the frame
        Tables.clearShared(spark)
        val deps =
          try sources.CorpusIndex.recordingDeps(qs(key)(spark, sfDir))._2
          catch { case scala.util.control.NonFatal(_) => Set("<construction-error>") }
        Entry(key, mod, oracles(key), deps.toSeq.sorted, specs.getOrElse(mod, Seq.empty))
      }
    }.sortBy(_.key)
    Files.write(cwd.resolve("REGISTRY.json"),
      render(sfDir, entries).getBytes(StandardCharsets.UTF_8))
    println(s"REGISTRY.json: ${entries.size} keys")
    spark.stop()
  }
}
