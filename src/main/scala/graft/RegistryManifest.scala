package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Generates `REGISTRY.json` — the machine-readable coverage manifest
  * (r12 VERDICT item 8): one entry per registry key with its module,
  * oracle coverage, attributed spec files, the most recently measured
  * decade exponent (parsed from PLANS.md's sweep tables), and the
  * durable corpus indexes the query rides
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

  /** Latest measured decade exponent per registry key, parsed from
    * PLANS.md's markdown sweep tables: any table whose header has a
    * column starting with "exp", rows whose first cell leads with a
    * registry-key-shaped token. Later tables (later rounds) override
    * earlier ones; rows annotated "pre-fix" are superseded measurements
    * and skipped.
    */
  private[graft] def parseExponents(plans: String): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val keyRe = "^([a-z][a-z0-9_]+)".r
    val numRe = "([0-9]+\\.[0-9]+|~0)".r
    var expCol = -1
    for (line <- plans.linesIterator) {
      val t = line.trim
      if (!t.startsWith("|")) expCol = -1
      else {
        val cells = t.stripPrefix("|").stripSuffix("|").split("\\|")
          .map(_.trim).toSeq
        val isHeader = cells.exists(c => c.toLowerCase.startsWith("exp"))
        val isRule = cells.forall(_.matches("[-: ]*"))
        if (isHeader && cells.headOption.exists(h =>
            h.toLowerCase.matches("query|key|.*\\bkey\\b.*")))
          expCol = cells.indexWhere(_.toLowerCase.startsWith("exp"))
        else if (!isRule && expCol >= 0 && expCol < cells.size &&
            !cells.head.contains("pre-fix"))
          for (k <- keyRe.findFirstIn(cells.head);
               v <- numRe.findFirstIn(cells(expCol).replace("*", "")))
            out(k) = if (v == "~0") 0.0 else v.toDouble
      }
    }
    out.toMap
  }

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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local()
    val cwd = Paths.get(sys.props.getOrElse("user.dir", "."))
    val exps = parseExponents(new String(
      Files.readAllBytes(cwd.resolve("PLANS.md")), StandardCharsets.UTF_8))
    val specs = moduleSpecs(cwd.resolve("src/test/scala").toFile)
    val oracles = SparkEntry.oracleSql.keySet
    val entries = SparkEntry.modules.flatMap { case (mod, qs, _) =>
      qs.keys.toSeq.sorted.map { key =>
        // construction-time dependency recording; memos cleared per key
        // so a shared chain's indexes attribute to EVERY rider, not
        // just the first key that happened to build the memo
        ext.Dedup.clearMemos(spark)
        val deps =
          try sources.CorpusIndex.recordingDeps(qs(key)(spark, sfDir))._2
          catch { case scala.util.control.NonFatal(_) => Set("<construction-error>") }
        val exp = exps.get(key).map(_.toString).getOrElse("null")
        val specList = specs.getOrElse(mod, Seq.empty)
          .map("\"" + _ + "\"").mkString("[", ",", "]")
        val depList = deps.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        key ->
          s"""{"key":"$key","module":"$mod","oracle":${oracles(key)},"decade_exp":$exp,"indexes":$depList,"module_specs":$specList}"""
      }
    // sort on the key BEFORE rendering — re-parsing the rendered JSON
    // positionally (split on '"') breaks silently if the field order
    // changes or a key ever contains an escaped quote
    }.sortBy(_._1).map(_._2)
    val json = new StringBuilder()
    json ++= s"""{"n_keys":${entries.size},"""
    json ++= s""""generated_by":"runMain graft.RegistryManifest","sf":"$sfDir","""
    json ++= s""""note":"decade_exp is the most recent PLANS.md sweep measurement; null = not individually swept (family-covered or sub-second)","""
    json ++= "\"entries\":[\n  "
    json ++= entries.mkString(",\n  ")
    json ++= "\n]}\n"
    Files.write(cwd.resolve("REGISTRY.json"),
      json.toString.getBytes(StandardCharsets.UTF_8))
    println(s"REGISTRY.json: ${entries.size} keys, " +
      s"${exps.keySet.intersect(SparkEntry.queries.keySet).size} with exponents")
    spark.stop()
  }
}
