package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The durable dedup-chain index: content parity with a fresh build,
  * Exchange-free consumption on the bucket key, cross-session
  * re-registration from the published files, and fingerprint
  * invalidation when the corpus changes.
  */
class CorpusIndexSpec extends SparkSpec {

  test("persisted labels satisfy the label-frame contract (doc set, pair co-membership)") {
    val labels = graft.ext.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(labels.keySet == docs, "every document gets a label")
    val pairs = graft.ext.Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has near-dup pairs (non-vacuous)")
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // canonical = the component minimum ⇒ every canonical labels itself
    labels.values.toSet.foreach((c: Long) => assert(labels(c) == c))
  }

  test("canonical-key consumers reduce with NO Exchange over the bucketed label scan") {
    graft.ext.Dedup.dedupClusters(spark, sf).count() // ensure published
    val fp = CorpusIndex.fingerprint(sf, Seq("documents"))
    val t = spark.table(s"graft_idx_labels_minhash${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}_$fp")
    val agg = t.groupBy("canonical").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed label aggregation should be Exchange-free:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"scan is not bucketed:\n$plan")
  }

  test("a new session re-registers the published index without rebuilding") {
    graft.ext.Dedup.dedupClusters(spark, sf).count() // ensure published
    val fp = CorpusIndex.fingerprint(sf, Seq("documents"))
    val table = s"graft_idx_labels_minhash${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}_$fp"
    val before = spark.table(table).collect().toSet
    val root = new File(sys.props("user.dir"), "target/graft-index")
    val dir = new File(root, s"labels_minhash${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}_$fp")
    val mtimes = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    // simulate a later driver: the catalog entry is gone, the files stay
    spark.sql(s"DROP TABLE $table")
    graft.Tables.clearShared(spark)
    val again = graft.ext.Dedup.dedupClusters(spark, sf).collect().toSet
    assert(again == before, "re-registered index must serve identical rows")
    val after = dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == mtimes, "re-registration must not rewrite any file")
  }

  test("buildAll publishes every index and is idempotent") {
    val first = CorpusIndex.buildAll(spark, sf).toMap
    val pairTag = s"${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}"
    assert(first.keySet == Set("token_hashes", "shingle_postings",
      "shingle_cooccur", "dup_spans", s"minhash_sketch${graft.ext.Dedup.geomTag}",
      s"lsh_pairs$pairTag", s"labels_minhash$pairTag",
      s"labels_minhash_old$pairTag", s"labels_exact_lsh$pairTag",
      "embed_pairs", "labels_embed", "term_freq", "gram_base"))
    assert(first.values.forall(_ > 0L), s"empty index: $first")
    // second call is pure reads — identical counts, no rewrites
    assert(CorpusIndex.buildAll(spark, sf).toMap == first)
  }

  test("an EMPTY build publishes and re-reads with schema intact") {
    import org.apache.spark.sql.functions._
    val empty = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).limit(0)
    val got = CorpusIndex.ensureBucketed(spark, "test_empty", sf,
      Seq("documents"), "doc_id")(empty)
    assert(got.count() == 0L)
    assert(got.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
    // survives re-registration (sidecar carries the schema — there are
    // no data files to infer from)
    val fp = CorpusIndex.fingerprint(sf, Seq("documents"))
    spark.sql(s"DROP TABLE graft_idx_test_empty_$fp")
    val again = CorpusIndex.ensureBucketed(spark, "test_empty", sf,
      Seq("documents"), "doc_id")(sys.error("must not rebuild"))
    assert(again.count() == 0L &&
      again.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
  }

  test("publish writes exactly ONE file per non-empty bucket, even for a union build") {
    // the lsh_pairs regression shape (r15): a build whose final stage is
    // a UNION of per-band frames, each already hash-partitioned on the
    // key — fused into one write query the optimizer elides the
    // publish repartition and every union leg writes its own file per
    // bucket (190-256 tiny files for a 4 MB table). The checkpoint
    // barrier in publish must keep the layout at one sorted file per
    // bucket regardless of the build's plan.
    import spark.implicits._
    val base = graft.Tables.documents(spark, sf).select(col("doc_id"))
    val unionBuild = (0 until 4)
      .map(i => base.filter(pmod(col("doc_id"), lit(4)) === i)
        .repartition(8, col("doc_id")))
      .reduce(_ unionByName _)
    val got = CorpusIndex.ensureBucketed(spark, "test_union_layout", sf,
      Seq("documents"), "doc_id")(unionBuild)
    assert(got.count() == base.count())
    val fp = CorpusIndex.fingerprint(sf, Seq("documents"))
    val dir = new File(sys.props("user.dir"),
      s"target/graft-index/test_union_layout_$fp")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    val buckets = spark.sessionState.conf.numShufflePartitions
    assert(files.length <= buckets,
      s"one file per bucket expected (<= $buckets), got ${files.length}")
    // one file PER bucket id — no bucket split across files
    val bucketIds = files.map(_.getName.replaceAll(""".*_(\d+)\.c000.*""", "$1"))
    assert(bucketIds.distinct.length == bucketIds.length,
      s"bucket split across multiple files: ${bucketIds.mkString(",")}")
  }

  test("an index read records the same dependencies cold and warm") {
    // a copy with fresh mtimes has its own fingerprint, so its indexes
    // start cold: the first read builds dup_spans and, inside that
    // build, token_hashes
    val corpus = Files.createTempDirectory("graft-corpus-deps")
    val root = Files.createTempDirectory("graft-index-deps")
    val src = Paths.get(sf, "documents.parquet")
    val dst = corpus.resolve("documents.parquet")
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).forEach(p => Files.copy(p, dst.resolve(p.getFileName)))
    } else Files.copy(src, dst)
    spark.conf.set("spark.graft.index.dir", root.toString)
    try {
      def deps = CorpusIndex.recordingDeps(
        graft.ext.Dedup.substringSpans(spark, corpus.toString))._2
      val cold = deps
      assert(new File(root.toFile, "token_hashes_" +
        CorpusIndex.fingerprint(corpus.toString, Seq("documents"))).isDirectory,
        "the cold read must have built token_hashes")
      assert(cold == Set("dup_spans"), s"cold: $cold")
      assert(deps == Set("dup_spans"), "warm")
    } finally {
      spark.conf.unset("spark.graft.index.dir")
      CorpusIndex.deleteRecursively(root)
      CorpusIndex.deleteRecursively(corpus)
    }
  }

  test("vacuum drops orphaned fingerprints and temp dirs, keeps live ones") {
    graft.ext.Dedup.dedupClusters(spark, sf).count() // ensure live index
    val root = new File(sys.props("user.dir"), "target/graft-index")
    val orphan = new File(root, "labels_minhash_deadbeef0123")
    val crashed = new File(root, "labels_minhash_deadbeef0123.tmp.1.2")
    Files.createDirectories(orphan.toPath)
    Files.createDirectories(crashed.toPath)
    val fp = CorpusIndex.fingerprint(sf, Seq("documents"))
    val gone = CorpusIndex.vacuum(spark,
      Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1", "/tmp/sf1s"))
    assert(!orphan.exists() && !crashed.exists(),
      s"orphans must be deleted (vacuumed: $gone)")
    assert(new File(root, s"labels_minhash${graft.ext.Dedup.geomTag}${graft.ext.Dedup.capTag}_$fp").exists(),
      "live index must survive vacuum")
    // and it still serves
    assert(graft.ext.Dedup.dedupClusters(spark, sf).count() > 0)
  }

  test("corpus fingerprint: a changed source file forces a fresh index") {
    // copy the corpus into a temp dir — its own fingerprint
    val tmp = Files.createTempDirectory("graft-corpus-fp")
    for (t <- Seq("documents")) {
      val src = Paths.get(sf, s"$t.parquet")
      if (Files.isDirectory(src)) {
        val dst = tmp.resolve(s"$t.parquet")
        Files.createDirectories(dst)
        Files.list(src).forEach(p =>
          Files.copy(p, dst.resolve(p.getFileName),
            StandardCopyOption.COPY_ATTRIBUTES))
      } else Files.copy(src, tmp.resolve(s"$t.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    }
    val fp1 = CorpusIndex.fingerprint(tmp.toString, Seq("documents"))
    // touch the corpus: same bytes, new mtime — a rewritten snapshot
    val f = {
      val p = tmp.resolve("documents.parquet")
      if (Files.isDirectory(p))
        Files.list(p).filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
      else p
    }
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val fp2 = CorpusIndex.fingerprint(tmp.toString, Seq("documents"))
    assert(fp1 != fp2, "fingerprint must change when a source file changes")
    // and identical metadata ⇒ identical fingerprint (shared index)
    assert(fp2 == CorpusIndex.fingerprint(tmp.toString, Seq("documents")))
  }
}
