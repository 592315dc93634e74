package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Portable._

/** Training-data deduplication over the `documents` table — the operator
  * family a 100 TB corpus pipeline runs before anything else. Five
  * techniques, each with a DuckDB oracle:
  *
  *   - exact (hash-groupBy) — the only one that is O(n) with one shuffle;
  *   - blocked n-gram Jaccard — exact pairwise similarity, contained by a
  *     blocking key so the quadratic term is per-block;
  *   - MinHash + LSH banding — the scale path for global near-dup: O(n)
  *     signatures map-side, candidates only where a band collides;
  *   - SimHash — one 32-bit sketch per doc, near-dup = small Hamming
  *     distance, candidate generation by byte-band equality;
  *   - embedding cosine near-dup — LSH over random hyperplanes (an
  *     OR-construction of 4 tables × 4 planes), exact cosine only within
  *     a bucket.
  *
  * Scale notes (local[32] tests at sf0.01; design target 1000 executors):
  * signatures/sketches are computed with array higher-order functions
  * (`transform`/`aggregate`) inside the scan projection — no explode, no
  * shuffle until the candidate join. Candidate joins shuffle on small
  * integer keys (band id, bucket), never on document text; doc text is
  * re-joined only for the final exact check on the (much smaller)
  * candidate set.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  // ---- shared shapes ----------------------------------------------------

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** Jaccard-thresholded pair output, evaluated ONCE per pair: the
    * intersection size and total size materialize in one projection
    * (subexpression-eliminated), the threshold runs behind an optimizer
    * barrier so it cannot be substituted back into the join condition,
    * and the output rounds the same scalar. See [[Portable.barrierFilter]].
    *
    * `a` and `b` MUST be sorted ascending and duplicate-free: the
    * intersection size comes from the allocation-free merge walk of
    * [[graft.functions.SortedIntersectCount]] (≈3× the throughput of
    * `size(array_intersect(...))` on multi-million-pair candidate sets;
    * identical value — cardinality is order-insensitive).
    */
  private def jaccardPairs(pairs: DataFrame, a: Column, b: Column,
      threshold: Double, thresholdFrac: (Int, Int)): DataFrame = {
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    val (num, den) = thresholdFrac
    require(num.toDouble / den == threshold, "prefilter fraction must equal the threshold")
    // Exact integer necessary condition for jac >= num/den: the best case
    // is inter == min(|a|,|b|), so (den+num)*min >= num*(|a|+|b|) must
    // hold. Cheap scalars — Catalyst folds it into the join condition, so
    // most pairs never reach the intersection. (A double-rounding at the
    // jac boundary is ~1e-16; the integer bound only cuts pairs at least
    // 1/(den*|a∪b|) below the threshold, so it can never disagree with
    // the exact filter below.)
    val prefiltered = pairs.filter(
      least(size(a), size(b)) * (den + num) >= (size(a) + size(b)) * num)
    val scored = prefiltered.select(col("doc_a"), col("doc_b"),
      sortedIntersectCount(a, b).as("inter"),
      (size(a) + size(b)).cast("long").as("stot"))
    val jacRaw = col("inter").cast("double") /
      (col("stot") - col("inter")).cast("double")
    barrierFilter(scored, jacRaw >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jacRaw, 6).as("jac"))
  }

  private def jaccardSql(a: String, b: String): String =
    s"(len(list_intersect($a, $b)) * 1.0 / " +
      s"(len($a) + len($b) - len(list_intersect($a, $b))))"

  // ---- d1: exact dedup --------------------------------------------------

  /** Exact dedup: group by content digest, keep the lowest doc_id as
    * canonical. Grouping on the 32-byte digest (not the text) keeps the
    * shuffle narrow at 100 TB — the full text never moves.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  // ---- d2: blocked n-gram Jaccard --------------------------------------

  /** 3-token shingle-hash set (oracle side): shingle i ↦
    * ((h_i·31 + h_{i+1})·31 + h_{i+2}) mod P over the token-hash list —
    * one md5 per TOKEN, the shingle itself pure arithmetic (max value
    * < 31²·P < 2^41, no overflow). The Spark side computes the identical
    * values relationally in [[shingleFrame]].
    */
  private[ext] val shingleHashesSql =
    s"list_distinct(list_transform(range(1, len(hs) - 1), " +
      s"i -> ((hs[i] * 31 + hs[i+1]) * 31 + hs[i+2]) % $P))"

  /** Distinct 3-gram shingle hashes per document — `(doc_id, source,
    * shingle)`, persisted as the `shingle_postings` corpus index
    * ([[graft.sources.CorpusIndex]]): [[ngramJaccard]] (near-dup
    * blocking), [[Prep.contamination]] and its removal filter all read
    * the same table, so the shingle pipeline (md5 + two window shuffles
    * + distinct) runs once per corpus snapshot — the shingle table a
    * 100 TB pipeline writes once and scans per consumer.
    *
    * Fully-relational shingle construction — no array columns at all.
    * (An earlier array formulation bound the token-hash array and read
    * it inside a transform lambda; CollapseProject inlined the binding
    * into every lambda element read, re-evaluating the md5 array per
    * shingle — a measured ~20× blowup. Rows + windows have no such
    * hazard.) One md5 per token, shingle hash from the lead-pair, then
    * distinct — each step a plain relational op Catalyst can't
    * pessimize.
    */
  private[graft] def shingleFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, "shingle_postings",
      sfDir, Seq("documents"), "doc_id")(buildShingleFrame(spark, sfDir))

  /** Positional token hashes `(doc_id, source, pos, h)` — one md5 per
    * token in the corpus, persisted as a bucketed corpus index
    * ([[graft.sources.CorpusIndex]]): the 3-gram shingle pipeline (d2
    * and its Prep consumers) and the duplicated-substring spans (d12)
    * both derive from this one frame, and at 100 TB this IS the token
    * table a pipeline writes once per corpus snapshot and scans per
    * consumer — the index makes that literal: built on first touch,
    * durable across drivers, invalidated by the corpus fingerprint.
    */
  private[graft] def tokenHashFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, "token_hashes",
      sfDir, Seq("documents"), "doc_id")(
      docs(spark, sfDir)
        .select(col("doc_id"), col("source"),
          posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("source"), col("pos"),
          tokenHash(col("tok")).as("h")))

  private def buildShingleFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    tokenHashFrame(spark, sfDir)
      .select(col("doc_id"), col("source"),
        ((col("h") * 31L + lead("h", 1).over(w)) * 31L + lead("h", 2).over(w)) % P)
      .toDF("doc_id", "source", "shingle")
      .filter(col("shingle").isNotNull)
      .distinct()
  }

  /** Near-dup by exact 3-gram Jaccard, blocked on `source`: the quadratic
    * pair join runs per block, so cost is Σ block² not n². The global
    * (unblocked) variant at scale is d3.
    */
  /** Posting-list cap: shingles whose per-block document frequency
    * exceeds this are dropped from the index entirely (both from the
    * co-occurrence join AND from the per-doc set sizes — standard
    * stopword-shingle removal, mirrored 1:1 in the oracle). A df-`f`
    * shingle contributes f·(f-1)/2 co-occurrence rows, so one
    * stopword-like shingle in an adversarial corpus turns the linear
    * posting join quadratic; the cap bounds any shingle's contribution at
    * cap²/2. NOT binding on the test corpora (max df 6 at sf0.1) — the
    * oracle hash is unchanged there; the synthetic-hot-shingle unit test
    * exercises the binding case.
    */
  private[ext] val HotShingleCap = 128L

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardFrom(coOccurFrame(spark, sfDir))

  /** The d2/d14 shared co-occurrence engine output as a PERSISTED corpus
    * index: `(doc_a, doc_b, na, nb, inter)` for every document pair
    * sharing at least one (df-capped) shingle — the materialized
    * exact-overlap relation both the Jaccard and the containment
    * thresholds read. Pair-count bounded by shared structure (62k rows
    * at sf0.1 against 623k blocked pairs), so the index is SMALLER than
    * the postings that build it.
    */
  private[graft] def coOccurFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, "shingle_cooccur",
      sfDir, Seq("documents"), "doc_a")(
      coOccurrence(shingleFrame(spark, sfDir), HotShingleCap))

  /** Posting-list co-occurrence `(doc_a < doc_b, na, nb, inter)` over a
    * `(doc_id, source, shingle)` frame — the shared engine of d2 (exact
    * Jaccard) and d14 (asymmetric containment).
    *
    * Inverted-index formulation: self-join postings on (source, shingle)
    * so only pairs that SHARE a shingle materialize, and the
    * intersection size is a count — never a per-pair array
    * intersection. Shingles are rare (max document-frequency 6 at
    * sf0.1), so the co-occurrence join emits ~62k rows where blocked
    * all-pairs would intersect 623k array pairs. This is the
    * exact-overlap shape that scales: cost follows shared structure,
    * not block², and the df cap bounds what any one shingle can
    * contribute.
    */
  private def coOccurrence(sh: DataFrame, cap: Long): DataFrame = {
    val dfreq = sh.groupBy("source", "shingle").agg(count(lit(1)).as("df"))
    val kept = sh.join(dfreq.filter(col("df") <= cap).select("source", "shingle"),
      Seq("source", "shingle"))
    val sized = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // sized is one row per document — corpus-sized, so no broadcast hint:
    // the join keys on doc_id and shuffles narrowly (two longs per row).
    // At local scale AQE still turns it into a broadcast from its size
    // ESTIMATE, which is the correct, scale-gated behavior.
    val postings = kept.join(sized, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n"), col("shingle"))
    postings.alias("a")
      .join(postings.alias("b"),
        col("a.source") === col("b.source") &&
          col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Exact blocked Jaccard over an arbitrary `(doc_id, source, shingle)`
    * frame — the injectable core of d2.
    */
  private[ext] def ngramJaccardOf(sh: DataFrame, cap: Long): DataFrame =
    ngramJaccardFrom(coOccurrence(sh, cap))

  private def ngramJaccardFrom(co: DataFrame): DataFrame = {
    val jacRaw = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    barrierFilter(co, jacRaw >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jacRaw, 6).as("jac"))
  }

  // ---- d14: asymmetric containment --------------------------------------

  /** Containment threshold 7/8 — exact integers, no float boundary. */
  private val ContainNum = 7
  private val ContainDen = 8

  /** d14 — CONTAINMENT near-dup: `|A∩B| / |A| ≥ 7/8` — document A's
    * shingles are (almost) all inside B. The asymmetric relation
    * symmetric Jaccard cannot see: a short document quoted wholesale
    * inside a long one has tiny Jaccard (union ≈ the long doc) but
    * containment ≈ 1 — exactly the quoted-boilerplate/subset-document
    * case a training-data pipeline wants to catch. Same posting-list
    * co-occurrence engine as d2 (one pass, blocked, df-capped); both
    * directions of each co-occurring pair are tested from the one
    * counted row, and the threshold compares pure integers
    * (`inter·8 ≥ n·7`), so no float boundary exists anywhere.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    containmentFrom(coOccurFrame(spark, sfDir))

  /** d14 over an arbitrary `(doc_id, source, shingle)` frame. */
  private[ext] def containmentOf(sh: DataFrame, cap: Long): DataFrame =
    containmentFrom(coOccurrence(sh, cap))

  private def containmentFrom(co: DataFrame): DataFrame =
    co
      .select(explode(array(
        struct(col("doc_a").as("contained"), col("doc_b").as("container"),
          col("na").as("nc"), col("inter")),
        struct(col("doc_b").as("contained"), col("doc_a").as("container"),
          col("nb").as("nc"), col("inter")))).as("d"))
      .select(col("d.contained").as("contained"),
        col("d.container").as("container"), col("d.nc").as("nc"), col("d.inter").as("inter"))
      .filter(col("inter") * ContainDen >= col("nc") * ContainNum)
      .select(col("contained"), col("container"),
        round(col("inter").cast("double") / col("nc").cast("double"), 6)
          .as("containment"))

  // ---- d3: MinHash + LSH banding ---------------------------------------

  /** LSH banding GEOMETRY over the [[LshPerms]] signature permutations:
    * [[LshBands]] bands of [[LshRows]] rows each. The geometry sets the
    * probability a pair at Jaccard j collides in ≥1 band —
    * 1−(1−j^rows)^bands — i.e. the index's structural recall at the 0.9
    * confirm threshold (~0.68 for 2×8, ~0.99 for 4×4) against its
    * candidate volume (spurious collisions scale with j^rows per band ×
    * bands). d25 measures the realized recall on the corpus; the r13
    * geometry sweep (PLANS) measured both geometries' recall AND
    * exact-confirm candidate cost before fixing the default.
    *
    * 64-PERM 8×8 ADOPTED (r13, two measured steps — full tables in
    * PLANS round-13):
    *
    * Step 1 fixed RECALL: 2×8's S-curve midpoint (1/2)^(1/8) ≈ 0.917
    * sits ON the 0.9 confirm threshold (collision p≈0.68 at j=0.9), so
    * the index shipped 15–17% of true near-dup pairs unfound (d25:
    * 853k ppm at sf0.01, a 33-partner family at recall 0). 4×4 over
    * the same 16 perms fixes that (midpoint 0.707, 985k ppm) but its
    * 4-min band key is a WEAK fingerprint — at sf10-synth the hottest
    * band key held 92 820 docs (structurally-similar-but-sub-threshold
    * cross-shard copies, j ≤ 0.39, all colliding at j⁴ ≈ 2% per band),
    * an 8.2 B-candidate false flood that is pure confirm waste.
    *
    * Step 2 fixed CANDIDATE VOLUME at equal recall: 8 bands × 8 rows
    * over 64 permutations keeps the midpoint safely below threshold
    * ((1/8)^(1/8) ≈ 0.771, recall ≈ 0.989 at j=0.9 — measured 995k ppm
    * at sf0.01 AND sf1) while an 8-min band key collides for j=0.39
    * pairs at j⁸ ≈ 0.05% per band: candidates drop 36% below 4×4 at
    * sf0.01, 2.8× at sf1, and the sf10 hot key shrinks 92 820 → 6 020
    * members (the quadratic hot-family term drops ~200×). The price is
    * 64 min-aggregations in the one sketch pass (linear, measured
    * 40 s at sf10-synth) and 64 B of band keys per doc.
    */
  private[graft] val LshPerms = 64
  private[graft] val LshBands = 8
  private[graft] val LshRows = LshPerms / LshBands
  /** d8's estimator geometry — 16 perms / 4 bands, independent of the
    * d3 chain's [[LshPerms]]/[[LshBands]]: d8's contract is the
    * 16-permutation Jaccard estimate (est = matches/16, ±1/√16), and
    * its banding exists only to bound the estimate join, not to set
    * the dedup chain's recall.
    *
    * HISTORY (r13 — this was a behavior change, not a constant rename):
    * d8 originally banded 2×8 over the same 16 perms, which made its
    * candidate set a structural SUPERSET of the then-2×8 d3's. r13
    * moved it to 4×4 for the same recall reason d3 left 2×8 (the 2×8
    * S-curve midpoint 0.917 sits ON the 0.9 threshold — an estimator
    * whose banding misses ~32% of j=0.9 pairs under-reports exactly
    * the pairs it exists to estimate). The cost: d3-confirmed pairs
    * are no longer structurally guaranteed to appear among d8's
    * candidates — containment is statistical, measured ~98.6% at
    * sf0.01 — acceptable because d8's contract is a SKETCH-ONLY
    * ESTIMATE (±1/√16 ≈ 0.25 noise per pair dwarfs a 1.4% candidate
    * tail) and the precision path is d3, not d8.
    */
  private[ext] val EstBands = 4
  private[ext] val EstRows = 16 / EstBands
  /** The sketch frame's band-key column names, in band order. */
  private[graft] val bandCols: Seq[String] =
    (0 until LshBands).map(i => s"bk$i")
  /** Geometry tag for the persisted dedup-chain index names: the index
    * store is keyed by CORPUS fingerprint only, so a geometry change
    * must change the NAME or stale band keys / pair sets get read.
    * Empty for the original 2×8 (existing published indexes stay valid).
    */
  private[graft] val geomTag: String =
    if (LshPerms == 16 && LshBands == 2) "" else s"_${LshBands}x$LshRows"

  /** HOT-BAND-KEY CAP (r14 — the last scale-killer tail in the dedup
    * chain): a band key with MORE than this many members emits a STAR
    * of n−1 pairs (every member against the key's minimum doc_id)
    * instead of all C(n,2) pairs. Within a true near-dup family every
    * star edge passes the exact confirm, so d7's closure still labels
    * the family as ONE cluster — connectivity is what the cap
    * preserves; the pairwise jac LIST for a hub family is what it
    * gives up (C(n,2) → n−1 rows). A star, not the consecutive-pair
    * CHAIN the r13 design sketched: the chain makes the capped family
    * a diameter-n PATH, and the binding spec measured d7's contraction
    * loop (linear shrink per round on a path) silently 4 046 hops
    * short of the fixpoint at its 50-round guard on a 4 097-member
    * family — the star's diameter-2 component contracts in one round.
    * Without the cap, one boilerplate family (license headers,
    * templated pages — routine at 100 TB) past ~10⁴ members that
    * survives d1's exact dedup makes the next index build quadratic
    * inside one band key: the r13 sf10 sweep measured a single
    * 92 820-member 4×4 key = 8.2 B confirm-waste candidates before any
    * build was paid.
    *
    * THRESHOLD (gated on d26's measured `max_key_members`): organic
    * families stay well under it — sf0.1's hottest key is 1 593
    * members, so the cap binds NOWHERE at the correctness-gate SFs and
    * d3's output there is byte-identical to the uncapped build — while
    * sf10-synth's 6 020-member hub key (a ~60-member family × 100
    * exact-copy replication) trips it, turning its C(6020,2) ≈ 18.1 M
    * intra-key candidates into 6 019. Mirrored 1:1 in the oracle SQL
    * exactly as d2's [[HotShingleCap]] is.
    */
  private[graft] val HotBandKeyCap = 4096L
  /** Pair-semantics tag for persisted indexes DERIVED from the banded
    * candidate set (lsh_pairs, labels): the cap is part of the pair
    * relation's definition, so like [[geomTag]] it must be in the NAME
    * — a capped engine must never read a stale uncapped pair table.
    */
  private[graft] val capTag: String = s"_c$HotBandKeyCap"

  /** Band key over signature columns of band `b` under an `nBands`
    * geometry: ordered 31-fold of scalar longs — cheap arithmetic, safe
    * to inline anywhere.
    */
  private def bandKeyAt(b: Int, rows: Int): Column =
    (b * rows until (b + 1) * rows).map(i => col(s"s$i"))
      .foldLeft(lit(0L): Column)((acc, s) => (acc * 31L + s) % P)
  private def bandKey(b: Int): Column = bandKeyAt(b, LshRows)

  /** Global near-dup via MinHash-LSH: [[LshPerms]] permutations,
    * [[LshBands]] bands × [[LshRows]] rows, exact Jaccard ≥ 0.9 on
    * band-collision candidates only. At 100 TB the candidate join
    * shuffles (band, 64-bit key) pairs — the text stays in the scan
    * until the final check.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    // persisted corpus index: d3's output is also d7's edge set, and the
    // confirmed pair frame is tiny (near-dup hits), so ONE build per
    // corpus snapshot serves every consumer in every later driver
    graft.sources.CorpusIndex.ensureBucketed(spark, s"lsh_pairs$geomTag$capTag",
      sfDir, Seq("documents"), "doc_a")(buildMinhashLsh(spark, sfDir))

  /** Per-document MinHash sketch `(doc_id, bk0..bk{LshBands-1}, toks)`,
    * a persisted corpus index: the full self-dedup (d3) and the delta-vs-corpus incremental dedup
    * (d13) read the same frame. At 100 TB this is the persisted sketch
    * INDEX a production pipeline maintains next to the corpus — built
    * once, consulted by every ingest batch.
    *
    * Token sets are carried as md5-hash longs end to end: the signature
    * permutations consume them directly and the exact-Jaccard confirm
    * intersects long arrays (same hash in the oracle — collision-exact).
    *
    * ONE pass over the corpus computes everything per-document: the
    * [[LshPerms]] signature minima AND the sorted token-hash set, in a single
    * aggregation over exploded token hashes — sig_i = min(affine_i(h)),
    * toks = sort_array(collect_set(h)). One md5 per token total (an
    * array-lambda form measured a 13x md5 blowup when the subtree was
    * referenced four times; a previous two-pass form hashed every token
    * twice). The Aggregate is also a hard optimizer barrier, so
    * downstream reuse can never re-inline the hash computation. The
    * shape that scales: one shuffle on doc_id, partial min map-side.
    * The frame is referenced from BOTH sides of the band joins and both
    * confirm re-joins; materializing it once stops 4 recomputations of
    * the whole hash pipeline (measured ~3s of the ~5s query at sf0.1).
    * localCheckpoint is the local[n] stand-in for
    * persist(MEMORY_AND_DISK) + a reliable checkpoint on a cluster.
    */
  private[graft] def sketchFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, s"minhash_sketch$geomTag",
      sfDir, Seq("documents"), "doc_id")(sketchOf(docs(spark, sfDir)))

  /** The sketch pass over an arbitrary `(doc_id, text)` frame — the
    * per-document unit of the persisted index: [[LshPerms]] signature minima AND
    * the sorted token-hash set in one aggregation. Shared by the batch
    * entry points above and the streaming ingest writer
    * ([[graft.streaming.NearDupStream]]), so both paths maintain
    * byte-identical index rows.
    */
  private[graft] def sketchOf(docsFrame: DataFrame): DataFrame = {
    val exploded = docsFrame
      .select(col("doc_id"),
        explode(array_distinct(transform(tokenSet(col("text")),
          t => tokenHash(t)))).as("h"))
    exploded.groupBy("doc_id")
      .agg(min(affine(0, col("h"))).as("s0"),
        (1 until LshPerms).map(i => min(affine(i, col("h"))).as(s"s$i")) :+
          sort_array(collect_set(col("h"))).as("toks"): _*)
      .select(col("doc_id") +:
        (0 until LshBands).map(b => bandKey(b).as(s"bk$b")) :+
        col("toks"): _*)
  }

  /** Dedup-free banded candidate pairs over a sketch frame `(doc_id,
    * bk0..bk{nBands-1}, …)`: one join per band, where band i's condition
    * requires NO earlier band to have matched — each colliding pair is
    * emitted exactly once, so there is no multi-million-row DISTINCT
    * over the band-inflated candidate set. Only (doc_id, band keys) move
    * through the joins. Shared by d3 and d8.
    *
    * HOT-KEY CAP (`hotCap` — [[HotBandKeyCap]] on the d3 chain, absent
    * on d8's estimator, whose contract is the uncapped candidate set):
    * band keys whose member count exceeds the cap are pulled OUT of the
    * all-pairs join and emit a STAR of n−1 pairs (root = the key's
    * minimum doc_id, one pair per other member) instead. The claiming
    * rule stays first-matching-band: a pair whose first colliding
    * band's key is hot is represented only by that band's star, never
    * re-emitted by a later band — the same exclusivity conjunction
    * guards the star rows, so the union below remains duplicate-free by
    * construction. The hot set itself is one map-side-combined
    * aggregation over the sketch (≤ n/cap keys per band by
    * construction, so the per-band anti/semi joins broadcast).
    */
  private def bandCandidates(per: DataFrame, nBands: Int,
      hotCap: Option[Long] = None): DataFrame = {
    val bks = (0 until nBands).map(i => s"bk$i")
    // EXPLICIT fan-out partitioning (r13 sf10 finding): the band-keys
    // frame is tiny (doc_id + nBands longs — ~20 MB even at sf10), so
    // AQE broadcasts one side and COALESCES the post-aggregate stream
    // side toward its 64 MB target — size-based and blind to join
    // fan-out, which left ONE task producing the multi-billion-row
    // candidate explosion at sf10-synth (2.5 of 32 cores busy). An
    // explicit-N repartition on the probe side is exempt from AQE
    // coalescing and spreads the explosion; the extra exchange moves
    // only ids + band keys.
    val nParts = per.sparkSession.sessionState.conf.numShufflePartitions
    val l = per.select(col("doc_id").as("doc_a") +:
      bks.map(c => col(c).as(s"a$c")): _*)
      .repartition(nParts, col("doc_a"))
    val r = per.select(col("doc_id").as("doc_b") +:
      bks.map(c => col(c).as(s"b$c")): _*)
    val hot = hotCap.map { cap =>
      per.select(explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"), col(s"bk$b").as("bkey"))): _*)).as("bk"))
        .groupBy(col("bk.band").as("band"), col("bk.bkey").as("bkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > cap)
        .select("band", "bkey")
        // consulted by 2 joins per band — materialize once; tiny
        .localCheckpoint()
    }
    (0 until nBands).map { b =>
      val cond = (0 until b)
        .map(j => col(s"abk$j") =!= col(s"bbk$j"))
        .foldLeft(col(s"abk$b") === col(s"bbk$b") &&
          col("doc_a") < col("doc_b"))(_ && _)
      val hotB = hot.map(_.filter(col("band") === b)
        .select(col("bkey").as(s"abk$b")))
      // all-pairs arm: only non-hot keys of band b participate
      val lb = hotB.fold(l)(h => l.join(h, Seq(s"abk$b"), "left_anti"))
      val normal = lb.join(r, cond).select("doc_a", "doc_b")
      // STAR arm: each hot key emits (root=min doc_id, member) for every
      // other member — n−1 pairs like the chain PLANS designed, but the
      // component has DIAMETER 2, not n: the binding spec measured the
      // consecutive-pair chain leaving d7's contraction loop (linear
      // shrink on a path) 4 046 hops short of convergence at 50 rounds
      // on a 4 097-member family. A window over ONE hot key is n rows
      // in one partition (one aggregate, no sort), never C(n,2) join
      // output. min(struct(doc_id, earlier keys)) carries the ROOT's
      // band keys out for the first-matching-band exclusivity check.
      val star = hotB.map { h =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(s"abk$b"))
        val root = min(struct(col("doc_a") +:
          (0 until b).map(j => col(s"abk$j")): _*)).over(w)
        l.join(h, Seq(s"abk$b"), "left_semi")
          .select(Seq(col("doc_a").as("sdoc_b"), root.as("root")) ++
            (0 until b).map(j => col(s"abk$j").as(s"cur$j")): _*)
          .filter((0 until b)
            .map(j => col(s"root.abk$j") =!= col(s"cur$j"))
            .foldLeft(col("sdoc_b") =!= col("root.doc_a"))(_ && _))
          .select(col("root.doc_a").as("doc_a"), col("sdoc_b").as("doc_b"))
      }
      star.fold(normal)(normal unionByName _)
    }.reduce(_ unionByName _)
  }

  private[ext] def buildMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    lshPairsOf(sketchFrame(spark, sfDir), Some(HotBandKeyCap))

  /** The d3 build over an arbitrary sketch frame with an explicit hot
    * cap — injectable so the spec can prove the cap's contract on a
    * crafted ≥cap family (capped vs uncapped closures identical).
    */
  private[ext] def lshPairsOf(per: DataFrame, hotCap: Option[Long]): DataFrame = {
    // Banding via [[bandCandidates]]; the token-hash arrays re-join onto
    // the candidates for the exact check (the candidate shuffle stays
    // narrow — ids and band keys, never arrays). NO broadcast hints
    // anywhere in this shape: every frame here (band keys, sketches) is
    // one row per DOCUMENT, so forcing a broadcast ships the whole
    // corpus to the driver and every task — fine at sf0.1, an OOM past
    // the 8 GB broadcast limit at 100 TB. The joins key on band key /
    // doc_id (longs), which is exactly what a shuffle hash join
    // partitions well on; AQE may still choose a broadcast locally from
    // its runtime size estimate, which is the scale-gated version of
    // the same optimization.
    val cand = bandCandidates(
      per.select(col("doc_id") +: bandCols.map(col): _*), LshBands, hotCap)
    jaccardPairs(
      cand
        .join(per.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
        .join(per.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b")),
      col("ta"), col("tb"), 0.9, (9, 10))
  }

  /** d25 probe sample: the [[LshProbeCount]] documents with the
    * SMALLEST portable doc-id hash are the recall probes — a
    * deterministic, uniform, FIXED-COUNT sample, which is the property
    * that keeps the ground-truth arm linear in the corpus. The first
    * cut sampled a fixed FRACTION (1-in-20), which makes the
    * probes×corpus truth arm quadratic — caught by this round's own
    * decade sweep (exp 1.55, 6.2→216 s sf1→sf10) before it shipped.
    * Same discipline as s11/s16's fixed `nQueries`.
    */
  private[ext] val LshProbeCount = 64

  /** d25 — LSH INDEX RECALL EVAL: s11's eval loop for the DEDUP index.
    * d3's banding ([[LshBands]] bands × [[LshRows]] rows — 8×8 over 64
    * permutations since r13) is an approximation — a pair at exactly
    * the 0.9 threshold collides in a band with probability
    * 0.9^[[LshRows]] per band (miss probability (1 − 0.9⁸)⁸ ≈ 1.1% at
    * the adopted geometry; measured recall 995k ppm), so the index
    * structurally misses a tail of true near-dups — and no dedup
    * pipeline should ship a banded index without measuring what it
    * misses. Per probe document (the
    * [[LshProbeCount]] lowest-hash docs — a fixed-COUNT deterministic
    * sample): the EXACT near-dup partner set (brute token-Jaccard
    * ≥ 0.9 against the whole corpus — the price of ground truth,
    * bounded by the sample exactly as s11's brute arm is bounded by
    * the fixed query set; widen the count off the hot path if tighter
    * confidence is needed) vs the partners the d3 index actually
    * produced. Recall in integer ppm. Precision is structurally 10⁶ —
    * d3 exact-confirms every banded candidate — so recall is the only
    * number banding can lose.
    *
    * Scale shape: the truth arm reads the persisted sketch index (no
    * re-tokenization), prefilters pairs with the same integer
    * necessary condition as [[jaccardPairs]], and intersects sorted
    * hash arrays via the codegen'd merge walk; the probe side is a
    * fixed-COUNT sample ([[LshProbeCount]] = 64), so the truth arm is
    * (corpus × 64) — linear in the corpus by definition. The index arm
    * is a read of the persisted d3 pair table.
    */
  def lshRecallEval(spark: SparkSession, sfDir: String): DataFrame =
    lshRecallEvalOn(sketchFrame(spark, sfDir), minhashLsh(spark, sfDir))

  /** d26 — LSH BAND-KEY OCCUPANCY AUDIT: per band, how many distinct
    * band keys exist, the largest key's member count, and the implied
    * candidate upper bound Σ C(members,2) — the dial that tells an LSH
    * operator whether a HUB FAMILY is about to make the next index
    * build quadratic, BEFORE paying the build (this exact probe caught
    * 4×4's 92 820-member hot key / 8.2 B-candidate flood at sf10 during
    * the r13 geometry sweep and redirected the adoption to 8×8/64 —
    * PLANS.md "Round-13: 4×4 at the second decade").
    * All integer arithmetic — hash-exact in the oracle. Scale shape:
    * one explode of [[LshBands]] (band, key) structs off the persisted
    * sketch index, two map-side-combined aggregations; output is
    * [[LshBands]] rows.
    */
  def bandOccupancy(spark: SparkSession, sfDir: String): DataFrame =
    bandOccupancyOf(sketchFrame(spark, sfDir), LshBands)

  /** d26 over an arbitrary sketch frame — injectable so the spec can
    * assert the audit arithmetic on a corpus with KNOWN occupancy, and
    * the batch ground truth the streamed-occupancy spec compares
    * [[graft.streaming.NearDupStream]]'s live counts against. */
  private[graft] def bandOccupancyOf(sk: DataFrame, nBands: Int): DataFrame =
    sk.select(explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"), col(s"bk$b").as("bkey"))): _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"), max(col("cnt")).as("max_key_members"),
        sum(expr("cnt * (cnt - 1) DIV 2")).as("candidate_bound"))

  /** d25 over arbitrary sketch `(doc_id, …, toks)` and pair
    * `(doc_a, doc_b, …)` frames — injectable so the spec can craft a
    * corpus with a KNOWN banding miss and assert the eval reports it.
    */
  private[ext] def lshRecallEvalOn(sk: DataFrame, lshPairs: DataFrame): DataFrame = {
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    // orderBy+limit plans as TakeOrderedAndProject — a fixed 64-row
    // top-k over the hash projection, never a global sort materialized
    val probes = sk
      .select(col("doc_id"), col("toks"),
        tokenHash(col("doc_id").cast("string")).as("__ph"))
      .orderBy(col("__ph"), col("doc_id"))
      .limit(LshProbeCount)
      .select(col("doc_id").as("probe_id"), col("toks").as("ptoks"))
    // integer necessary condition for jac >= 9/10 (see jaccardPairs),
    // folded into the scan so most of the corpus never intersects
    val pre = sk.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("probe_id") &&
        least(size(col("toks")), size(col("ptoks"))) * 19 >=
          (size(col("toks")) + size(col("ptoks"))) * 9)
      .select(col("probe_id"), col("doc_id").as("partner"),
        sortedIntersectCount(col("toks"), col("ptoks")).as("inter"),
        (size(col("toks")) + size(col("ptoks"))).cast("long").as("stot"))
    val truth = Portable.barrierFilter(pre,
        col("inter").cast("double") /
          (col("stot") - col("inter")).cast("double") >= 0.9)
      .select("probe_id", "partner")
    // Semi-filter the index arm to the 64 probes BEFORE the truth join
    // (r14 opt): the mirrored pair frame is 2|pairs| rows (1.9M at
    // sf0.1) and as the RIGHT side of the left join it forced a full
    // shuffle+sort; only rows whose probe_id is one of the
    // [[LshProbeCount]] probes can ever match, so the broadcast
    // semi-join cuts the join input to probes×degree and the left join
    // itself broadcasts. Pure pushdown — result rows unchanged.
    val found = lshPairs.select(col("doc_a").as("probe_id"),
        col("doc_b").as("partner"))
      .unionByName(lshPairs.select(col("doc_b").as("probe_id"),
        col("doc_a").as("partner")))
      .join(broadcast(probes.select(col("probe_id"))), Seq("probe_id"),
        "left_semi")
      .withColumn("hit", lit(1L))
    truth.join(found, Seq("probe_id", "partner"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(col("probe_id"), col("n_truth"), col("n_found"),
        expr("n_found * 1000000 DIV n_truth").as("recall_ppm"))
  }

  /** d8 — sketch-ONLY near-dup estimate: banded candidates (its own
    * 16-perm [[EstBands]]×[[EstRows]] geometry — 4×4 since r13, see
    * the [[EstBands]] history note — independent of
    * the d3 chain's), but similarity comes from the MinHash signatures
    * themselves —
    * est = |{i : sigA_i = sigB_i}| / 16, the unbiased MinHash estimator
    * of Jaccard — so the token arrays are NEVER revisited after the one
    * sketch pass. This is the true 100 TB confirm path: per document the
    * pipeline carries 16 longs (128 B) instead of the token set, the
    * candidate join still shuffles only ids + band keys, and the
    * estimate join moves sketches, not text. d3 (exact confirm) is the
    * precision path; d8 trades ±1/√16 estimator noise for never touching
    * tokens twice. est is k/16 with 16 = 2⁴, exact in binary floating
    * point — hash-identical in the oracle.
    */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame =
    minhashEstimateOf(docs(spark, sfDir))

  /** The d8 estimator's own sketch frame `(doc_id, bk0..bk{EstBands-1},
    * s0..s15)` — exposed so the d26 occupancy audit
    * ([[bandOccupancyOf]], geometry-generic) can bound the estimate
    * join's candidate volume BEFORE it is paid, exactly as it gates the
    * d3 chain. d8's pair set is deliberately UNCAPPED (the estimator's
    * contract is the full band-collision relation — see
    * [[minhashEstimateOf]]), so this audit IS the scale guard: a hot
    * estimator band key is a quadratic intra-key join, and the
    * `candidate_bound` column prices it in O(|corpus|) first.
    * `DedupSpec` drives the binding case on a synthetic hub family.
    */
  private[ext] def estSketchOf(docsFrame: DataFrame): DataFrame = {
    val exploded = docsFrame
      .select(col("doc_id"),
        explode(array_distinct(transform(tokenSet(col("text")),
          t => tokenHash(t)))).as("h"))
    // signature components stay SCALAR columns end to end (s0..s15, not
    // an array): the same 128 B move through the joins, but the
    // per-candidate match count compiles to 16 codegen'd long
    // comparisons in a plain projection. The first formulation arrayed
    // the signature and counted matches with zip_with+aggregate — an
    // interpreted lambda per candidate pair (no codegen, no CSE in the
    // HOF path) that cost 66 of d8's 74 s at sf1-synth's ~19M pairs.
    exploded.groupBy("doc_id")
      .agg(min(affine(0, col("h"))).as("s0"),
        (1 until 16).map(i => min(affine(i, col("h"))).as(s"s$i")): _*)
      .select(col("doc_id") +:
        (0 until EstBands).map(b => bandKeyAt(b, EstRows).as(s"bk$b")) ++:
        (0 until 16).map(i => col(s"s$i")): _*)
  }

  /** d8 over an arbitrary `(doc_id, text)` frame — injectable so the
    * spec can assert the UNCAPPED quadratic contract on a synthetic hub
    * family against [[bandOccupancyOf]]'s predicted bound.
    */
  private[ext] def minhashEstimateOf(docsFrame: DataFrame): DataFrame = {
    // EXPLICIT fan-out on the checkpointed sketch (r15): the sketch is
    // byte-tiny (~160 B/doc) but the stages that READ the cache are
    // CPU-dense — 4 band-join probe stages evaluating the 16-column
    // signature compare per candidate — and AQE's size-based coalescing
    // left the cached frame at 4 partitions (graft.Prof: 1.8 s tasktime
    // serialized onto 4 cores, 10 tasks total for the whole query).
    // REPARTITION_BY_NUM is AQE-exempt; the one extra exchange moves
    // the dim-sized sketch once and every probe inherits full fan-out.
    // This only pays off alongside the enlarged generated-class cache
    // (Bench session conf): with the default 100-entry cache the probe
    // classes are evicted between passes and 32 tasks all enter COLD
    // generated code at once, which measured 4.1–5.0 s in bench context
    // vs 2.2–2.7 s narrow; with the cache sized to the workload the
    // fanned-out shape wins in context too (1.07–1.12 s vs 1.28–1.32,
    // interleaved reps). Also bandCandidates' guard restated on the
    // estimator path: at sf10 the same coalescing left ONE task
    // producing the multi-billion-row candidate explosion (r13
    // finding). Placed ABOVE the aggregate, so partial aggregation
    // below is untouched (the v7 lesson).
    val per = estSketchOf(docsFrame)
      .repartition(docsFrame.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))
      .localCheckpoint(false)
    val est = (0 until 16)
      .map(i => when(col(s"sa$i") === col(s"sb$i"), 1L).otherwise(0L))
      .reduce(_ + _).cast("double") / 16.0
    // Signatures ride the band joins (r14 opt): the previous shape ran
    // bandCandidates on ids + band keys and RE-JOINED the candidate set
    // against `per` twice to attach sa/sb — but d8's candidate set is
    // ~3x the corpus (the estimator's uncapped contract), so those two
    // joins moved candidate-sized frames where carrying the 16 sketch
    // longs (128 B/doc — the sketch IS the record here) through the
    // corpus-sized join legs moves strictly less past any corpus where
    // candidates outnumber documents. Band-exclusivity (band b requires
    // every earlier band to differ) and the a<b orientation are the
    // same conjunction bandCandidates uses, so the pair set is
    // byte-identical.
    val l = per.select(col("doc_id").as("doc_a") +:
      (0 until EstBands).map(b => col(s"bk$b").as(s"abk$b")) ++:
      (0 until 16).map(i => col(s"s$i").as(s"sa$i")): _*)
    val r = per.select(col("doc_id").as("doc_b") +:
      (0 until EstBands).map(b => col(s"bk$b").as(s"bbk$b")) ++:
      (0 until 16).map(i => col(s"s$i").as(s"sb$i")): _*)
    (0 until EstBands).map { b =>
      val cond = (0 until b)
        .map(j => col(s"abk$j") =!= col(s"bbk$j"))
        .foldLeft(col(s"abk$b") === col(s"bbk$b") &&
          col("doc_a") < col("doc_b"))(_ && _)
      l.join(r, cond).select(col("doc_a"), col("doc_b"), est.as("est_jac"))
    }.reduce(_ unionByName _)
  }

  /** d7 — dedup CLUSTER resolution: connected components over the
    * near-dup pair graph (edges = [[minhashLsh]] output), assigning every
    * document the minimum doc_id of its component as canonical — the step
    * that turns pairwise near-dup hits into the keep/drop decision a real
    * pipeline executes. Iterative min-label propagation with multi-hop
    * composition per round (edge hop, double pointer jump, hop∘jump),
    * converging in O(log graph diameter) rounds; `localCheckpoint`
    * truncates the plan lineage each round (at 100 TB: reliable
    * checkpoints + a Pregel-style engine, same algorithm). The fixpoint
    * (min over reachable nodes) is iteration-order independent, so it
    * hash-matches the oracle's recursive-CTE closure exactly.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // The converged label frame (two longs per document) is a PERSISTED
    // BUCKETED corpus index, keyed on `canonical`: cluster resolution
    // runs once per corpus snapshot and every consumer of the keep/drop
    // decision — c11's split gate, c13's weights, d16's retention,
    // d18's histogram, d19's medoids, and any later driver — reads the
    // label table instead of re-deriving the d3→d7 chain (the round-7
    // sweep's dominant cold cost, exp 0.71–0.79 across those consumers).
    // Bucketing by the cluster key makes the canonical consumers'
    // reductions Exchange-free on the scan (`CorpusIndexSpec`).
    graft.sources.CorpusIndex.ensureBucketed(spark, s"labels_minhash$geomTag$capTag",
      sfDir, Seq("documents"), "canonical")(
      minLabelClusters(minhashLsh(spark, sfDir), "doc_a", "doc_b",
        docs(spark, sfDir), "doc_id"))

  /** d27 — PRODUCTION PIPELINE ORDER, d1 → d3 composed: exact dedup
    * FIRST, then MinHash-LSH over the exact-family REPRESENTATIVES
    * only, cluster labels remapped back through the exact-copy
    * families. PLANS has argued since r13 that this order is what a
    * production pipeline runs — replica-heavy corpora (mirrors, crawl
    * re-fetches, the sf-synth 100× replication) collapse to their
    * representative set BEFORE the quadratic-risk banding, so a
    * k-copy family costs the LSH stage one document instead of k per
    * band key (candidate volume for an all-replica family drops k²×) —
    * d27 is that argument as an operator with a proof obligation
    * attached.
    *
    * ORACLE = d7's labels on the FULL corpus, exactly: exact copies
    * share every band key and confirm at jac 1.0, so the full build
    * links each copy to its representative (rep = the family's min
    * doc_id, so component minima agree), and cross-family links depend
    * only on texts, which the representative carries verbatim — the
    * compose is a (provably) result-identical rewrite of d3→d7, not an
    * approximation. Sketchless documents (null text only —
    * `split("", " ")` is `[""]`, so even empty strings sketch) mirror
    * the full build too: they are isolated selves there even when
    * exact copies exist, so they bypass the family remap.
    *
    * Scale shape: one md5 groupBy (map-side combined) + a semi-join
    * prunes the persisted sketch index to representatives; the LSH
    * build then runs on the pruned frame with the same
    * [[HotBandKeyCap]]; the remap is one bucketed join from the rep
    * label table back through the family map.
    */
  def exactThenLsh(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark,
      s"labels_exact_lsh$geomTag$capTag",
      sfDir, Seq("documents"), "canonical")(
      exactThenLshOn(docs(spark, sfDir), sketchFrame(spark, sfDir)))

  /** d27 over arbitrary `(doc_id, text)` docs and their
    * [[sketchOf]]-shaped sketch — injectable so the spec can prove
    * label equality with the full d3→d7 build on a crafted corpus with
    * multi-member exact families.
    */
  private[ext] def exactThenLshOn(d: DataFrame, sk: DataFrame): DataFrame = {
    val fam = d.select(col("doc_id"), md5(col("text")).as("fp"))
    val reps = fam.groupBy("fp").agg(min("doc_id").as("rep"))
    val repOf = fam.join(reps, Seq("fp")).select(col("doc_id"), col("rep"))
    val repSk = sk.join(reps.select(col("rep").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val pairs = lshPairsOf(repSk, Some(HotBandKeyCap))
      .select("doc_a", "doc_b")
    val repLabels = minLabelClusters(pairs, "doc_a", "doc_b",
      reps.select(col("rep").as("doc_id")), "doc_id")
      .withColumnRenamed("doc_id", "rep")
    val sketched = repOf
      .join(sk.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(repLabels, Seq("rep"))
      .select(col("doc_id"), col("canonical"))
    val sketchless = d.select("doc_id")
      .join(sk.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("canonical"))
    sketched.unionByName(sketchless)
  }

  /** d19 — within-cluster MEDOID: per near-dup cluster, the member
    * minimizing total Jaccard DISTANCE to the other members — the
    * "most representative document" selector next to d16's
    * keep-longest policy (SemDeDup keeps the point closest to the
    * centroid; for sets the medoid is its exact combinatorial twin).
    * All arithmetic is integer ppm (`1e6 − inter·1e6 DIV union`), so
    * the argmin is hash-stable; ties break on doc_id via the
    * associative struct-min.
    *
    * Scale shape: pairs materialize WITHIN clusters only — a self-join
    * on the indexed d7 label, so the pair count is Σ|cluster|², bounded
    * by near-dup family sizes, not corpus size — AND the pair path is
    * CAPPED at [[MedoidMemberCap]] members: a DEGENERATE giant cluster
    * (say 10⁶ byte-identical crawls) makes the exact medoid quadratic in
    * that one cluster, so clusters past the cap fall back to d16's
    * keep-longest policy (medoid_sum_dist = NULL marks the fallback) —
    * the same cap-the-hub remedy as the df-capped postings (d2) and the
    * adaptive cell widths (d6/s8), mirrored 1:1 in the oracle. The cap
    * is NOT binding at the oracle SF (max cluster 229 at sf0.01), and
    * the spec exercises the binding case synthetically; at the 10×
    * sweep corpus it is what keeps d19 bounded (the suffix-densified
    * clusters reach Σ|cluster|² = 125M pairs — 80 s of intersections —
    * without it). Singletons skip the pair path entirely and keep
    * distance 0 via the left join.
    */
  private[ext] val MedoidMemberCap = 256L

  def clusterMedoids(spark: SparkSession, sfDir: String): DataFrame =
    // the pair path reads the PERSISTED d3 sketch index's sorted
    // token-hash arrays (r15) instead of re-tokenizing the corpus:
    // sketchOf's `toks` (sort_array ∘ collect_set of the exploded
    // hashes) is value-identical to the inline tokenize below, and the
    // index is built once per corpus snapshot — d19's own cost drops to
    // a two-column index read. Docs absent from the index (null text)
    // are always singleton clusters; the left join below keeps their
    // membership rows with null toks exactly as the inline path did.
    clusterMedoidsOf(dedupClusters(spark, sfDir),
      docs(spark, sfDir).select(col("doc_id"), col("text"), col("n_chars")),
      toksFrame = Some(sketchFrame(spark, sfDir).select("doc_id", "toks")))

  /** d19 over arbitrary `(doc_id, canonical)` labels and `(doc_id,
    * text, n_chars)` documents — injectable so the spec can drive the
    * cap's binding case on a synthetic corpus. `toksFrame`, when given,
    * supplies the sorted token-hash arrays from a persisted index;
    * absent, they are derived from `docsFrame` inline.
    */
  private[ext] def clusterMedoidsOf(labels: DataFrame, docsFrame: DataFrame,
      cap: Long = MedoidMemberCap,
      toksFrame: Option[DataFrame] = None): DataFrame = {
    import graft.functions.SortedIntersectCount.sortedIntersectCount
    val sizes = labels.groupBy("canonical").agg(count(lit(1)).as("n_members"))
    val small = labels
      .join(sizes.filter(col("n_members") <= cap).select("canonical"),
        Seq("canonical"))
    val toks = toksFrame.getOrElse(docsFrame.select(col("doc_id"),
      sort_array(array_distinct(transform(tokenSet(col("text")),
        t => tokenHash(t)))).as("toks")))
    // only sub-cap clusters ever tokenize into the pair path; LEFT join
    // so an index-less doc (null text — always a singleton) keeps its
    // membership row, as the inline tokenize's null-toks row did
    val m = small.join(toks, Seq("doc_id"), "left")
      .select(col("canonical"), col("doc_id"), col("toks"))
      // consumed THREE times (both sides of the pair self-join + the
      // final membership join) — without this the tokenize/sort_array
      // pass over the corpus runs three times (the file's
      // multiply-consumed-frame discipline). DISK_ONLY, not
      // localCheckpoint: checkpoint blocks pin unified STORAGE memory
      // (they are the lineage), and at the 100× sweep corpus that
      // pinning starved the pair aggregate's execution memory into
      // AGGREGATE_OUT_OF_MEMORY alongside 32 concurrent tasks — the
      // token frame is corpus-sized, so it belongs on disk, where the
      // three re-reads cost sequential scans and zero memory. The next
      // pass-boundary `Tables.clearShared` uncaches it, so repeated d19
      // invocations in one session do not accumulate disk blocks until
      // ContextCleaner GC gets around to them.
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val pairs = m.alias("a").join(m.alias("b"),
        col("a.canonical") === col("b.canonical") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.canonical").as("canonical"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        sortedIntersectCount(col("a.toks"), col("b.toks")).cast("long").as("inter"),
        (size(col("a.toks")) + size(col("b.toks"))).cast("long").as("sz"))
      // two empty token sets are identical (distance 0); the guard also
      // keeps the engines off x DIV 0 (Spark nulls, DuckDB raises)
      .withColumn("dist", lit(1000000L) -
        when(col("sz") - col("inter") === 0L, lit(1000000L))
          .otherwise(expr("(inter * 1000000) DIV (sz - inter)")))
    // each pair contributes its distance to BOTH endpoints — as ONE
    // explode in the same pass, not a two-branch union: the union form
    // consumed `pairs` twice and needed an EAGER checkpoint of the full
    // pair frame to avoid re-running the quadratic intersection — block
    // storage that, at the 100× sweep corpus, starved the downstream
    // hash aggregate into AGGREGATE_OUT_OF_MEMORY (sf10-synth, round
    // 11). The explode streams each pair once, straight into the
    // map-side partial sum; nothing pair-sized is ever stored.
    val per = pairs
      .select(col("canonical"), explode(array(
        struct(col("doc_a").as("doc_id"), col("dist")),
        struct(col("doc_b").as("doc_id"), col("dist")))).as("e"))
      .groupBy(col("canonical"), col("e.doc_id").as("doc_id"))
      .agg(sum(col("e.dist")).as("sum_dist"))
    val exact = m.select("canonical", "doc_id")
      .join(per, Seq("canonical", "doc_id"), "left")
      .withColumn("sum_dist", coalesce(col("sum_dist"), lit(0L)))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_members"),
        min(struct(col("sum_dist"), col("doc_id"))).as("best"))
      .select(col("canonical"), col("n_members"),
        col("best.doc_id").as("medoid_doc_id"),
        col("best.sum_dist").as("medoid_sum_dist"))
    // past the cap: d16's keep-longest fold — map-side combinable, one
    // candidate per (mapper, cluster); NULL sum_dist marks the fallback
    val big = labels
      .join(sizes.filter(col("n_members") > cap), Seq("canonical"))
      .join(docsFrame.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("canonical"), col("n_members"),
        (-col("best.neg_id")).as("medoid_doc_id"),
        lit(null).cast("long").as("medoid_sum_dist"))
    exact.unionByName(big)
  }

  /** d17 — per-SOURCE duplication rate: for each ingest source, how many
    * documents it contributed and what fraction of them are non-canonical
    * near-dup members (doc_id ≠ its cluster's canonical) — the
    * source-quality scoreboard a crawl pipeline triages by (a source
    * whose dup_ppm spikes is re-crawling what the corpus already holds,
    * and its crawl budget moves elsewhere). Rides the MEMOIZED /
    * persisted d7 label index like c13/d18: cluster resolution never
    * re-derives; this query's own cost is one join of two-long label
    * rows against (doc_id, source) and a |sources|-row aggregate —
    * map-side combinable, no corpus-sized state. The rate is integer
    * ppm (`n_dups · 10⁶ DIV n_docs`) — engine-portable, no doubles.
    */
  def sourceDupRate(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canonical"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        expr("n_dups * 1000000 DIV n_docs").as("dup_ppm"))

  /** d20 — CROSS-SOURCE duplication OVERLAP MATRIX: for every ordered
    * source pair (A < B), how many near-dup clusters span both and how
    * many documents of each side sit in those shared clusters — d17's
    * per-source rate unfolded into the between-sources view ("which
    * crawls re-scrape which"). This is the number a curation pass uses
    * to decide which source to DROP wholesale: a pair with high shared
    * mass means the cheaper source is mostly a re-crawl of the other.
    *
    * Scale shape: rides the persisted d7 label index; the self-join key
    * is the CLUSTER id over the (cluster, source) doc-count frame —
    * bounded by |clusters| · |sources-per-cluster| rows (tiny vs the
    * corpus), and within-key fan-out is the per-cluster source count
    * (≤ |sources|), so the pair frame is posting-list-sized, never
    * corpus². Output is at most C(|sources|, 2) rows.
    */
  def crossSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val cs = dedupClusters(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("canonical"), col("source"))
      .agg(count(lit(1)).as("n"))
    cs.alias("a")
      .join(cs.alias("b"),
        col("a.canonical") === col("b.canonical") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"),
        sum(col("a.n")).as("n_docs_a"), sum(col("b.n")).as("n_docs_b"))
  }

  /** d18 — cluster SIZE HISTOGRAM (how much of the corpus is duplicated,
    * and how deeply): n_clusters per exact cluster size — the one-line
    * health chart a dedup pass is judged by (mass in size-1 clusters =
    * unique content; the tail = hub near-dup families). Rides the
    * MEMOIZED d7 labels like c11/c13 — cluster resolution runs once per
    * pass; this is two count-aggregates over two-long rows, the second
    * over |clusters| rows only.
    */
  def clusterHistogram(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .groupBy(col("canonical")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /** d24 — CLUSTER SOURCE-MIXING audit: per multi-member near-dup
    * cluster, how many distinct sources its members span and the GINI
    * impurity of the source mix in exact ppm
    * (`10⁶ − Σ n_s²·10⁶ DIV n²` — impurity 0 = the whole cluster is one
    * source re-scraping itself, higher = genuine cross-source
    * duplication), rolled up per cluster-size class with the
    * member-weighted mean impurity. d20 answers the PAIRWISE question
    * (which source pair shares clusters); this answers the policy one:
    * is duplication mostly WITHIN sources (fix the crawler) or ACROSS
    * them (fix the mix)? Gini, not entropy: entropy needs log, Gini is
    * a ratio of integer squares — engine-exact with no libm (the c20
    * cross-scaling discipline; member counts square, so DECIMAL guards
    * the 100 TB range). Rides the persisted d7 labels + one documents
    * projection: label-sized shuffles only.
    */
  def clusterGini(spark: SparkSession, sfDir: String): DataFrame = {
    val m = dedupClusters(spark, sfDir)
      .join(docs(spark, sfDir).select("doc_id", "source"), Seq("doc_id"))
    val perSrc = m.groupBy("canonical", "source")
      .agg(count(lit(1)).as("n_s"))
    val per = perSrc.groupBy("canonical")
      .agg(sum("n_s").as("n"), count(lit(1)).as("n_sources"),
        sum(expr("n_s * n_s")).as("sq"))
      .filter(col("n") >= 2)
      .select(col("canonical"), col("n"), col("n_sources"),
        expr("""CAST(1000000 - CAST(sq AS DECIMAL(38,0)) * 1000000
                DIV CAST(n * n AS DECIMAL(38,0)) AS BIGINT)""")
          .as("gini_ppm"))
    per.groupBy(col("n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(expr("n_sources")).as("sum_sources"),
        expr("""CAST(CAST(sum(gini_ppm * n) AS DECIMAL(38,0))
                DIV CAST(sum(n) AS DECIMAL(38,0)) AS BIGINT)""")
          .as("mean_gini_ppm_weighted"))
  }

  /** c11 — LEAKAGE-SAFE train/valid/test split: the split gate hashes the
    * d7 CLUSTER label, not the document id — near-duplicate documents
    * land on the same side by construction, so the eval set can never
    * contain a near-copy of a training document (hashing doc_id leaks
    * exactly the pairs dedup found: ~half of every near-dup pair would
    * straddle the split). The 80/10/10 gate uses the portable md5 hash
    * (r1's discipline): deterministic under retries, partitioning, and
    * corpus growth — a new document shifts no existing assignment unless
    * it merges two clusters. Cost on top of d7: one projection.
    */
  def leakageSplit(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .withColumn("g", tokenHash(col("canonical").cast("string")) % 100)
      .withColumn("split",
        when(col("g") < 80, "train")
          .when(col("g") < 90, "valid")
          .otherwise("test"))
      .select("doc_id", "canonical", "split")

  /** c13 — cluster-EQUALIZED sampling weights (the SemDeDup/D4-style
    * correction): every document carries its d7 cluster size and the
    * integer ppm weight `1e6 DIV size`, so a sampler drawing by weight
    * gives each near-dup CLUSTER — not each copy — equal expected mass;
    * without it, content duplicated 50× is 50× over-represented in the
    * training mix. Cost on top of d7: one size aggregation over the
    * indexed label frame and a re-join on the canonical key (both
    * label-sized, shuffled on longs). The weights are exact integers, so
    * the oracle (d7's recursive-CTE closure + the same division)
    * hash-matches.
    */
  def clusterWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = dedupClusters(spark, sfDir)
    val sizes = labels.groupBy("canonical").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("canonical"))
      .select(col("doc_id"), col("canonical"), col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_ppm"))
  }

  /** d16 — RETENTION policy over the d7 clusters: per near-dup cluster,
    * keep the LONGEST member (ties to the lowest doc_id). This is the
    * decision the whole dedup family exists to feed — which physical row
    * survives into the training mix — and the policy is a one-pass
    * partial-aggregable fold over the indexed label frame: `max(struct(
    * n_chars, -doc_id))` is associative, so map-side combine reduces
    * each cluster to one candidate per partition and the shuffle moves
    * |clusters| rows, never |docs|. (A window row_number would sort
    * every cluster's members instead — same answer, needless per-group
    * sort at 100 TB.) The negated doc_id makes the lexicographic struct
    * max realize "max length, then MIN id" with no second pass.
    */
  def retentionPolicy(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("canonical"), col("n_members"),
        (-col("best.neg_id")).as("kept_doc_id"),
        col("best.n_chars").as("kept_n_chars"))

  /** Connected components over an arbitrary undirected pair frame —
    * the shared engine of d7 (text near-dup clusters) and d9 (embedding
    * near-dup clusters). `pairs(aCol, bCol)` are the edges; every id in
    * `ids(idCol)` gets its component's minimum id as `canonical`
    * (isolated ids map to themselves).
    *
    * CONTRACTION-based min-label propagation: after the first hop
    * (label = min over self ∪ neighbors), the edge set is rewritten into
    * label space — `(l(u), l(v))`, self-loops dropped, duplicates
    * collapsed by DISTINCT — and every later round runs on the
    * CONTRACTED graph, never the original edges. Near-dup graphs are
    * near-cliques (LSH bands confirm most pairs inside a cluster), so
    * one contraction collapses them almost entirely: at sf0.1 the d7
    * edge frame goes 1.6M mirrored edges → 2.4k after the first
    * contraction → 0 in four cheap rounds. Chains halve in diameter per
    * round (each node adopts its min neighbor, then edges re-express in
    * the new label space), giving the usual O(log diameter) bound, but
    * with per-round cost proportional to the SHRINKING contracted graph
    * — the full edge set is touched exactly twice (mirror + first
    * relabel), not once per round. All joins are plain shuffle joins on
    * long keys; the label frame is corpus-sized, so nothing here may be
    * statically broadcast (AQE may still runtime-broadcast a contracted
    * frame once it measures small — the scale-gated version of the same
    * optimization). The fixpoint (min id over the component) is
    * iteration-order independent, so the result — and the oracle hash —
    * is identical to single-hop propagation.
    */
  private[graft] def minLabelClusters(pairs: DataFrame, aCol: String,
      bCol: String, ids: DataFrame, idCol: String): DataFrame = {
    // Mirror each pair into both orientations IN the projection
    // (explode of a 2-struct array) — one pass over the edge derivation,
    // one materialization, instead of checkpointing the edges and again
    // their mirrored union.
    val und = pairs
      .select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    // First hop over nodes that touch an edge; isolated documents join
    // back in at the end as their own canonical.
    var full = und.groupBy(col("u").as("doc_id"))
      .agg(min("v").as("mn"))
      .select(col("doc_id"), least(col("mn"), col("doc_id")).as("canonical"))
      .localCheckpoint()
    // First contraction — the ONLY pass over the full edge set: both
    // endpoints re-expressed as their first-hop labels, intra-cluster
    // edges vanish as self-loops, the rest dedup. Mirror symmetry is
    // preserved (both orientations relabel to both orientations).
    var edges = und
      .join(full.withColumnRenamed("doc_id", "u")
        .withColumnRenamed("canonical", "lu"), Seq("u"))
      .join(full.withColumnRenamed("doc_id", "v")
        .withColumnRenamed("canonical", "lv"), Seq("v"))
      .filter(col("lu") =!= col("lv"))
      .select(col("lu").as("u"), col("lv").as("v"))
      .distinct()
      .localCheckpoint()
    var m = edges.count()
    var rounds = 0
    while (m > 0 && rounds < 50) {
      // One hop on the contracted graph, then compose into the full
      // map (label's label) and contract again. `localCheckpoint`
      // truncates lineage each round (at 100 TB: reliable checkpoints +
      // a Pregel-style engine, same algorithm); convergence is
      // edges-empty, detected on the count the checkpoint already runs.
      val hop = edges.groupBy(col("u").as("node")).agg(min("v").as("mn"))
        .select(col("node"), least(col("mn"), col("node")).as("c2"))
      full = full.join(hop, full("canonical") === hop("node"), "left")
        .select(full("doc_id"),
          coalesce(col("c2"), full("canonical")).as("canonical"))
        .localCheckpoint()
      edges = edges
        .join(hop.withColumnRenamed("node", "u")
          .withColumnRenamed("c2", "lu"), Seq("u"), "left")
        .join(hop.withColumnRenamed("node", "v")
          .withColumnRenamed("c2", "lv"), Seq("v"), "left")
        .select(coalesce(col("lu"), col("u")).as("u"),
          coalesce(col("lv"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      m = edges.count()
      rounds += 1
    }
    // FAIL-LOUD convergence guard (r14): the binding spec for the
    // hot-band-key cap caught this loop exiting at the round limit with
    // edges remaining — on a 4 097-node PATH the single-hop contraction
    // shrinks linearly and the then-silent exit shipped labels 4 046
    // hops short of the fixpoint. Wrong labels must never outrun an
    // exception; real near-dup families are dense (diameter ≲ a few),
    // so hitting this guard means the EDGE SET is pathological (or a
    // future emitter reintroduced long paths), not that the limit is
    // too low.
    require(m == 0,
      s"minLabelClusters: $m contracted edges remain after $rounds rounds " +
        "— graph has components with diameter >> round budget")
    ids.select(col(idCol))
      .join(full.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical"), col(idCol)).as("canonical"))
  }

  /** d9 — SEMANTIC dedup clusters: connected components over the
    * embedding near-dup graph (edges = [[embedNearDup]] pairs, cosine ≥
    * 0.4 within shared LSH buckets), canonical = minimum vec_id of the
    * component — the SemDeDup-style decision step that collapses
    * semantically-duplicated content the text-level pipeline (d7) cannot
    * see. Same scale-safe min-label engine as d7: shuffle joins on long
    * keys only, multi-hop composition per round, no corpus-sized
    * broadcasts.
    */
  def embedClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, "labels_embed",
      sfDir, Seq("embeddings"), "canonical")(
      minLabelClusters(embedNearDup(spark, sfDir), "vec_a", "vec_b",
        Tables.embeddings(spark, sfDir), "vec_id"))

  // ---- d4: SimHash ------------------------------------------------------

  private def simhashSql(hs: String): String =
    (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> ((h >> $j) % 2) * 2 - 1)) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Per-document SimHash sketch. */
  def simhashSketch(spark: SparkSession, sfDir: String): DataFrame =
    simhashOf(docs(spark, sfDir)
      .select(col("doc_id"), tokenSet(col("text")).as("toks")))

  /** 32-bit SimHash over an arbitrary (doc_id, toks) frame — bit j is
    * the sign of Σ_tokens (±1 by bit j of H(token)) — as EXPLODE +
    * hash-aggregate: one md5 per (doc, token) row in a codegen'd
    * projection, then 32 bit-sum accumulators (+ a count) map-side
    * combined, bits assembled from the scalar sums
    * (`2·Σ bit_j − n > 0`). The previous formulation folded 32
    * `aggregate` lambdas over a per-row hash array — higher-order
    * lambdas evaluate interpreted (no codegen), which cost d4 ~7.7 s at
    * sf1-synth; this shape is ~1 s and shuffles only (id, hash) longs —
    * the module-header envelope.
    */
  def simhashOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode_outer(col("toks")).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
      .groupBy("doc_id")
      .agg(count(col("h")).as("n"),
        (0 until 32).map(j =>
          sum(shiftright(col("h"), j) % 2L).as(s"b$j")): _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(coalesce(col(s"b$j"), lit(0L)) * 2L - col("n") > 0,
            lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash"))

  /** SimHash near-dup: candidates where any of the 4 bytes of the sketch
    * collide, confirmed by bit_count(xor) ≤ 4. Recall is EXACT only up to
    * Hamming 3: pigeonhole over 4 byte-bands guarantees a clean band only
    * when the differing bits number < 4. At the k=4 threshold a pair whose
    * 4 differing bits land in 4 distinct bytes is never a candidate — an
    * accepted, explicit recall gap (the alternative, 8 nibble-bands, makes
    * the guarantee exact but inflates candidates ~30× on this corpus). The
    * DuckDB oracle mirrors the same banding, so the gate verifies the
    * banding implementation, not all-pairs completeness.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    // Dedup-free banding (as in [[minhashLsh]]): band j's join requires
    // all earlier bands to have differed, so each colliding pair is
    // emitted exactly once and no distinct shuffle is needed. The
    // Hamming filter is a cheap scalar folded into the join condition.
    def byte(c: Column, b: Int): Column = shiftright(c, 8 * b) % 256L
    // One materialization of the 32-fold sketch aggregation; the 4 band
    // joins reference it from 5 plan sites (4 stream sides + the shared
    // broadcast) and would otherwise recompute it per site.
    val sk = simhashSketch(spark, sfDir).localCheckpoint(false)
    val l = sk.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val r = sk.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val perBand = (0 until 4).map { b =>
      val sameBand = byte(col("sa"), b) === byte(col("sb"), b)
      val earlierDiffer = (0 until b)
        .map(i => byte(col("sa"), i) =!= byte(col("sb"), i))
        .foldLeft(lit(true))(_ && _)
      // r is one sketch per document — corpus-sized, so no broadcast
      // hint; the join shuffles on the byte band (see minhashLsh note).
      l.join(r, sameBand && earlierDiffer && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 4)
    }
    perBand.reduce(_ unionByName _)
  }

  /** d10 — triangle census of the near-dup graph (edges =
    * [[embedNearDup]]'s cosine pairs, the same indexed frame d9
    * clusters): global triangle count, wedge count, and transitivity
    * 3·T/W — the structural audit that tells a dedup pipeline whether
    * its near-dup relation is clique-like (true duplicate clusters —
    * safe to collapse to one canonical) or path-like (similarity
    * chains, where collapsing a whole component overshoots; cf. the
    * chain-vs-clique caveat every dedup paper carries). The SimHash
    * pair graph was rejected as the edge set: on this tiny-vocabulary
    * corpus byte-band sketches collide pathologically (76k pairs at
    * Hamming 0, sf0.1), which is a property of the synthetic corpus,
    * not of the operator — the embedding graph has organic sparsity.
    *
    * Degree-ORIENTED join formulation, the shape that survives skew at
    * scale: each undirected edge is directed from its lower-(degree, id)
    * endpoint to the higher, so wedge candidates enumerate pairs of
    * OUT-neighbors only — a hub of degree d contributes its out-degree
    * (bounded by O(√m) after orientation) squared, not d², which is the
    * difference between O(m^{3/2}) and O(m·d_max) work. All joins key on
    * node ids (plain shuffle joins, no corpus broadcast); the counts are
    * exact integers and transitivity is one exact-input IEEE division,
    * so the oracle hash-matches.
    */
  def triangleStats(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = embedNearDup(spark, sfDir)
      .select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint(false) // feeds degrees + both rank joins
    val deg = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orientation rank, degree-major / id-minor, encoded arithmetically
    // (ids are far below 1e9 here; at larger id spaces use a computed
    // dense rank instead of the arithmetic packing)
    val rk = deg.select(col("id"),
      (col("deg") * lit(1000000000L) + col("id")).as("rk"))
    val oriented = edges
      .join(rk.select(col("id").as("a"), col("rk").as("rka")), Seq("a"))
      .join(rk.select(col("id").as("b"), col("rk").as("rkb")), Seq("b"))
      .select(
        when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("u"),
        when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("v"),
        greatest(col("rka"), col("rkb")).as("rkv"))
      .localCheckpoint(false) // referenced three times in the wedge-close join
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("rkv").as("rk1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("rkv").as("rk2"))
    val tri = e1.join(e2, Seq("u")).filter(col("rk1") < col("rk2"))
      .join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
    tri.crossJoin(wedges) // two one-row frames: the correct cross join
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(null).cast("double")).as("transitivity"))
  }

  /** Peeling threshold for d23: the 4-core — every surviving document
    * keeps ≥ 4 confirmed near-dup partners INSIDE the core.
    */
  private val CoreK = 4L
  /** Unroll bound for the d23 oracle: fixed peel rounds the SQL states
    * explicitly. Both test SFs converge in 2; the Spark loop always runs
    * to its true fixpoint, so this only bounds the ORACLE's validity.
    */
  private[ext] val CoreUnroll = 6

  /** d23 — k-core decomposition of the MinHash near-dup graph (edges =
    * [[minhashLsh]] pairs, d7's cluster substrate): repeatedly delete
    * every node of degree < k until fixpoint. The k-core separates the
    * DENSE duplication communities (near-cliques, safe to collapse to
    * one canonical) from the chain/tendril periphery hiding inside the
    * same connected component — d10's census asks the clique-vs-chain
    * question globally; this answers it per document. Output: core
    * members with their within-core degree (`peel_round` 0) and peeled
    * documents with the round they died and their degree at the start of
    * that round — the shell profile.
    *
    * Scale: the mirrored edge frame materializes ONCE and is never
    * rewritten — each round subtracts the degree LOSS instead: edges
    * whose `v` endpoint just died, joined against the (shrinking) doomed
    * frame and counted per surviving `u`. Rewriting the edges every
    * round (the first formulation) re-materialized the full frame per
    * round and swept at exp 1.47 on the decade (116 s at sf1-synth);
    * the subtract form touches the full frame read-only per round with
    * only node-sized frames ever written, and the doomed join side is
    * exactly the nodes that died this round — small after round 1 (AQE
    * runtime-broadcasts it when it measures small; never a static hint,
    * since round 1's doomed set is data-dependent and can be large).
    * Lineage truncates per round on the node-sized frames only; the loop
    * is driven by the count the checkpoint already runs (the
    * [[minLabelClusters]] discipline). Rounds to fixpoint = the graph's
    * peel depth (2–3 here; shallow on near-clique dup graphs). Removal
    * is SIMULTANEOUS per round, so the result is iteration-order
    * independent — the standard k-core uniqueness argument — which lets
    * the oracle's unrolled fixed-round form hash-match the converged
    * loop. A node whose every neighbor dies in round r drops to degree 0
    * but is itself recorded in round r+1 (it was alive all of round r) —
    * `deg − lost = 0` keeps such nodes visible.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame =
    kcoreOf(minhashLsh(spark, sfDir), CoreK)

  /** The d23 peel loop over an arbitrary `(doc_a, doc_b)` pair frame —
    * injectable (with its threshold) so the guard spec below can drive a
    * deep-peel graph that the corpus never produces.
    */
  private[ext] def kcoreOf(pairs: DataFrame, coreK: Long): DataFrame = {
    // LAZY-checkpointed (r14 opt): the r10 measurement that re-scanning
    // the lsh_pairs parquet per round beat EAGER materialization held,
    // but a lazy checkpoint is strictly better than both — the 2-long
    // mirrored edge frame materializes as a side effect of round 1's
    // degree aggregation (no extra blocking job) and every later round's
    // loss join reads the cached blocks instead of re-running scan +
    // explode (measured 7.3 -> 4.6 s on the sf0.1 957k-pair graph;
    // 2x8 bytes/edge keeps even the sf10 238M-pair graph's checkpoint
    // in MEMORY_AND_DISK range on the design cluster).
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(false)
    // LAZY checkpoints (k13's measured trade, same discipline as
    // [[pageRankOn]]): each frame still materializes exactly once — on
    // first reference — but the round's only BLOCKING driver round-trip
    // is the doomed count, whose job materializes the new deg and doomed
    // checkpoints as side effects. The eager form ran three blocking
    // jobs per round (deg checkpoint, doomed checkpoint, count), and at
    // peel depth 2–3 those 6–9 driver syncs were each exposed to ambient
    // load — the source of the 7–34 s sf1 swings in the round-10 runs.
    var deg = edges.groupBy(col("u").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val shells = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 1L
    var doomed = deg.filter(col("deg") < coreK).localCheckpoint(false)
    var nDoomed = doomed.count()
    while (nDoomed > 0) {
      // the oracle states exactly CoreUnroll peel rounds: a corpus whose
      // true peel depth exceeds that would CONVERGE here but no longer
      // match the unrolled SQL — fail loudly instead of silently
      // desynchronizing the correctness gate (raise CoreUnroll and the
      // oracle's unroll together if this ever fires)
      require(round <= CoreUnroll,
        s"d23 peel depth exceeds the oracle unroll CoreUnroll=$CoreUnroll")
      shells += doomed.select(col("doc_id"), lit(false).as("in_core"),
        lit(round).as("peel_round"), col("deg"))
      // degree loss: edges whose far endpoint just died, per survivor
      val loss = edges
        .join(doomed.select(col("doc_id").as("v")), Seq("v"))
        .groupBy(col("u").as("doc_id"))
        .agg(count(lit(1)).as("lost"))
      deg = deg.filter(col("deg") >= coreK)
        .join(loss, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
        .localCheckpoint(false)
      round += 1
      doomed = deg.filter(col("deg") < coreK).localCheckpoint(false)
      nDoomed = doomed.count()
    }
    val core = deg.select(col("doc_id"), lit(true).as("in_core"),
      lit(0L).as("peel_round"), col("deg"))
    (shells :+ core).reduce(_ unionByName _)
  }

  /** d11 — PageRank over the semantic near-dup graph (same indexed edge
    * set as d9/d10): the canonical-document selector. When a near-dup
    * cluster collapses to one representative, "highest PageRank in the
    * similarity graph" picks the document most centrally duplicated —
    * the web-dedup heuristic — and the rank is also the hub score the
    * d10 census reads pointwise.
    *
    * Engine-portable by INTEGER arithmetic: rank mass is carried in
    * units of 10^-12 (longs). Each contribution floor-divides by the
    * degree and the damping fold is integer `(85·msg) DIV 100`, so
    * every iteration is a sum of exact longs — order-independent where
    * a float PageRank's last ulp depends on reduction order, which no
    * engine pins. The oracle unrolls the same three iterations in SQL.
    *
    * Scale shape: classic edge-partitioned message passing as joins —
    * contributions = rank ⋈ degree (node-sized), messages = edges ⋈
    * contributions shuffled on the edge key, then a node-keyed sum.
    * Nothing corpus-sized broadcasts (the one-row node count does);
    * state per iteration is one node-sized frame, checkpointed to cut
    * lineage exactly as d7's label propagation does.
    */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame =
    pageRankOn(embedNearDup(spark, sfDir), "vec_a", "vec_b",
      Tables.embeddings(spark, sfDir).select(col("vec_id")), "vec_id", iters)
      .withColumnRenamed("id", "vec_id")

  /** PageRank over an arbitrary undirected pair frame — the d11 engine,
    * parameterized like [[minLabelClusters]] so the property spec can
    * drive it over arbitrary graphs. Returns (id, rank_scaled).
    */
  private[ext] def pageRankOn(pairs: DataFrame, aCol: String, bCol: String,
      ids: DataFrame, idCol: String, iters: Int = 3): DataFrame = {
    val Scale = 1000000000000L
    // LAZY checkpoints throughout (k13's measured trade): each frame
    // still materializes exactly once — on its first reference — and
    // every later iteration reads the cached blocks, but the driver
    // never BLOCKS between stages, so independent stages of an
    // iteration overlap instead of serializing on eager materialization
    // Mirror by EXPLODE, not union (r15): the union form referenced the
    // `pairs` subtree twice — one full evaluation of the caller's edge
    // build per leg inside the checkpoint's materializing job. The
    // explode emits both orientations in one pass over one evaluation.
    val und = pairs
      .select(explode(array(
        struct(col(aCol).as("u"), col(bCol).as("v")),
        struct(col(bCol).as("u"), col(aCol).as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(false) // consumed twice below (degree agg + join)
    // The node frame is referenced 2×(iters+1) times — once per rank
    // update and once inside every nF broadcast — and the CALLER's id
    // subtree can be corpus-sized work (x29's is the token scan +
    // posexplode + distinct). Lazy checkpoint makes it evaluate once;
    // every later reference reads the cached single-column blocks
    // (r15: x29 tasktime 2.5 s was dominated by ~8 re-evaluations of
    // that subtree).
    val nodes = ids.select(col(idCol).as("u")).localCheckpoint(false)
    val nF = nodes.agg(count(lit(1)).as("n"))
    // Degree rides the EDGE frame (r14 opt): contributions used to be a
    // per-iteration r ⋈ deg node join whose result then joined the edges
    // — folding deg onto each edge once makes every iteration ONE join
    // (edges ⋈ r) + one aggregate instead of two joins; `r DIV deg` per
    // edge is the identical integer value it was per node. One edge-frame
    // column of 8 bytes buys iters× fewer exchanges.
    val undDeg = und
      .join(und.groupBy("u").agg(count(lit(1)).as("deg")), Seq("u"))
      .localCheckpoint(false) // referenced every iteration
    var r = nodes.crossJoin(broadcast(nF)) // one-row frame: correct broadcast
      .select(col("u"), expr(s"$Scale DIV n").as("r"))
    // PERIODIC checkpointing, not per-iteration (r15): each rank frame
    // is consumed exactly ONCE (the next iteration's msg join), so a
    // per-iteration checkpoint buys no reuse — it only truncates
    // lineage, at the price of one materializing job + its AQE stage
    // chain PER ITERATION (x29 ran 27 sequential jobs for 3 iterations,
    // wall ≈ job count × fixed sync cost at sf0.1). Checkpointing every
    // 4th iteration keeps the plan bounded for deep spec-driven runs
    // while a 3-iteration production call (d11, x29) plans as ONE
    // AQE-optimized tree with no intermediate materialization.
    for (i <- 1 to iters) {
      val msg = undDeg.join(r, Seq("u"))
        .groupBy("v").agg(sum(expr("r DIV deg")).as("msg"))
        .select(col("v").as("u"), col("msg"))
      r = nodes.crossJoin(broadcast(nF))
        .join(msg, Seq("u"), "left")
        .select(col("u"),
          expr(s"(15 * ($Scale DIV n)) DIV 100 + (85 * coalesce(msg, CAST(0 AS BIGINT))) DIV 100")
            .as("r"))
      if (i % 4 == 0 && i < iters) r = r.localCheckpoint(false)
    }
    r.select(col("u").as("id"), col("r").as("rank_scaled"))
  }

  // ---- d6: embedding cosine near-dup (hyperplane LSH) -------------------

  /** Deterministic ±1 hyperplanes, shared with the oracle SQL as literal
    * arrays. Planes 0-15 are the original four 4-plane tables (their
    * hash seeds must never shift — s3/s6/s7 slice them and every
    * historical bucket depends on them); planes 16-31 are the EXTRA bit
    * per table the adaptive bucket width (d6) turns on as the corpus
    * grows.
    */
  private[ext] val planes: Seq[Seq[Int]] = {
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = md.take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % P
    }
    for (plane <- 0 until 32) yield
      for (d <- 0 until 64) yield if (h(s"hp:$plane:$d") % 2 == 0) 1 else -1
  }

  private def planeLit(p: Seq[Int]): Column =
    array(p.map(v => lit(v.toDouble)): _*)

  /** Bucket of table t (4 planes): 4 sign bits packed. Plane projections
    * go through the fused native [[graft.functions.DotProduct]] — one pass
    * per plane, no intermediate array, bit-identical to
    * `list_dot_product` in the oracle.
    */
  private[ext] def bucket(vec: Column, t: Int): Column = {
    import graft.functions.DotProduct.dotProduct
    (0 until 4).map { p =>
      when(dotProduct(vec, planeLit(planes(t * 4 + p))) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** 8-bit bucket of table t: bits 0-3 are [[bucket]]'s planes verbatim
    * (so masking to 4 bits reproduces the historical bucket exactly),
    * bits 4-7 come from the extension planes 16-31. The adaptive width
    * (d6) masks this down to however many bits the corpus size asks for.
    */
  private[ext] def wideBucket(vec: Column, t: Int): Column = {
    import graft.functions.DotProduct.dotProduct
    (0 until 8).map { p =>
      val plane = if (p < 4) planes(t * 4 + p) else planes(16 + t * 4 + (p - 4))
      when(dotProduct(vec, planeLit(plane)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Occupancy dial for the adaptive bucket width: with ≤ [[BucketN0]]
    * vectors the tables keep their historical 4 bits; every doubling
    * past it adds one bit (up to 8), holding expected per-bucket
    * occupancy — and with it the Σ|bucket|² candidate-pair term — fixed
    * instead of letting it grow linearly with the corpus. This is the
    * measured super-linear term of the round-6 scaling sweep (PLANS.md):
    * fixed bucket counts made 10× vectors cost ~30× in candidate pairs.
    */
  private[ext] val BucketN0 = 2000L

  /** Bucket-width bits for a corpus of `n` vectors, as a portable integer
    * expression (no libm log): 4 + one per doubling past [[BucketN0]],
    * capped at 8 — both engines evaluate the identical comparison chain.
    */
  private def bucketBitsMinus3(n: Column): Column =
    lit(1) + (1 to 4).map(k =>
      when(n > BucketN0 * (1L << (k - 1)), 1).otherwise(0)).reduce(_ + _)

  /** Embedding near-dup: OR-construction of 4 hyperplane tables with an
    * ADAPTIVE per-table bit width — a pair is a candidate if it shares a
    * bucket in ANY table; exact cosine ≥ 0.4 confirms. Probability of
    * catching a pair at angle θ is 1-(1-(1-θ/π)^b)⁴ — the classic ANN
    * recall/candidate-count dial, where b = bucket bits now GROWS with
    * the corpus (one bit per doubling past [[BucketN0]], 4→8): per-bucket
    * occupancy stays ~constant, so the Σ|bucket|² candidate term scales
    * linearly instead of quadratically (the round-6 sweep measured the
    * fixed-width version at ~30× per 10× data). At test scale b=4, so
    * every historical result is bit-identical; the oracle computes the
    * same n-dependent width from its own count. At 100 TB the O(n²)
    * exact check is gone; only per-bucket pairs remain.
    */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    // persisted corpus index, as with [[minhashLsh]]: d6's output is the
    // edge set of d9's clusters, d10's census, and d11's PageRank
    graft.sources.CorpusIndex.ensureBucketed(spark, "embed_pairs",
      sfDir, Seq("embeddings"), "vec_a")(buildEmbedNearDup(spark, sfDir))

  private[ext] def buildEmbedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    buildEmbedNearDupOn(Tables.embeddings(spark, sfDir))

  /** The d6 pipeline over an arbitrary `(vec_id, embedding)` frame — the
    * spec drives it past the adaptive-width threshold on a synthetic
    * corpus the testdata alone can't reach.
    */
  private[ext] def buildEmbedNearDupOn(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      // referenced by the bucketing and both exact-cosine re-joins
      .localCheckpoint()
    // Candidate join moves only (tbl, bkt, vec_id); vectors re-join onto
    // the distinct candidate pairs for the exact cosine. The bucketing is
    // materialized once for its two join sides. No broadcast hints EXCEPT
    // the one-row count frame driving the adaptive width: the bucketed
    // frame is 4 rows per VECTOR and the vector frame one 64-double row
    // per vector — both corpus-sized, the worst possible broadcast
    // payloads at 100 TB. The candidate join shuffles on (tbl, bkt) —
    // per-bucket co-location is the whole point of LSH — and the confirm
    // joins shuffle on vec_id, so vectors move once each.
    val nv = e.agg(count(lit(1)).as("n_vecs"))
    val mask = element_at(
      array(lit(15L), lit(31L), lit(63L), lit(127L), lit(255L)),
      bucketBitsMinus3(col("n_vecs")))
    val bucketed = e.crossJoin(broadcast(nv))
      .select(col("vec_id"),
        explode(array((0 until 4).map(t =>
          struct(lit(t).as("tbl"),
            wideBucket(col("v"), t).bitwiseAND(mask).as("bkt"))): _*)).as("b"))
      .select(col("vec_id"), col("b.tbl"), col("b.bkt"))
      .localCheckpoint()
    val cand = bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("vec_a"))
      .join(bucketed.select(col("tbl"), col("bkt"), col("vec_id").as("vec_b")),
        Seq("tbl", "bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.CosineSimilarity.cosineSim(col("va"), col("vb")).as("cos_raw"))
    barrierFilter(scored, col("cos_raw") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos_raw"), 6).as("cos"))
  }

  // ---- d12: duplicated-substring spans ----------------------------------

  /** Span gram width (tokens): a duplicated region must contain at least
    * one full 8-token window to be detected — the standard
    * exact-substring-dedup granularity trade-off (cf. the 50-token
    * threshold in suffix-array substring dedup; 8 fits this corpus's
    * ~50-token documents).
    */
  private[ext] val SpanGram = 8

  /** d12 — EXACT duplicated-substring spans (the suffix-array-free form
    * of "deduplicate repeated training text"): for every document, the
    * maximal token ranges whose every [[SpanGram]]-token window also
    * appears in ANOTHER document. Where d2/d3 decide *documents* are
    * near-dups, d12 localizes *which part* is copied — the operator that
    * cuts boilerplate/quoted regions out of training text rather than
    * dropping whole documents.
    *
    * Relational formulation, all linear passes:
    *   1. rolling 8-gram hash per position — 7 `lead`s over ONE window
    *      (one shuffle on doc_id) over the shared [[tokenHashFrame]];
    *   2. grams seen in ≥ 2 documents — one aggregation on the gram key
    *      (map-side combinable; the duplicated-gram set is tiny next to
    *      the corpus);
    *   3. positions of duplicated grams — a semi join back on the gram
    *      key (ids and positions shuffle, never text);
    *   4. gaps-and-islands merge of overlapping windows (`lag` + running
    *      sum over the per-doc window) into maximal spans.
    * At 100 TB every shuffle here carries longs keyed by doc_id or gram
    * hash — the same postings shape as d2 — and the quadratic all-pairs
    * comparison never materializes at all. Gram identity is the portable
    * 31-fold hash mod P: a cross-doc hash collision (≈n²/2P) can mark a
    * span both engines agree on — the documented approximation, identical
    * in the oracle.
    */
  def substringSpans(spark: SparkSession, sfDir: String): DataFrame =
    // persisted corpus index: the maximal duplicated spans are consumed
    // by d12 itself, d15's coverage gate, and c9's span scrub — the
    // posting self-join + islands merge runs once per corpus snapshot
    graft.sources.CorpusIndex.ensureBucketed(spark, "dup_spans",
      sfDir, Seq("documents"), "doc_id")(
      substringSpansOf(tokenHashFrame(spark, sfDir)))

  /** d15 — SPAN-COVERAGE dedup gate: the whole-document decision on top
    * of d12's localized spans — what fraction of each document is
    * duplicated substring content, and the `mostly_dup` verdict
    * (coverage ≥ 1/2) that drops boilerplate-dominated documents d1/d3
    * both miss (never exact copies, too diluted for whole-doc Jaccard).
    * Spans are d12's maximal non-overlapping islands, so the coverage
    * sum never double-counts; the threshold CROSS-MULTIPLIES
    * (`2·dup ≥ n`) in exact integers. Cost on top of d12: one per-doc
    * rollup of span lengths + one left join against the corpus id/size
    * projection — every document appears, zero-span docs with 0.
    */
  def spanCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val cov = substringSpans(spark, sfDir)
      .groupBy("doc_id").agg(sum("n_dup_tokens").as("n_dup_tokens"))
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("mostly_dup",
        col("n_dup_tokens") * 2 >= col("n_tokens"))
  }

  /** d12 over an arbitrary `(doc_id, pos, h)` frame — test surface. */
  private[ext] def substringSpansOf(th: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val gram = (1 until SpanGram).foldLeft(col("h")) { (acc, i) =>
      (acc * 31L + lead("h", i).over(w)) % P
    }
    val grams = th
      .select(col("doc_id"), col("pos"), gram.as("g"))
      .filter(col("g").isNotNull) // tail positions with no full window
    val dup = grams.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val hits = grams.join(dup, Seq("g")).select("doc_id", "pos")
    // windows starting ≤ SpanGram apart overlap or touch → one island;
    // two Window steps (mark, then running sum) — window functions can't
    // nest in one expression, and both ride the same (doc_id, pos)
    // ordering so Catalyst plans a single sort
    hits
      .withColumn("ni",
        when(col("pos") - lag("pos", 1).over(w) > SpanGram, 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      // output positions are 1-based token ordinals (pos is 0-based here,
      // 1-based in the oracle's generate_subscripts — offsets cancel)
      .agg((min("pos") + 1).cast("long").as("span_start"),
        (max("pos") + SpanGram).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("n_dup_tokens"))
  }

  // ---- d13: incremental (delta-vs-corpus) near-dup -----------------------

  /** d13 — INCREMENTAL near-dup: a delta shard (`doc_id % 10 = 0` stands
    * in for "today's ingest") deduplicated against the full corpus
    * without recomputing the corpus-side self-join — the shape a 100 TB
    * pipeline actually runs daily. The corpus side is the persisted
    * [[sketchFrame]] index (built once per snapshot); only the DELTA's
    * band keys join against it, so per-ingest cost follows |delta| ×
    * collision rate, not |corpus|². Result ≡ d3's pairs restricted to
    * those touching the delta (the oracle states exactly that), so the
    * incremental path is provably consistent with the batch path.
    *
    * Pair-uniqueness without a DISTINCT: the delta side is always the
    * left leg, so a delta×non-delta collision is emitted once by
    * construction; a delta×delta collision (both legs present on the
    * left) keeps only the `a < b` orientation. Band exclusivity (band 1
    * requires band 0 to differ) carries over from d3 unchanged.
    */
  def incrementalLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val per = sketchFrame(spark, sfDir)
    incrementalPairs(per.filter(col("doc_id") % 10 === 0),
      per.filter(col("doc_id") % 10 =!= 0), checkpointSides = true)
  }

  /** The per-ingest engine shared by d13 and the streaming writer
    * ([[graft.streaming.NearDupStream]]): near-dup pairs TOUCHING
    * `delta` — delta×index band collisions plus delta-internal ones —
    * confirmed exact. `delta` and `index` are [[sketchOf]] frames with
    * disjoint id sets. Pair uniqueness holds without a DISTINCT: a
    * delta×index collision is emitted once by construction (only delta
    * ids sit on the left leg), a delta×delta collision keeps the
    * `a < b` orientation, and band exclusivity (band 1 requires band 0
    * to differ) carries over from d3 unchanged.
    */
  private[graft] def incrementalPairs(delta: DataFrame, index: DataFrame,
      checkpointSides: Boolean = false): DataFrame = {
    val keep = Seq(col("doc_id")) ++ bandCols.map(col) :+ col("toks")
    val all = delta.select(lit(true).as("b_delta") +: keep: _*)
      .unionByName(index.select(lit(false).as("b_delta") +: keep: _*))
    // Both band-join legs carry size(toks) so the exact-Jaccard NECESSARY
    // condition (see [[jaccardPairs]]) rides the join condition itself:
    // a candidate whose sizes already rule out jac >= 9/10 dies on two
    // stored ints inside the join instead of joining its token arrays
    // (~29% of sf0.1 candidates; pure pushdown — jaccardPairs re-applies
    // the same bound, so the pair set is untouched).
    val l0 = delta.select(col("doc_id").as("da") +: size(col("toks")).as("na") +:
      bandCols.map(c => col(c).as(s"a$c")): _*)
    val corpus0 = all.select(col("doc_id").as("db") +: col("b_delta") +:
      size(col("toks")).as("nb") +: bandCols.map(c => col(c).as(s"b$c")): _*)
    // Batch path (d13): lazy-checkpoint the two NARROW band frames — the
    // eight per-band broadcast builds otherwise each re-scan the sketch
    // index as their own sequential AQE stage, and the eight stream legs
    // re-scan it again (measured 3.2 s -> 1.7 s at sf0.1; the frames are
    // doc_id + size + [[LshBands]] longs, ~80 B/doc, so the
    // materialization is bounded and write-once). The STREAMING caller
    // ([[graft.streaming.NearDupStream]]) keeps re-scanning instead:
    // there the index side is corpus-sized per micro-batch while the
    // delta is tiny, and a per-batch materialization of the whole index
    // would accumulate checkpoint blocks across batches.
    val (l, corpus) =
      if (checkpointSides) (l0.localCheckpoint(false), corpus0.localCheckpoint(false))
      else (l0, corpus0)
    val once = col("da") < col("db") || !col("b_delta")
    val sizeOk = least(col("na"), col("nb")) * 19 >= (col("na") + col("nb")) * 9
    val cand = (0 until LshBands).map { b =>
      val cond = (0 until b).map(j => col(s"abk$j") =!= col(s"bbk$j"))
        .foldLeft(col(s"abk$b") === col(s"bbk$b") &&
          col("da") =!= col("db") && once && sizeOk)(_ && _)
      l.join(corpus, cond).select(col("da"), col("db"))
    }.reduce(_ unionByName _)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
    val toks = all.select(col("doc_id"), col("toks"))
    jaccardPairs(
      cand
        .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
        .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b")),
      col("ta"), col("tb"), 0.9, (9, 10))
  }

  // ---- d21: ingest-impact cluster churn ----------------------------------

  /** d21 — INGEST CHURN audit: what the delta batch (d13's convention —
    * `doc_id % 10 = 0` is the arriving ingest) did to the cluster
    * structure. Per after-cluster TOUCHED by the ingest (≥1 new member):
    * member count, new members, and how many PRE-EXISTING clusters its
    * old members came from — `n_before_clusters ≥ 2` means the batch
    * BRIDGED previously-separate near-dup families (`merged`), the event
    * a dedup-pipeline operator actually watches for (a crawl that glues
    * families together changes every downstream keep/drop and weight).
    *
    * Before-labels run the SAME fold-proven CC engine
    * ([[minLabelClusters]]) over the persisted pair index restricted to
    * old×old edges; after-labels are the indexed d7 table. Output is
    * bounded by delta-touching clusters, not the corpus. At 100 TB the
    * before-labels of the PREVIOUS snapshot would be the persisted label
    * table itself — here they are recomputed from the same pair index
    * the snapshot would have had, which is the identical relation.
    */
  /** The PRE-INGEST label table (labels over old docs and old×old
    * edges) — a persisted corpus index like d7's: in production it IS
    * the previous snapshot's label table; here it derives from the same
    * pair index that snapshot would have had. Built by `MaintenanceJob`
    * alongside `labels_minhash`.
    */
  private[graft] def preIngestLabels(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.CorpusIndex.ensureBucketed(spark, s"labels_minhash_old$geomTag$capTag",
      sfDir, Seq("documents"), "canonical")(
      minLabelClusters(
        minhashLsh(spark, sfDir)
          .filter(col("doc_a") % 10 =!= 0 && col("doc_b") % 10 =!= 0),
        "doc_a", "doc_b",
        docs(spark, sfDir).select("doc_id").filter(col("doc_id") % 10 =!= 0),
        "doc_id"))

  def ingestChurn(spark: SparkSession, sfDir: String): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    val after = dedupClusters(spark, sfDir)
    val before = preIngestLabels(spark, sfDir)
      .withColumnRenamed("canonical", "before_label")
    val touched = after.groupBy("canonical")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(isDelta, 1L).otherwise(0L)).as("n_new"))
      .filter(col("n_new") > 0)
    val merges = after.join(before, Seq("doc_id")) // old members only
      .groupBy("canonical")
      .agg(count_distinct(col("before_label")).as("n_before_clusters"))
    touched.join(merges, Seq("canonical"), "left")
      .select(col("canonical"), col("n_docs"), col("n_new"),
        coalesce(col("n_before_clusters"), lit(0L)).as("n_before_clusters"))
      .withColumn("merged", col("n_before_clusters") >= 2)
  }

  // ---- d22: chunk-grain dedup retention ----------------------------------

  /** d22 — dedup at CHUNK grain rather than document grain: every 32-token
    * chunk (the [[Prep.chunks]] frame, same fingerprints the curation
    * pipeline already carries) keeps only its first occurrence in corpus
    * order `(doc_id, chunk_id)`; later copies anywhere in the corpus are
    * dropped. Output is the per-source attrition report — chunks seen /
    * retained and the token-weighted retained fraction — the number a
    * pipeline owner reads to see how much of each feed is boilerplate
    * already covered elsewhere (doc-grain dedup d1/d3 misses exactly this:
    * near-identical docs share most chunks but few survive a whole-doc
    * hash or a 0.9 Jaccard).
    *
    * Scale shape: ONE shuffle on `(chunk_fp, n_tokens)` for the
    * first-occurrence window (fingerprints are longs — the text never
    * moves), one doc_id-keyed join to recover `source`, then a 20-row
    * rollup. `row_number` over the fp partition is the dedup decision
    * itself, so there is no self-join and no candidate set: at 100 TB the
    * cost is the chunk scan plus a fingerprint-keyed exchange, the same
    * class as d1. Ties cannot exist — `(doc_id, chunk_id)` is unique — so
    * the retained set is deterministic and the oracle hash-matches.
    */
  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("chunk_fp", "n_tokens")
      .orderBy("doc_id", "chunk_id")
    val marked = Prep.chunks(spark, sfDir)
      .withColumn("rn", row_number().over(w))
    val retTok = sum(when(col("rn") === 1, col("n_tokens")).otherwise(0L))
    marked
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_retained"),
        sum(col("n_tokens")).as("tok_total"),
        retTok.as("tok_retained"),
        round(retTok.cast("double") / sum(col("n_tokens")).cast("double"), 6)
          .as("retained_frac"))
  }

  // ---- registry ---------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "d21_ingest_churn" -> (ingestChurn _),
    "d22_chunk_dedup" -> (chunkDedup _),
    "d1_exact_dedup" -> (exactDedup _),
    "d2_ngram_jaccard" -> (ngramJaccard _),
    "d3_minhash_lsh" -> (minhashLsh _),
    "d25_lsh_recall" -> (lshRecallEval _),
    "d26_band_occupancy" -> (bandOccupancy _),
    "d27_exact_then_lsh" -> (exactThenLsh _),
    "d4_simhash" -> (simhashSketch _),
    "d5_simhash_neardup" -> (simhashNearDup _),
    "d6_embed_neardup" -> (embedNearDup _),
    "d7_dedup_clusters" -> (dedupClusters _),
    "d17_source_dup_rate" -> (sourceDupRate _),
    "d20_cross_source_overlap" -> (crossSourceOverlap _),
    "d18_cluster_histogram" -> (clusterHistogram _),
    "d24_cluster_gini" -> (clusterGini _),
    "d19_cluster_medoids" -> (clusterMedoids _),
    "d8_minhash_estimate" -> (minhashEstimate _),
    "d9_embed_clusters" -> (embedClusters _),
    "d10_triangle_census" -> (triangleStats _),
    "d23_kcore" -> (kcore _),
    "d11_pagerank" -> ((s, d) => pageRank(s, d)),
    "d12_substring_spans" -> (substringSpans _),
    "d13_incremental_lsh" -> (incrementalLsh _),
    "d14_containment" -> (containment _),
    "d15_span_coverage" -> (spanCoverage _),
    "c11_leakage_split" -> (leakageSplit _),
    "c13_cluster_weights" -> (clusterWeights _),
    "d16_retention" -> (retentionPolicy _)
  )

  // ---- oracle SQL -------------------------------------------------------

  /** `toks` is already the hashed-long token array in the d3 oracle.
    * d3 uses the first [[LshPerms]]; d8 the first 16 (its estimator
    * contract).
    */
  private def sigSqlsN(n: Int): Seq[String] =
    (0 until n).map(i => s"list_min(list_transform(toks, h -> ${affineSql(i, "h")}))")
  private val sigSqls: Seq[String] = sigSqlsN(LshPerms)

  /** DuckDB twin of [[bandKeyAt]]: band `b` of `rows`-row bands. */
  private def bandKeySqlAt(b: Int, rows: Int): String =
    (b * rows until (b + 1) * rows)
      .foldLeft("CAST(0 AS BIGINT)")((acc, i) => s"(($acc) * 31 + s$i) % $P")
  private def bandKeySql(b: Int): String = bandKeySqlAt(b, LshRows)

  private[ext] val planesSqlLits: Seq[String] =
    planes.map(p => p.map(v => s"$v.0").mkString("[", ",", "]") + "::DOUBLE[]")

  private[ext] def bucketSql(vcol: String, t: Int): String =
    (0 until 4).map { p =>
      s"(CASE WHEN list_dot_product($vcol, ${planesSqlLits(t * 4 + p)}) > 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** 8-bit twin of [[bucketSql]] — low 4 bits identical, high 4 from the
    * extension planes; d6's oracle masks it by the same n-dependent
    * width as the Spark side.
    */
  private def wideBucketSql(vcol: String, t: Int): String =
    (0 until 8).map { p =>
      val lits = if (p < 4) planesSqlLits(t * 4 + p)
        else planesSqlLits(16 + t * 4 + (p - 4))
      s"(CASE WHEN list_dot_product($vcol, $lits) > 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The adaptive-width mask, DuckDB side: same comparison chain as
    * `bucketBitsMinus3`, indexing the same mask list (1-based).
    */
  private val maskSql: String = {
    val idx = (1 to 4).map(k =>
      s"(CASE WHEN n_vecs > ${BucketN0 * (1L << (k - 1))} THEN 1 ELSE 0 END)")
      .mkString("1 + ", " + ", "")
    s"(list_value(CAST(15 AS BIGINT), 31, 63, 127, 255)[$idx])"
  }

  /** d3's full oracle SQL — also the edge set of d7's closure.
    *
    * Mirrors the engine's candidate emission 1:1, including the r14
    * [[HotBandKeyCap]]: a pair is claimed by its FIRST matching band
    * (the exclusivity conjunction `a.bk_j <> b.bk_j` for j < b — this
    * replaced the earlier DISTINCT-over-all-bands formulation, which is
    * set-identical while no key is hot but diverges once one is); a
    * band key with more than [[HotBandKeyCap]] members emits the
    * min-doc_id-rooted star of n−1 pairs instead of all C(n,2)
    * (`arg_min(bk_j, doc_id)` is DuckDB's spelling of the engine's
    * `min(struct(doc_id, bk_j…))` root-key extraction).
    * NOT EXISTS / EXISTS rather than (NOT) IN for the hot probes: an
    * all-NULL-key document (empty token set) must stay inert, not
    * NULL-poison the predicate.
    */
  private val d3Sql: String = {
    val normalArm = (0 until LshBands).map { b =>
      val excl = (0 until b).map(j => s" AND a.bk$j <> b.bk$j").mkString
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM keys a JOIN keys b
         |    ON a.bk$b = b.bk$b AND a.doc_id < b.doc_id$excl
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.band = $b AND h.bkey = a.bk$b)""".stripMargin
    }
    val starArm = (0 until LshBands).map { b =>
      val roots = (0 until b)
        .map(j => s", arg_min(bk$j, doc_id) OVER w AS rbk$j, bk$j AS cur$j").mkString
      val excl = (0 until b).map(j => s" AND rbk$j <> cur$j").mkString
      s"""SELECT rdoc AS doc_a, sdoc_b AS doc_b FROM (
         |    SELECT doc_id AS sdoc_b, min(doc_id) OVER w AS rdoc$roots
         |    FROM keys
         |    WHERE EXISTS (SELECT 1 FROM hot h WHERE h.band = $b AND h.bkey = bk$b)
         |    WINDOW w AS (PARTITION BY bk$b))
         |  WHERE sdoc_b <> rdoc$excl""".stripMargin
    }
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")})) AS toks
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |    ${sigSqls.zipWithIndex.map { case (s, i) => s"$s AS s$i" }.mkString(", ")}
       |  FROM d),
       |keys AS (
       |  SELECT doc_id,
       |    ${(0 until LshBands).map(b => s"${bandKeySql(b)} AS bk$b").mkString(", ")}
       |  FROM sig),
       |occ AS (
       |  SELECT band, bkey, count(*) AS cnt FROM (
       |    ${(0 until LshBands).map(b => s"SELECT $b AS band, bk$b AS bkey FROM keys")
              .mkString("\n    UNION ALL\n    ")})
       |  GROUP BY band, bkey),
       |hot AS (SELECT band, bkey FROM occ WHERE cnt > $HotBandKeyCap),
       |cand AS (
       |  ${(normalArm ++ starArm).mkString("\n  UNION ALL\n  ")})
       |SELECT doc_a, doc_b,
       |  round(${jaccardSql("x.toks", "y.toks")}, 6) AS jac
       |FROM cand JOIN d x ON x.doc_id = cand.doc_a
       |          JOIN d y ON y.doc_id = cand.doc_b
       |WHERE ${jaccardSql("x.toks", "y.toks")} >= 0.9""".stripMargin
  }

  /** d7's full oracle SQL — the text-cluster closure; also c11's base
    * and p5's weight source. */
  private[ext] val d7Sql: String =
    s"""WITH pairs AS ($d3Sql),
       |und AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |        UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT doc_id, doc_id FROM documents
       |    UNION
       |    SELECT r.src, e.v FROM r JOIN und e ON r.dst = e.u)
       |  SELECT src, dst FROM r)
       |SELECT src AS doc_id, min(dst) AS canonical
       |FROM reach GROUP BY src""".stripMargin

  /** d6's full oracle SQL — also the edge set of d9's closure. */
  private val d6Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |nv AS (SELECT count(*) AS n_vecs FROM e),
       |bucketed AS (
       |  ${(0 until 4).map(t =>
           s"SELECT vec_id, v, $t AS tbl, ${wideBucketSql("v", t)} & $maskSql AS bkt " +
             "FROM e CROSS JOIN nv")
           .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |  round(list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
       |FROM cand JOIN e x ON x.vec_id = cand.vec_a
       |          JOIN e y ON y.vec_id = cand.vec_b
       |WHERE list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.4""".stripMargin

  /** d12's full oracle SQL — also the span set of c9's scrub. */
  private[ext] val d12Sql: String = {
    // gram fold mirrors the Spark side exactly: mod P at every step
    val gramSql = (1 until SpanGram).foldLeft("h")((acc, i) =>
      s"((($acc) * 31 + lead(h, $i) OVER w) % $P)")
    s"""WITH tk AS (
         |  SELECT doc_id, generate_subscripts(${tokensSql("text")}, 1) AS pos,
         |         unnest(${tokensSql("text")}) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, pos, ${tokenHashSql("tok")} AS h FROM tk),
         |grams AS (
         |  SELECT doc_id, pos, $gramSql AS g FROM th
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |fg AS (SELECT doc_id, pos, g FROM grams WHERE g IS NOT NULL),
         |dup AS (SELECT g FROM fg GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |hits AS (SELECT doc_id, pos FROM fg WHERE g IN (SELECT g FROM dup)),
         |mark AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |              > $SpanGram THEN 1 ELSE 0 END AS ni
         |  FROM hits),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM mark)
         |SELECT doc_id,
         |  CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + ${SpanGram - 1} AS BIGINT) AS span_end,
         |  CAST(max(pos) + ${SpanGram - 1} - min(pos) + 1 AS BIGINT) AS n_dup_tokens
         |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d22_chunk_dedup" ->
      s"""${Prep.chunkFrameSql},
         |m AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY chunk_fp, n_tokens
         |      ORDER BY doc_id, chunk_id) AS rn
         |  FROM chunks)
         |SELECT s.source,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
         |  CAST(sum(n_tokens) AS BIGINT) AS tok_total,
         |  CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS tok_retained,
         |  round(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) * 1.0
         |    / sum(n_tokens), 6) AS retained_frac
         |FROM m JOIN documents s USING (doc_id)
         |GROUP BY s.source""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH s0 AS (
         |  SELECT doc_id, source, $shingleHashesSql AS sh
         |  FROM (SELECT doc_id, source,
         |          list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |post AS (SELECT doc_id, source, unnest(sh) AS shingle FROM s0),
         |dfreq AS (SELECT source, shingle, count(*) AS cnt
         |          FROM post GROUP BY source, shingle),
         |s AS (
         |  -- hot-shingle cap mirrored from the Spark side: shingles with
         |  -- per-block df > $HotShingleCap leave the index AND the set sizes
         |  SELECT p.doc_id, p.source, list(p.shingle) AS sh
         |  FROM post p JOIN dfreq d
         |    ON d.source = p.source AND d.shingle = p.shingle
         |  WHERE d.cnt <= $HotShingleCap
         |  GROUP BY p.doc_id, p.source)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(${jaccardSql("a.sh", "b.sh")}, 6) AS jac
         |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.sh", "b.sh")} >= 0.5""".stripMargin,
    "d3_minhash_lsh" -> d3Sql,
    // d25: the exact-Jaccard truth arm re-derived from the same token
    // sets, the index arm from the full d3 SQL — the oracle pins both
    // the miss set and the ppm arithmetic
    "d25_lsh_recall" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")})) AS toks
         |  FROM documents),
         |probes AS (
         |  SELECT doc_id AS probe_id, toks AS ptoks FROM d
         |  ORDER BY ${tokenHashSql("CAST(doc_id AS VARCHAR)")}, doc_id
         |  LIMIT $LshProbeCount),
         |truth AS (
         |  SELECT p.probe_id, x.doc_id AS partner
         |  FROM d x JOIN probes p ON x.doc_id <> p.probe_id
         |  WHERE ${jaccardSql("x.toks", "p.ptoks")} >= 0.9),
         |lsh AS (SELECT doc_a, doc_b FROM ($d3Sql)),
         |found AS (
         |  SELECT doc_a AS probe_id, doc_b AS partner FROM lsh
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM lsh)
         |SELECT t.probe_id,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN f.partner IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found,
         |  CAST((sum(CASE WHEN f.partner IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS recall_ppm
         |FROM truth t
         |LEFT JOIN found f ON f.probe_id = t.probe_id AND f.partner = t.partner
         |GROUP BY t.probe_id""".stripMargin,
    // d26: band-key occupancy re-derived from the same signature SQL
    "d26_band_occupancy" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")})) AS toks
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    ${sigSqls.zipWithIndex.map { case (s, i) => s"$s AS s$i" }.mkString(", ")}
         |  FROM d),
         |bands AS (
         |  ${(0 until LshBands).map(b =>
              s"SELECT $b AS band, ${bandKeySql(b)} AS bkey FROM sig")
              .mkString("\n  UNION ALL\n  ")}),
         |occ AS (
         |  SELECT band, bkey, count(*) AS cnt FROM bands GROUP BY band, bkey)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(max(cnt) AS BIGINT) AS max_key_members,
         |  CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS candidate_bound
         |FROM occ GROUP BY band""".stripMargin,
    "d8_minhash_estimate" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")})) AS toks
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    ${sigSqlsN(16).zipWithIndex.map { case (s, i) => s"$s AS s$i" }.mkString(", ")}
         |  FROM d),
         |sigv AS (
         |  SELECT doc_id,
         |    ${(0 until 16).map(i => s"s$i").mkString("[", ", ", "]")} AS sig,
         |    ${(0 until EstBands).map(b => s"${bandKeySqlAt(b, EstRows)} AS bk$b").mkString(", ")}
         |  FROM sig),
         |cand AS (
         |  ${(0 until EstBands).map { b =>
              val excl = (0 until b).map(j => s" AND a.bk$j <> b.bk$j").mkString
              s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb" +
                s"\n  FROM sigv a JOIN sigv b ON a.bk$b = b.bk$b$excl AND a.doc_id < b.doc_id"
            }.mkString("\n  UNION ALL\n  ")})
         |SELECT doc_a, doc_b,
         |  CAST(list_sum(list_transform(range(1, 17),
         |    i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_jac
         |FROM cand""".stripMargin,
    "d4_simhash" ->
      s"""SELECT doc_id, ${simhashSql("hs")} AS simhash
         |FROM (SELECT doc_id,
         |        list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |      FROM documents)""".stripMargin,
    "d5_simhash_neardup" ->
      s"""WITH sk AS (
         |  SELECT doc_id, ${simhashSql("hs")} AS simhash
         |  FROM (SELECT doc_id,
         |          list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |banded AS (
         |  ${(0 until 4).map(b =>
             s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) % 256 AS bkey FROM sk")
             .mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 4""".stripMargin,
    "d6_embed_neardup" -> d6Sql,
    "d9_embed_clusters" ->
      s"""WITH pairs AS ($d6Sql),
         |und AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |        UNION ALL SELECT vec_b, vec_a FROM pairs),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT vec_id, vec_id FROM embeddings
         |    UNION
         |    SELECT r.src, e.v FROM r JOIN und e ON r.dst = e.u)
         |  SELECT src, dst FROM r)
         |SELECT src AS vec_id, min(dst) AS canonical
         |FROM reach GROUP BY src""".stripMargin,
    "d7_dedup_clusters" -> d7Sql,
    // d27's CONTRACT: the d1→d3 compose is a result-identical rewrite
    // of the full build — its oracle IS d7's label relation, verbatim
    "d27_exact_then_lsh" -> d7Sql,
    // two closures: the full corpus (after) and old×old edges over old
    // docs (before); churn is a rollup joining the two label relations
    "d21_ingest_churn" ->
      s"""WITH after AS ($d7Sql),
         |bp AS (SELECT doc_a, doc_b FROM ($d3Sql)
         |       WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0),
         |bund AS (SELECT doc_a AS u, doc_b AS v FROM bp
         |         UNION ALL SELECT doc_b, doc_a FROM bp),
         |breach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
         |    UNION
         |    SELECT r.src, e.v FROM r JOIN bund e ON r.dst = e.u)
         |  SELECT src, dst FROM r),
         |before AS (
         |  SELECT src AS doc_id, min(dst) AS before_label
         |  FROM breach GROUP BY src),
         |touched AS (
         |  SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_new
         |  FROM after GROUP BY canonical),
         |merges AS (
         |  SELECT a.canonical,
         |    CAST(count(DISTINCT b.before_label) AS BIGINT) AS n_before_clusters
         |  FROM after a JOIN before b USING (doc_id)
         |  GROUP BY a.canonical)
         |SELECT t.canonical, t.n_docs, t.n_new,
         |  COALESCE(m.n_before_clusters, 0) AS n_before_clusters,
         |  COALESCE(m.n_before_clusters, 0) >= 2 AS merged
         |FROM touched t LEFT JOIN merges m USING (canonical)
         |WHERE t.n_new > 0""".stripMargin,
    "d17_source_dup_rate" ->
      s"""WITH clusters AS ($d7Sql)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN c.doc_id <> c.canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  CAST((CAST(sum(CASE WHEN c.doc_id <> c.canonical THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS dup_ppm
         |FROM clusters c JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin,
    "d20_cross_source_overlap" ->
      s"""WITH clusters AS ($d7Sql),
         |cs AS (
         |  SELECT c.canonical, d.source, CAST(count(*) AS BIGINT) AS n
         |  FROM clusters c JOIN documents d USING (doc_id)
         |  GROUP BY c.canonical, d.source)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_clusters,
         |  CAST(sum(a.n) AS BIGINT) AS n_docs_a,
         |  CAST(sum(b.n) AS BIGINT) AS n_docs_b
         |FROM cs a JOIN cs b
         |  ON a.canonical = b.canonical AND a.source < b.source
         |GROUP BY a.source, b.source""".stripMargin,
    "d24_cluster_gini" ->
      s"""WITH labels AS ($d7Sql),
         |m AS (
         |  SELECT l.canonical, d.source
         |  FROM labels l JOIN documents d USING (doc_id)),
         |per_src AS (
         |  SELECT canonical, source, CAST(count(*) AS BIGINT) AS n_s
         |  FROM m GROUP BY 1, 2),
         |per AS (
         |  SELECT canonical, CAST(sum(n_s) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_sources,
         |    CAST(sum(n_s * n_s) AS BIGINT) AS sq
         |  FROM per_src GROUP BY 1),
         |g AS (
         |  SELECT canonical, n, n_sources,
         |    CAST(1000000 - CAST(sq AS HUGEINT) * 1000000
         |      // CAST(n * n AS HUGEINT) AS BIGINT) AS gini_ppm
         |  FROM per WHERE n >= 2)
         |SELECT n AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_sources) AS BIGINT) AS sum_sources,
         |  CAST(CAST(sum(gini_ppm * n) AS HUGEINT)
         |    // CAST(sum(n) AS HUGEINT) AS BIGINT) AS mean_gini_ppm_weighted
         |FROM g GROUP BY 1""".stripMargin,
    "d18_cluster_histogram" ->
      s"""WITH clusters AS ($d7Sql),
         |sizes AS (
         |  SELECT canonical, count(*) AS cluster_size
         |  FROM clusters GROUP BY canonical)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY cluster_size""".stripMargin,
    "d19_cluster_medoids" ->
      s"""WITH clusters AS ($d7Sql),
         |cnt AS (
         |  SELECT canonical, count(*) AS n_members FROM clusters GROUP BY 1),
         |d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${tokenSetSql("text")}, t -> ${tokenHashSql("t")})) AS toks
         |  FROM documents),
         |m AS (
         |  SELECT c.canonical, c.doc_id, d.toks
         |  FROM clusters c JOIN d USING (doc_id) JOIN cnt USING (canonical)
         |  WHERE cnt.n_members <= $MedoidMemberCap),
         |pr AS (
         |  SELECT a.canonical, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.toks, b.toks)) AS inter,
         |    len(a.toks) + len(b.toks) AS sz
         |  FROM m a JOIN m b
         |    ON a.canonical = b.canonical AND a.doc_id < b.doc_id),
         |pd AS (
         |  SELECT canonical, doc_a AS doc_id,
         |    1000000 - CASE WHEN sz - inter = 0 THEN 1000000
         |      ELSE (inter * 1000000) // (sz - inter) END AS dist
         |  FROM pr
         |  UNION ALL
         |  SELECT canonical, doc_b,
         |    1000000 - CASE WHEN sz - inter = 0 THEN 1000000
         |      ELSE (inter * 1000000) // (sz - inter) END AS dist
         |  FROM pr),
         |per AS (
         |  SELECT canonical, doc_id, CAST(sum(dist) AS BIGINT) AS sum_dist
         |  FROM pd GROUP BY 1, 2),
         |mem AS (
         |  SELECT m.canonical, m.doc_id,
         |    CAST(coalesce(per.sum_dist, 0) AS BIGINT) AS sum_dist
         |  FROM m LEFT JOIN per
         |    ON m.canonical = per.canonical AND m.doc_id = per.doc_id),
         |best AS (
         |  SELECT canonical, doc_id AS medoid_doc_id,
         |    sum_dist AS medoid_sum_dist
         |  FROM (SELECT mem.*, row_number() OVER (
         |          PARTITION BY canonical ORDER BY sum_dist, doc_id) AS rk
         |        FROM mem)
         |  WHERE rk = 1),
         |big AS (
         |  SELECT canonical, n_members, doc_id AS medoid_doc_id,
         |    CAST(NULL AS BIGINT) AS medoid_sum_dist
         |  FROM (SELECT cl.canonical, cnt.n_members, cl.doc_id,
         |          row_number() OVER (PARTITION BY cl.canonical
         |            ORDER BY doc.n_chars DESC, cl.doc_id) AS rk
         |        FROM clusters cl
         |        JOIN documents doc USING (doc_id)
         |        JOIN cnt USING (canonical)
         |        WHERE cnt.n_members > $MedoidMemberCap)
         |  WHERE rk = 1)
         |SELECT c.canonical, c.n_members, b.medoid_doc_id, b.medoid_sum_dist
         |FROM cnt c JOIN best b USING (canonical)
         |WHERE c.n_members <= $MedoidMemberCap
         |UNION ALL
         |SELECT canonical, n_members, medoid_doc_id, medoid_sum_dist
         |FROM big""".stripMargin,
    "c13_cluster_weights" ->
      s"""WITH clusters AS ($d7Sql),
         |sizes AS (
         |  SELECT canonical, count(*) AS cluster_size
         |  FROM clusters GROUP BY canonical)
         |SELECT doc_id, canonical, cluster_size,
         |  1000000 // cluster_size AS weight_ppm
         |FROM clusters JOIN sizes USING (canonical)""".stripMargin,
    "d16_retention" ->
      s"""WITH clusters AS ($d7Sql),
         |j AS (
         |  SELECT c.doc_id, c.canonical, d.n_chars
         |  FROM clusters c JOIN documents d USING (doc_id)),
         |m AS (
         |  SELECT canonical, CAST(count(*) AS BIGINT) AS n_members,
         |    max(n_chars) AS mx
         |  FROM j GROUP BY canonical)
         |SELECT m.canonical, m.n_members,
         |  CAST(min(j.doc_id) AS BIGINT) AS kept_doc_id,
         |  CAST(m.mx AS BIGINT) AS kept_n_chars
         |FROM m JOIN j ON j.canonical = m.canonical AND j.n_chars = m.mx
         |GROUP BY m.canonical, m.n_members, m.mx""".stripMargin,
    "c11_leakage_split" ->
      s"""WITH clusters AS ($d7Sql)
         |SELECT doc_id, canonical,
         |  CASE WHEN g < 80 THEN 'train'
         |       WHEN g < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id, canonical,
         |        ${Portable.tokenHashSql("CAST(canonical AS VARCHAR)")} % 100 AS g
         |      FROM clusters)""".stripMargin,
    // UNROLLED peeling: CoreUnroll explicit rounds (fixpoint is reached
    // in 2 at both test SFs; the unroll bound only limits the oracle)
    "d23_kcore" -> {
      val roundCtes = (1 to CoreUnroll).map { r =>
        s"""doom$r AS (
           |  SELECT doc_id, CAST(FALSE AS BOOLEAN) AS in_core,
           |    CAST($r AS BIGINT) AS peel_round, deg
           |  FROM n${r - 1} WHERE deg < $CoreK),
           |surv$r AS MATERIALIZED (
           |  SELECT doc_id FROM n${r - 1} WHERE deg >= $CoreK),
           |a$r AS MATERIALIZED (
           |  SELECT a.u, a.v FROM a${r - 1} a
           |  JOIN surv$r su ON a.u = su.doc_id
           |  JOIN surv$r sv ON a.v = sv.doc_id),
           |n$r AS MATERIALIZED (
           |  SELECT s.doc_id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg
           |  FROM surv$r s LEFT JOIN (
           |    SELECT u AS doc_id, count(*) AS deg FROM a$r GROUP BY u) d
           |  ON s.doc_id = d.doc_id)""".stripMargin
      }.mkString(",\n")
      val shellUnion = (1 to CoreUnroll)
        .map(r => s"SELECT * FROM doom$r").mkString("\n  UNION ALL ")
      s"""WITH pairs AS ($d3Sql),
         |a0 AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |n0 AS MATERIALIZED (
         |  SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM a0 GROUP BY u),
         |$roundCtes
         |SELECT * FROM (
         |  $shellUnion
         |  UNION ALL
         |  SELECT doc_id, TRUE, CAST(0 AS BIGINT), deg FROM n$CoreUnroll)""".stripMargin
    },
    "d10_triangle_census" ->
      s"""WITH pairs AS ($d6Sql),
         |edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs),
         |deg AS (
         |  SELECT id, count(*) AS deg
         |  FROM (SELECT a AS id FROM edges UNION ALL SELECT b FROM edges)
         |  GROUP BY id),
         |rk AS (SELECT id, deg * 1000000000 + id AS rk FROM deg),
         |o AS (
         |  SELECT CASE WHEN ra.rk < rb.rk THEN e.a ELSE e.b END AS u,
         |         CASE WHEN ra.rk < rb.rk THEN e.b ELSE e.a END AS v,
         |         greatest(ra.rk, rb.rk) AS rkv
         |  FROM edges e JOIN rk ra ON e.a = ra.id JOIN rk rb ON e.b = rb.id),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.rkv < e2.rkv
         |  JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v),
         |w AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
         |      FROM deg)
         |SELECT n_triangles, n_wedges,
         |  CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges
         |       ELSE NULL END AS transitivity
         |FROM tri, w""".stripMargin,
    "d11_pagerank" -> {
      val S = "1000000000000"
      def iter(i: Int, prev: String) =
        s"""m$i AS (
           |  SELECT und.v AS u, CAST(sum($prev.r // deg.deg) AS BIGINT) AS msg
           |  FROM und JOIN $prev ON und.u = $prev.u JOIN deg ON und.u = deg.u
           |  GROUP BY und.v),
           |r$i AS (
           |  SELECT nodes.u,
           |    (15 * ($S // (SELECT n FROM nn))) // 100
           |      + (85 * COALESCE(m$i.msg, 0)) // 100 AS r
           |  FROM nodes LEFT JOIN m$i ON nodes.u = m$i.u)""".stripMargin
      s"""WITH pairs AS ($d6Sql),
         |nodes AS (SELECT vec_id AS u FROM embeddings),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |und AS (SELECT vec_a AS u, vec_b AS v FROM pairs
         |        UNION ALL SELECT vec_b, vec_a FROM pairs),
         |deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
         |r0 AS (SELECT u, $S // (SELECT n FROM nn) AS r FROM nodes),
         |${iter(1, "r0")},
         |${iter(2, "r1")},
         |${iter(3, "r2")}
         |SELECT u AS vec_id, CAST(r AS BIGINT) AS rank_scaled FROM r3""".stripMargin
    },
    "d12_substring_spans" -> d12Sql,
    "d15_span_coverage" ->
      s"""WITH spans AS ($d12Sql),
         |cov AS (
         |  SELECT doc_id, CAST(sum(n_dup_tokens) AS BIGINT) AS n_dup_tokens
         |  FROM spans GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(${tokensSql("d.text")}) AS BIGINT) AS n_tokens,
         |  COALESCE(cov.n_dup_tokens, 0) AS n_dup_tokens,
         |  (COALESCE(cov.n_dup_tokens, 0) * 2
         |     >= len(${tokensSql("d.text")})) AS mostly_dup
         |FROM documents d LEFT JOIN cov USING (doc_id)""".stripMargin,
    // incremental == batch restricted to pairs touching the delta: the
    // oracle IS d3's result under that predicate, so the hash match
    // proves batch/incremental consistency
    "d13_incremental_lsh" ->
      s"""SELECT doc_a, doc_b, jac FROM ($d3Sql)
         |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0""".stripMargin,
    "d14_containment" ->
      s"""WITH s0 AS (
         |  SELECT doc_id, source, $shingleHashesSql AS sh
         |  FROM (SELECT doc_id, source,
         |          list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |post AS (SELECT doc_id, source, unnest(sh) AS shingle FROM s0),
         |dfreq AS (SELECT source, shingle, count(*) AS cnt
         |          FROM post GROUP BY source, shingle),
         |kept AS (
         |  SELECT p.doc_id, p.source, p.shingle
         |  FROM post p JOIN dfreq d
         |    ON d.source = p.source AND d.shingle = p.shingle
         |  WHERE d.cnt <= $HotShingleCap),
         |sized AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |co AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM kept a JOIN kept b
         |    ON a.source = b.source AND a.shingle = b.shingle
         |      AND a.doc_id < b.doc_id
         |  GROUP BY da, db),
         |dirs AS (
         |  SELECT da AS contained, db AS container, sa.n AS nc, inter
         |  FROM co JOIN sized sa ON sa.doc_id = da
         |  UNION ALL
         |  SELECT db, da, sb.n, inter
         |  FROM co JOIN sized sb ON sb.doc_id = db)
         |SELECT contained, container,
         |  round(inter * 1.0 / nc, 6) AS containment
         |FROM dirs WHERE inter * $ContainDen >= nc * $ContainNum""".stripMargin
  )

}
