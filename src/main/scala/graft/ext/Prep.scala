package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Portable._

/** Training-data preparation operators beyond dedup/similarity: the
  * scrub → decontaminate → chunk → pack steps between a raw corpus and
  * a tokenized training mix.
  *
  * All five are scan-shaped or posting-list-shaped — no operator here
  * shuffles anything wider than (id, hash) rows, which is what lets the
  * same plans run at 100 TB.
  */
object Prep {

  type Q = (SparkSession, String) => DataFrame

  // ---- c1: PII scrubbing ------------------------------------------------

  /** c1 — pattern scrub + pseudonymization: digits masked out of the
    * display name (regex redaction, codegen'd `regexp_replace`) and a
    * deterministic pseudonym key from the portable hash, so downstream
    * grouping still works without the identifier. The synthetic corpus
    * holds no real PII; the customer name is the stand-in identifying
    * column — the operator (regex scrub + hash pseudonym, both inside
    * the scan projection) is the point.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(
      col("c_custkey"),
      regexp_replace(col("c_name"), "[0-9]", "X").as("name_masked"),
      tokenHash(col("c_name")).as("name_pseudo"),
      col("c_mktsegment"))

  // ---- c2: train/test contamination ------------------------------------

  /** c2 — decontamination check: 3-gram shingle overlap between the
    * training split and a held-out split (`doc_id % 97 == 0` plays the
    * benchmark set). Posting-list join on the shingle hash — only
    * (id, hash) rows move, cost follows shared structure, and a real
    * run would cap the posting length of stopword-like hot shingles.
    * Output: per contaminated train doc, how many of its shingles occur
    * in the held-out set and how many held-out docs it hits.
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleFrame(spark, sfDir).select("doc_id", "shingle")
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    val test = sh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    train.join(test, Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_shared_shingles"),
        countDistinct("test_doc").as("n_test_docs"))
  }

  /** c6 — decontamination REMOVAL: the train split minus documents whose
    * held-out shingle overlap reaches the threshold — the filter a
    * pipeline actually executes after the [[contamination]] report. The
    * anti-join keeps the plan scan-shaped: contaminated ids (small) build
    * the hash side, the corpus streams past it.
    */
  def decontaminated(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = contamination(spark, sfDir)
      .filter(col("n_shared_shingles") >= 3)
      .select("doc_id")
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  // ---- c3: sequence packing ---------------------------------------------

  /** c3 — sequence packing: documents are laid end-to-end in doc_id
    * order and cut into fixed 512-token training sequences; each doc
    * gets its global token offset and the first/last sequence it lands
    * in. The prefix sum is TWO-PHASE — per-bucket running sums plus a
    * (tiny) bucket-prefix frame broadcast back — because a single global
    * ordered window pulls the whole corpus into one partition; the
    * two-phase form keeps every partition bounded at any scale.
    */
  def seqPack(spark: SparkSession, sfDir: String): DataFrame = {
    val sized = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        expr("doc_id DIV 1000").as("bucket"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = sized.withColumn("local_off",
      coalesce(sum("n_tokens").over(wIn), lit(0L)))
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = sized.groupBy("bucket").agg(sum("n_tokens").as("btot"))
      .withColumn("bucket_off", coalesce(sum("btot").over(wB), lit(0L)))
      .select("bucket", "bucket_off")
    inBucket.join(broadcast(prefix), Seq("bucket"))
      .select(col("doc_id"), col("n_tokens"),
        (col("local_off") + col("bucket_off")).as("offset"))
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr("offset DIV 512").as("first_seq"),
        expr("(offset + n_tokens - 1) DIV 512").as("last_seq"))
  }

  // ---- c4: chunking -----------------------------------------------------

  /** c4 — fixed-size chunking: each document split into 32-token
    * chunks, each chunk fingerprinted with the order-sensitive 31-fold
    * over its token hashes (dedup/lineage key for chunk-level curation).
    * Explode + hash + groupBy(doc, chunk): one shuffle of (ids, hash)
    * rows; the ordered fold sorts inside the aggregation, never a
    * global sort.
    */
  def chunks(spark: SparkSession, sfDir: String): DataFrame =
    chunksOf(Tables.documents(spark, sfDir))

  /** The c4 chunk frame over an arbitrary `(doc_id, text)` frame — shared
    * by the batch query and [[graft.streaming.ChunkDedupStream]], which
    * chunks one micro-batch at a time with the SAME fingerprints.
    */
  def chunksOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), expr("CAST(pos DIV 32 AS LONG)").as("chunk_id"),
        col("pos"), tokenHash(col("tok")).as("h"))
    toks.groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        fold31(transform(
          sort_array(collect_list(struct(col("pos"), col("h")))),
          x => x.getField("h"))).as("chunk_fp"))
  }

  /** DuckDB-side twin of [[chunks]] as a WITH-prologue ending in a
    * `chunks(doc_id, chunk_id, n_tokens, chunk_fp)` CTE — shared by the
    * c4 oracle and [[Dedup]]'s chunk-grain dedup (d22) oracle so the two
    * engines' chunk definition can never drift apart.
    */
  private[ext] val chunkSliceSql: String =
    "hs[CAST(chunk_id * 32 + 1 AS INTEGER):CAST(least((chunk_id + 1) * 32, len(hs)) AS INTEGER)]"

  private[ext] val chunkFrameSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, hs,
       |    unnest(range(0, (len(hs) + 31) // 32)) AS chunk_id
       |  FROM d),
       |chunks AS (
       |  SELECT doc_id, chunk_id,
       |    CAST(len($chunkSliceSql) AS BIGINT) AS n_tokens,
       |    ${fold31Sql(chunkSliceSql)} AS chunk_fp
       |  FROM u)""".stripMargin

  // ---- c5: BPE pair counts ----------------------------------------------

  /** c5 — the first step of a BPE vocabulary build: corpus-wide counts
    * of adjacent character pairs inside tokens, top 20 (the pair a BPE
    * trainer would merge first, plus runners-up). Explode + count +
    * top-k: partial aggregation map-side, `TakeOrderedAndProject` for
    * the k — nothing global except 20 rows.
    */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
    toks
      .select(explode(transform(sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair")).limit(20)
  }

  // ---- c10: BPE trainer (iterative merges) -------------------------------

  private[ext] val BpeMerges = 6

  /** Greedy left-to-right application of merge (l, r) to a symbol array:
    * fold symbols into the accumulator, replacing the accumulator's last
    * element with `l+r` whenever it is `l` and the incoming symbol is
    * `r` — the merged symbol then participates in LATER comparisons as a
    * unit (so "a a a" under (a,a) becomes ["aa","a"], never ["aa","aa"]).
    * The oracle runs the identical fold via DuckDB's `list_reduce`, so
    * the two engines agree by construction.
    */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** c10 — BPE VOCABULARY TRAINING, the iterative step c5 only previews:
    * [[BpeMerges]] rounds of count-adjacent-pairs → merge-the-argmax,
    * producing the ordered merge table a tokenizer ships. Trains on the
    * distinct-token frequency table (the classic formulation — corpus
    * positions collapse into `freq` weights once, so round cost follows
    * |vocab|, not corpus size). Each round is one map-side-combined pair
    * aggregation + a 1-row argmax to the driver (the same
    * bounded-scalar-per-round driver pattern as d7's convergence count)
    * + one scan-shaped merge projection; `localCheckpoint` bounds the
    * growing lineage exactly as d7's iteration does. At 100 TB the
    * vocabulary is millions of rows against a corpus of billions —
    * this shape never touches the corpus after the first count.
    *
    * Ties break on (count desc, "l r" string asc) in both engines, so
    * the merge sequence — and therefore every later round — is
    * deterministic and oracle-exact.
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainedOnDocs(spark, sfDir)._1

  /** The corpus BPE artifacts — (ordered merge table, final symbol
    * table) — shared per (session, sfDir) through [[Tables.shared]]:
    * c10, c12 and c18 all consume the SAME 6-round trainer fold, so a
    * driver run that executes several of them pays the loop once (each
    * merge round is a blocking argmax, so three cold trainings were
    * pure repetition). At 100 TB the production shape is identical: the
    * tokenizer is trained once per corpus snapshot and every consumer
    * reads the merge/vocab tables. Cleared per bench pass like every
    * shared frame, so the timed total still pays one training per pass.
    */
  private def bpeTrainedOnDocs(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    def tokenFrame = Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("t"))
    var built: Option[(DataFrame, DataFrame)] = None
    val vocab = Tables.shared(spark, "bpe_vocab", sfDir) {
      val b = bpeTrainFull(tokenFrame, BpeMerges)
      built = Some(b)
      b._2
    }
    // vocab hit ⇒ merges was registered by the same build; the fallback
    // rebuild only runs if the two views ever diverge (they are only
    // cleared together).
    val merges = Tables.shared(spark, "bpe_merges", sfDir)(
      built.map(_._1).getOrElse(bpeTrainFull(tokenFrame, BpeMerges)._1))
    (merges, vocab)
  }

  /** The trainer over an arbitrary one-column token frame `t` — the
    * injectable core of c10.
    */
  private[ext] def bpeTrainOn(tokenFrame: DataFrame, nMerges: Int): DataFrame =
    bpeTrainFull(tokenFrame, nMerges)._1

  /** Trainer core returning BOTH artifacts of the loop: the ordered
    * merge table (c10's result) and the final per-distinct-token symbol
    * table (what c12's encoder applies to the corpus — re-deriving it
    * from the merge table would replay the same fold).
    */
  private[ext] def bpeTrainFull(tokenFrame: DataFrame,
      nMerges: Int): (DataFrame, DataFrame) = {
    val spark = tokenFrame.sparkSession
    import spark.implicits._
    // LAZY checkpoints throughout the loop (r14 opt, k13/pageRank's
    // measured trade): each round's vocab still materializes exactly
    // once — as a side effect of the NEXT round's argmax head() (or of
    // the consumer's first action for the final round) — but the loop no
    // longer runs a second blocking job per round just to checkpoint
    // (was 2 driver syncs per merge round, now 1).
    var vocab = tokenFrame
      .groupBy("t").agg(count(lit(1)).as("freq"))
      .select(col("t"), col("freq"),
        expr("filter(split(t, ''), x -> x != '')").as("syms"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (step <- 1 to nMerges) {
      val best = vocab
        .filter(size(col("syms")) >= 2) // sequence(1,0) would run DOWNWARD
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  j -> struct(element_at(syms, j) AS l, element_at(syms, j + 1) AS r))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, concat_ws(" ", col("l"), col("r")))
        .limit(1).head()
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      vocab = vocab.withColumn("syms", applyMerge(col("syms"), l, r))
        .localCheckpoint(false)
      merges += ((step, l, r, l + r, n))
    }
    (merges.result().toDF("step", "left_sym", "right_sym", "merged", "n"),
      vocab)
  }

  /** c12 — BPE ENCODE: apply c10's learned merges to the corpus and
    * report each document's token budget — words, BPE units, characters
    * — the "how many tokens is my corpus" question every training run
    * asks. The encode work runs over the DISTINCT-token vocabulary (the
    * trainer's own formulation: the fold already happened there per
    * distinct token, so encoding is a `size(syms)` projection); the
    * corpus-sized pass is one (doc, token) count aggregation joined to
    * that vocabulary on the token string. At 100 TB: corpus cost = one
    * shuffle of (doc_id, token) counts; fold cost = |vocab|, amortized
    * exactly as training was. The trainer artifacts are session-memoized
    * ([[bpeTrainedOnDocs]]) — each query remains self-contained for an
    * isolated driver run (the memo just builds on first touch), but a
    * driver that runs c10/c12/c18 together trains once.
    */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, vocab) = bpeTrainedOnDocs(spark, sfDir)
    val enc = vocab.select(col("t"), size(col("syms")).as("n_units"),
      length(col("t")).as("n_chars"))
    val tc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("n"))
    tc.join(enc, Seq("t"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_words"),
        sum(col("n") * col("n_units")).as("n_bpe_units"),
        sum(col("n") * col("n_chars")).as("n_chars"))
  }

  /** c18 — TOKENIZER FERTILITY audit: per language, BPE units per word
    * and characters per unit in exact ppm — the tokenizer-evaluation
    * metric (Ács' fertility) that tells a training run which languages
    * the learned vocabulary serves poorly (fertility → word-length ppm
    * means the merges never fire there; such languages pay more sequence
    * length per content and train worse). Rides c10's trainer verbatim:
    * the SAME vocab fold, the SAME encode-as-projection trick as c12 —
    * the corpus-sized work is one (lang, token) count aggregate joined
    * to the |vocab| symbol table, then a |langs|-row rollup. Fertility
    * ≥ 10⁶ by construction (a word is at least one unit), so the spec's
    * floor is an identity check, not a data accident.
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, vocab) = bpeTrainedOnDocs(spark, sfDir)
    val enc = vocab.select(col("t"), size(col("syms")).as("n_units"),
      length(col("t")).as("n_chars"))
    val tc = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy("lang", "t").agg(count(lit(1)).as("n"))
    tc.join(enc, Seq("t"))
      .groupBy("lang")
      .agg(sum("n").as("n_words"),
        sum(col("n") * col("n_units")).as("n_bpe_units"),
        sum(col("n") * col("n_chars")).as("n_chars"))
      .withColumn("fertility_ppm", expr(
        "CAST(CAST(n_bpe_units AS DECIMAL(38,0)) * 1000000 " +
          "DIV CAST(n_words AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("chars_per_unit_ppm", expr(
        "CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000 " +
          "DIV CAST(n_bpe_units AS DECIMAL(38,0)) AS BIGINT)"))
  }

  // ---- x9: repetition quality signal ------------------------------------

  /** x9 — repetition ratios (the Gopher-style quality rules the x2 score
    * doesn't cover): duplicate-token fraction and the share of the single
    * most frequent token. Two-level aggregation — (doc, token) counts,
    * then per-doc max/sum — all partial-aggregated; no per-doc sort.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val tokCounts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    tokCounts.groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("n").as("top_n"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens").cast("double"), 6)
          .as("dup_ratio"),
        round(col("top_n") / col("n_tokens").cast("double"), 6)
          .as("top_token_share"))
  }

  /** c7 — the quality GATE with drop reasons: every train-split document
    * annotated with WHY it would be dropped — length, quality score,
    * benchmark contamination, exact duplication — plus the final `kept`
    * verdict. Real pipelines ship this audit view alongside the filtered
    * corpus (drop-rate dashboards, filter ablations); it composes the
    * already-verified c2/c6 contamination set, x2's quality score, and
    * d1's canonical assignment with left joins against the (small)
    * flagged-id sets, so the plan stays scan-shaped: one pass over the
    * corpus, flags hash-joined on.
    */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val contaminated = contamination(spark, sfDir)
      .filter(col("n_shared_shingles") >= 3)
      .select(col("doc_id"), lit(true).as("contam"))
    val canon = Dedup.exactDedup(spark, sfDir)
      .select(col("text_md5"), col("canonical_doc_id"))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 =!= 0) // train split, as c6
      .withColumn("text_md5", md5(col("text")))
      .join(canon, Seq("text_md5"))
      .join(quality, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (size(tokens(col("text"))) < 20).as("too_short"),
        (col("quality") < 0.6).as("low_quality"),
        coalesce(col("contam"), lit(false)).as("contaminated"),
        (col("doc_id") =!= col("canonical_doc_id")).as("exact_dup"))
      .withColumn("kept",
        !col("too_short") && !col("low_quality") &&
          !col("contaminated") && !col("exact_dup"))
  }

  /** c8 — inference batch shaping: bucket documents by padded length
    * (multiples of 64 tokens, the serving-stack convention) and account
    * the padding waste per bucket — real tokens vs padded slots at the
    * bucket's fixed sequence length. This is the audit behind batched
    * inference/training throughput: a skewed length distribution with
    * naive batching wastes most of the accelerator FLOPs on pad tokens,
    * and THIS table is what decides the bucket boundaries. One scan +
    * one aggregation; the waste ratio is one exact-input IEEE division.
    */
  def lengthBuckets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pad_len", expr("((n_tokens + 63) DIV 64) * 64"))
      .groupBy("pad_len")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("real_tokens"))
      .select(col("pad_len"), col("n_docs"), col("real_tokens"),
        (col("pad_len") * col("n_docs")).as("padded_tokens"),
        round((col("pad_len") * col("n_docs") - col("real_tokens")).cast("double") /
          (col("pad_len") * col("n_docs")), 6).as("waste_ratio"))

  // ---- c9: span-level boilerplate scrub ---------------------------------

  /** c9 — cut the duplicated spans ([[Dedup.substringSpans]], d12) OUT of
    * the text and reassemble what remains — the span-level dedup action:
    * where c6 drops whole contaminated documents, c9 keeps the document
    * and removes only the copied region (boilerplate headers, quoted
    * text, license blocks).
    *
    * Shape: the span frame explodes to covered token ordinals (spans are
    * maximal and disjoint per doc, so no DISTINCT is needed), the token
    * frame anti-joins it on (doc_id, ordinal), and the survivors
    * reassemble per doc via an order-struct sort inside the aggregation —
    * all shuffles keyed on doc_id, text re-derived in the scan (never
    * shuffled alongside the span math). Docs with no spans pass through
    * unchanged; fully-covered docs come back EMPTY but present (the
    * left join with the base table keeps the row — silently dropping a
    * fully-boilerplate doc would misreport corpus size downstream).
    */
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame =
    spanScrubOf(Tables.documents(spark, sfDir).select("doc_id", "text"),
      Dedup.substringSpans(spark, sfDir))

  /** c9 over arbitrary `(doc_id, text)` docs and `(doc_id, span_start,
    * span_end, ...)` spans — test surface.
    */
  private[ext] def spanScrubOf(docs: DataFrame, spans: DataFrame): DataFrame = {
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("p"))
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("tok"))
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut_tokens"))
  }

  // ---- c21: rule-funnel quality audit ------------------------------------

  /** c21 — Gopher-style quality RULE FUNNEL: the five classic document
    * filters applied in a fixed order, reported as an attrition funnel —
    * for each rule, how many documents reached it, how many it killed,
    * and how many survive. This is the ablation table a corpus curator
    * reads before committing to a filter stack (c7 answers "why was THIS
    * doc dropped"; c21 answers "which RULE costs how much corpus"). Rules
    * adapted to the whitespace-token corpus, each an exact integer
    * predicate (no float thresholds — both engines compare longs):
    *
    *   r1 word count in [32, 100 000];
    *   r2 mean token length in [4, 10]  (10·Σlen ≥ 40·n ∧ Σlen ≤ 10·n);
    *   r3 ≤ 1/10 of tokens of length ≤ 2;
    *   r4 distinct-token fraction ≥ 2/5 (the repetition gate);
    *   r5 ≥ 2 stopword tokens ("a"/"the" in this corpus).
    *
    * Scale shape: ONE corpus scan computes the five booleans inside the
    * projection (array higher-order functions, no explode), one partial
    * aggregate reduces to a single row of prefix-conjunction survivor
    * counts, and the 5-row funnel is unpivoted from that row — nothing
    * but six longs crosses the wire at any size.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(col("toks")).cast("long")
    val totlen = aggregate(transform(col("toks"),
      t => length(t).cast("long")), lit(0L), _ + _)
    val nshort = size(filter(col("toks"), t => length(t) <= 2)).cast("long")
    val ndist = size(array_distinct(col("toks"))).cast("long")
    val nstop = size(filter(col("toks"), t => t.isin("a", "the"))).cast("long")
    val per = Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("toks"))
      .select((n >= 32L && n <= 100000L).as("r1"),
        (totlen * 10L >= n * 40L && totlen <= n * 10L).as("r2"),
        (nshort * 10L <= n).as("r3"),
        (ndist * 5L >= n * 2L).as("r4"),
        (nstop >= 2L).as("r5"))
    def surv(cs: Column*): Column =
      sum(when(cs.reduce(_ && _), 1L).otherwise(0L))
    val f = per.agg(count(lit(1)).as("n0"),
      surv(col("r1")).as("s1"),
      surv(col("r1"), col("r2")).as("s2"),
      surv(col("r1"), col("r2"), col("r3")).as("s3"),
      surv(col("r1"), col("r2"), col("r3"), col("r4")).as("s4"),
      surv(col("r1"), col("r2"), col("r3"), col("r4"), col("r5")).as("s5"))
    def row(name: String, in: String, out: String) =
      struct(lit(name).as("rule"), col(in).as("n_checked"),
        (col(in) - col(out)).as("n_fail"), col(out).as("n_pass"))
    f.select(explode(array(
        row("r1_word_count", "n0", "s1"),
        row("r2_mean_word_len", "s1", "s2"),
        row("r3_short_token_frac", "s2", "s3"),
        row("r4_distinct_frac", "s3", "s4"),
        row("r5_stopword_coverage", "s4", "s5"))).as("f"))
      .select(col("f.rule").as("rule"), col("f.n_checked").as("n_checked"),
        col("f.n_fail").as("n_fail"), col("f.n_pass").as("n_pass"))
  }

  // ---- registry ---------------------------------------------------------

  /** c14 — K-ANONYMITY suppression audit: every document carries its
    * quasi-identifier group size (here (lang, source) — the metadata a
    * release would expose) and the keep/suppress decision for k = 5; a
    * group smaller than k re-identifies its members by metadata alone,
    * so those rows are marked for suppression before the corpus ships.
    * Partition-only window (k10's shape): ONE exchange on the
    * quasi-identifier, the count rides back to every member without a
    * groupBy+re-join's second shuffle. The k literal is part of the
    * output contract so downstream audits see which policy ran.
    */
  def kAnonymity(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("lang", "source")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("group_n", count(lit(1)).over(w))
      .select(col("doc_id"), col("lang"), col("source"), col("group_n"),
        lit(k.toLong).as("k"),
        (col("group_n") < k).as("suppress"))
  }

  /** c17 — L-DIVERSITY audit: k-anonymity's (c14) companion on the GROUP
    * grain. A quasi-identifier group can satisfy k (enough members to
    * hide in) yet still leak the sensitive attribute outright if every
    * member SHARES it — homogeneous groups re-identify the attribute,
    * not the row. Per (lang, source) group: member count, distinct
    * sensitive values (the size class `n_chars DIV 100` stands in for
    * the sensitive column this corpus lacks), and the l = 3 verdict.
    * Release policy = c14's suppress ∧ this diverse flag.
    *
    * One groupBy on the quasi-identifier with a mixed count /
    * count-distinct — Spark's standard two-phase expand; the shuffled
    * state is (group × size-class) partials, never document rows.
    */
  def lDiversity(spark: SparkSession, sfDir: String, l: Int = 3): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        expr("n_chars DIV 100").as("size_class"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("group_n"),
        count_distinct(col("size_class")).as("l_distinct"))
      .select(col("lang"), col("source"), col("group_n"), col("l_distinct"),
        lit(l.toLong).as("l"),
        (col("l_distinct") >= l).as("diverse"))

  /** c16 — CURRICULUM PHASE assignment: within each language, documents
    * split into three quality-ordered training phases (easy→hard
    * curriculum over x2's quality score, per-language so no language's
    * whole corpus lands in one phase). Phase = exact tercile by RANK —
    * `ntile` splits ties by row_number, which is NON-deterministic under
    * ties, so the phase is `(rank−1)·3 DIV n` instead: tied documents
    * provably share a phase, bit-stable on both engines.
    *
    * Scale: same two-phase rank decomposition as w3 (quality lives in
    * [0, 1e6] micro-units → ≤101 coarse buckets per language): histogram
    * offsets broadcast back, rank only WITHIN a (lang, bucket) cell —
    * no per-language global sort, which is w3's low-cardinality-key
    * skew argument applied to the lang column.
    */
  def curriculumPhases(spark: SparkSession, sfDir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"),
        expr("CAST(floor(quality * 1000000) AS BIGINT)").as("q_micro"))
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(q, Seq("doc_id"))
      .withColumn("bucket", expr("q_micro DIV 10000"))
    val wb = Window.partitionBy("lang").orderBy("bucket")
    val offs = base.groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
      .withColumn("offset", coalesce(
        sum("c").over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      .select("lang", "bucket", "offset", "n")
    base.join(broadcast(offs), Seq("lang", "bucket"))
      .withColumn("within", rank().over(
        Window.partitionBy("lang", "bucket").orderBy("q_micro")))
      .select(col("doc_id"), col("lang"), col("q_micro"),
        expr("((offset + within - 1) * 3) DIV n").as("phase"))
  }

  // ---- c20: t-closeness audit -------------------------------------------

  /** c20 threshold: groups whose sensitive-attribute distribution sits
    * within t = 0.15 earth-mover's distance of the global one may be
    * released (the classic t from Li et al. 2007).
    */
  private[graft] val TClosenessPpm = 150000L

  /** c20 — T-CLOSENESS audit, completing the release-policy trio: c14
    * answers "can a row hide?" (group size), c17 "does the group leak the
    * attribute outright?" (distinct values), and this answers the attack
    * both miss — a group can be large AND diverse yet still SKEWED, so
    * membership alone shifts an attacker's posterior. Per (lang, source)
    * quasi-identifier group: the earth-mover's distance between the
    * group's sensitive-value distribution and the corpus-wide one, over
    * the same ordered size classes c17 uses (`n_chars DIV 100`). For
    * equally-spaced ordered categories EMD is the mean |cumulative
    * difference| (Li et al.'s ordered-attribute formula), which is exact
    * in integers: at class i the term is |cumG_i·T − cumT_i·G| (both
    * sides scaled by the opposite total instead of dividing), and
    * emd_ppm = Σ·1e6 DIV (G·T·(m−1)) — DECIMAL(38) intermediates, so the
    * corpus-squared products survive 100 TB row counts.
    *
    * Shape: one scan to (class) and (group, class) count frames, then
    * everything is statistics-sized: the class frame is value-bounded
    * (max doc length DIV 100), so its broadcast into the group×class
    * scaffold is legal at any corpus size; cumulative sums ride windows
    * over ≤m rows per group.
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), expr("n_chars DIV 100").as("cls"))
    val clsTot = base.groupBy("cls").agg(count(lit(1)).as("t_cnt"))
      .withColumn("cum_t", sum("t_cnt").over(
        Window.orderBy("cls").rowsBetween(Window.unboundedPreceding, 0)))
    val grp = base.groupBy("lang", "source").agg(count(lit(1)).as("group_n"))
    val gcls = base.groupBy("lang", "source", "cls").agg(count(lit(1)).as("g_cnt"))
    val scaffold = grp.crossJoin(broadcast(clsTot)) // class frame: value-bounded
      .join(gcls, Seq("lang", "source", "cls"), "left")
      .withColumn("g", coalesce(col("g_cnt"), lit(0L)))
      .withColumn("cum_g", sum("g").over(
        Window.partitionBy("lang", "source").orderBy("cls")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val totals = clsTot.agg(sum("t_cnt").as("t_total"), count(lit(1)).as("m"))
    scaffold.crossJoin(broadcast(totals)) // one-row totals frame
      .groupBy("lang", "source", "group_n", "t_total", "m")
      .agg(sum(expr(
        """abs(CAST(cum_g AS DECIMAL(38,0)) * t_total
          |  - CAST(cum_t AS DECIMAL(38,0)) * group_n)""".stripMargin)).as("num"))
      .select(col("lang"), col("source"), col("group_n"),
        expr(s"""CAST(num * 1000000
                 |  DIV (CAST(group_n AS DECIMAL(38,0)) * t_total
                 |       * greatest(m - 1, 1)) AS BIGINT)""".stripMargin)
          .as("emd_ppm"),
        lit(TClosenessPpm).as("t_ppm"))
      .withColumn("close", col("emd_ppm") <= col("t_ppm"))
  }

  // ---- c19: importance weights against a target slice -------------------

  /** c19 policy knobs: the target slice (the "curated" source the raw
    * corpus is reweighted toward, DSIR-style) and the fixed-point scales.
    * Probabilities are Laplace-smoothed add-1 in parts-per-billion; the
    * per-word importance ratio is reported as its signed deviation from
    * 1 in parts-per-million.
    */
  private[graft] val DsirTargetSource = "src0"
  private[graft] val DsirPpb = 1000000000L
  private[graft] val DsirPpm = 1000000L

  /** c19 — IMPORTANCE WEIGHTS for targeted resampling: every document is
    * scored by how much more its unigrams look like the target slice
    * ([[DsirTargetSource]]) than like the rest of the corpus — the
    * data-selection primitive behind importance resampling (DSIR, Xie et
    * al. 2023: rank raw documents by an n-gram likelihood ratio against
    * a curated target, then sample by the weight). Declared integral
    * scoring: with Laplace add-1 unigram models p_t, p_c in ppb over the
    * shared vocabulary, each word contributes the LINEARIZED
    * log-likelihood ratio `p_t·1e6 DIV p_c − 1e6` (the first-order
    * Taylor of ln(p_t/p_c), exact integer arithmetic — whole-bit integer
    * log2 is too coarse to separate same-template sources, and float log
    * would hash-diverge between engines); a document's score is the
    * token-count-weighted sum. `selected` marks documents at or above
    * ratio parity — the resampling mask.
    *
    * Shape: one token scan collapsed to (doc, word) counts with map-side
    * combine, a vocabulary-sized stats frame joined back on the word key
    * (posting-list-shaped — never broadcast: vocabulary grows with the
    * corpus), and the single-row totals frame as the only broadcast. At
    * 100 TB this is two scans' worth of shuffle on (doc, word) — the
    * same envelope as x10's tf-idf.
    */
  def importanceWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val dw = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "source", "w").agg(count(lit(1)).as("c"))
    importanceOn(dw, Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")))
  }

  /** The c19 scoring engine over an arbitrary `(doc_id, source, w, c)`
    * word-count frame and its `(doc_id, source)` document base —
    * parameterized like [[Dedup.pageRankOn]] so the streaming twin
    * (`ImportanceStream`, which maintains the word counts incrementally
    * from a CDC document stream) scores with PROVABLY the same
    * arithmetic as the batch query.
    */
  private[graft] def importanceOn(dw: DataFrame, docs: DataFrame): DataFrame = {
    val isTgt = col("source") === lit(DsirTargetSource)
    val stats = dw.groupBy("w").agg(
      sum(when(isTgt, col("c")).otherwise(0L)).as("cnt_t"),
      sum(when(!isTgt, col("c")).otherwise(0L)).as("cnt_c"))
    val totals = stats.agg(
      sum("cnt_t").as("n_t"), sum("cnt_c").as("n_c"),
      count(lit(1)).as("v"))
    val ratios = stats.crossJoin(broadcast(totals)) // one-row totals frame
      .select(col("w"), expr(
        s"""(((cnt_t + 1) * $DsirPpb DIV (n_t + v)) * $DsirPpm)
           |  DIV greatest((cnt_c + 1) * $DsirPpb DIV (n_c + v), 1)
           |  - $DsirPpm""".stripMargin).as("r_ppm"))
    val perDoc = dw.join(ratios, Seq("w"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), sum(col("c") * col("r_ppm")).as("llr_ppm"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("llr_ppm"), lit(0L)).as("llr_ppm"),
        (coalesce(col("llr_ppm"), lit(0L)) >= 0L).as("selected"))
  }

  // ---- c22: hashing-trick quality classifier ----------------------------

  /** c22 feature space: bucket count for the hashing trick, the weight
    * quantization (2001 levels → integer micro-weights in [-1000, 1000]
    * after the shift), and the shift that keeps every summed numerator
    * non-negative so floor-division agrees between Spark (truncating DIV)
    * and DuckDB (flooring //) without the Temporal-style sign branch.
    */
  private[graft] val QcBuckets = 1024L
  private[graft] val QcLevels = 2001L
  private[graft] val QcShift = (QcLevels - 1) / 2 // 1000

  /** The c22/c23 model: weight of feature `x` under `salt` ("qw:"
    * unigrams, "qb:" word-bigrams) = `H(salt || (H(x) mod B)) mod 2001`,
    * SHIFTED into [0, 2000]. The bucket-hash half has only [[QcBuckets]]
    * distinct inputs, so the Spark side MATERIALIZES the weight VECTOR —
    * a 1024-long literal lookup table computed once on the driver
    * ([[qcBase]]) — which is exactly the trained-parameter shape of a
    * real fastText head (swap the derived table for learned floats and
    * nothing else changes). It also halves the md5 work: the portable
    * hash evaluates interpreted inside higher-order lambdas (~µs-scale
    * per call — no codegen, no CSE there), and the per-token md5 IS the
    * dominant cost of both classifiers (probe: the bases transform alone
    * was 7.5 s of c23's 12 s at sf1-synth). The ORACLE keeps computing
    * the md5 chain per token — unchanged, so the hash gate also PROVES
    * the materialized table equals its definition.
    */
  private[graft] lazy val qcBase: IndexedSeq[Long] =
    (0L until QcBuckets).map(b => tokenHashOf("qw:" + b.toString))
  private[graft] lazy val qcUniTable: Seq[Long] = qcBase.map(_ % QcLevels)
  private[graft] lazy val qcBiTable: Seq[Long] =
    (0L until QcBuckets).map(b => tokenHashOf("qb:" + b.toString) % QcLevels)
  /** c23 head-k weight table: the affine family applied to the shared
    * unigram bucket base.
    */
  private[graft] lazy val qcHeadTable: IndexedSeq[Seq[Long]] =
    (0 until Topics).map(k =>
      qcBase.map(h => (A(k) * h + B(k)) % Portable.P % QcLevels))

  /** Weight lookup from an already-hashed feature column: a pure
    * literal-table read (codegen'd `element_at`) — no md5 at query time.
    */
  private def qcWFromHash(table: Seq[Long], h: Column): Column =
    element_at(typedLit(table), ((h % QcBuckets) + 1L).cast("int"))
  /** Oracle twin over a SQL expression that is ALREADY `H(x)`: the
    * oracle keeps deriving every weight from the md5+affine chain, so
    * the hash gate proves the literal tables equal their definition.
    */
  private def qcWSqlFromHash(salt: String, h: String): String =
    s"(${tokenHashSql(s"'$salt' || CAST(($h % $QcBuckets) AS VARCHAR)")} % $QcLevels)"

  /** c22 — QUALITY-CLASSIFIER INFERENCE, fastText-shaped: each document
    * is scored by a linear model over hashing-trick features — unigrams
    * (bucket = `H(tok) mod B`) plus word-bigrams whose bucket COMPOSES
    * the two token hashes (`(H(a)·31 + H(b)) mod P mod B` — the fastText
    * n-gram trick: bigram ids derive from word hashes, never re-hashing
    * the concatenated text) — and the score is the feature-count-weighted
    * mean weight in exact micro-units. This is the model-scored quality
    * gate the curation brief calls for (c7/x2 are heuristic, c19 is
    * distribution-matching): the inference shape of fastText/CCNet-style
    * quality filters, integerized so the oracle can hash-check it.
    * `keep` = score at or above parity — the mask a curation pass feeds
    * to the mixer.
    *
    * Scale shape: rides the durable token-hash corpus index
    * ([[Dedup.tokenHashFrame]] — one md5 per corpus token paid ONCE at
    * index build, like the corpus parquet itself), so query-time work is
    * md5-free: a bucketed Exchange-free scan, one window `lead` for the
    * bigram compose (sort within buckets, no shuffle), codegen'd
    * literal-table weight lookups, and a bucket-local hash aggregate.
    * Nothing broadcasts — the weight tables ship as plan literals (the
    * trained-parameter shape, nothing corpus-sized). Pre-index this was
    * the registry's most expensive sf1 constant (11.3 s of interpreted
    * per-feature md5, r10 postmortem in PLANS.md).
    *
    * Division exactness: summed shifted weights are non-negative, so
    * Spark's truncating DIV and DuckDB's flooring // agree; the shift is
    * subtracted AFTER the division (mean(w) = mean(w+1000) − 1000 exactly
    * for integer means under floor).
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame =
    classifierScoresOn(Dedup.tokenHashFrame(spark, sfDir))

  /** The c22 scoring engine over ANY positional token-hash frame
    * `(doc_id, source, pos, h)` — the batch query feeds it the durable
    * corpus index; [[graft.streaming.CalibrationStream]] feeds it the
    * micro-batch DELTA's hashes (a delta doc isn't in the index yet, so
    * tokenizing just the delta is the honest incremental cost). Shared
    * code, not re-stated arithmetic — stream ≡ batch is structural.
    */
  private[graft] def classifierScoresOn(hashes: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val uniW = qcWFromHash(qcUniTable, col("h"))
    // Null past the last token must be EXPLICIT: `element_at` over a
    // literal array of non-nullable elements reports nullable=false, so
    // codegen ignores a nullable index's null flag and reads garbage
    // instead of propagating null (probed in this repo: a null lead
    // through element_at(typedLit(...)) returned an in-table value).
    // The `when` guard restores the null so count/sum skip the last row.
    val nxt = lead("h", 1).over(w)
    val biW = when(nxt.isNotNull,
      qcWFromHash(qcBiTable, (col("h") * 31L + nxt) % P))
    hashes
      .select(col("doc_id"), col("source"), uniW.as("wu"), biW.as("wb"))
      .groupBy(col("doc_id"), col("source"))
      .agg((count(lit(1)) + count(col("wb"))).as("n_feat"),
        (sum(col("wu")) + coalesce(sum(col("wb")), lit(0L))).as("s"))
      .select(col("doc_id"), col("source"), col("n_feat"),
        (expr(s"s * 1000000 DIV greatest(n_feat, 1)") -
          lit(QcShift * 1000000L)).as("score_micro"))
      .withColumn("keep", col("score_micro") >= 0L)
  }

  /** c24 bin width in micro-score units (score_micro spans ±1000·10⁶;
    * 250k-wide bins bound the histogram at ≤ 8000 rows regardless of
    * corpus size — the window below runs over THAT frame, never docs).
    */
  private[graft] val QcBinMicros = 250000L

  /** c24 — CLASSIFIER CALIBRATION AUDIT: the eval step a curation team
    * runs before trusting a learned quality filter — c22's score binned
    * into a fixed-width histogram against a reference label (the c21
    * Gopher rule conjunction, the rule-based gate the classifier is
    * meant to replace), emitting per bin the ROC prefix (cumulative
    * TPR/FPR in exact ppm, predict-positive-at-threshold semantics:
    * descending-score cumulatives) and the bin's Mann-Whitney U
    * contribution `u2` (2×-scaled so ties stay integral): AUC =
    * Σ u2 / (2·P·N). Everything integral → bit-identical across engines.
    *
    * Scale shape: scores ride c22 (the md5-free token-hash index scan);
    * labels are one documents scan of per-row predicates; the two
    * doc-keyed frames co-partition join on doc_id; the histogram rollup
    * is map-side combined down to ≤ 8000 rows; the ROC windows run over
    * that bounded frame only (p4's explicit-bound discipline). u2 and
    * the ppm numerators go through DECIMAL(38,0) (t19/p5 discipline —
    * bin_pos·cum_neg overflows a long at corpus scale).
    */
  def qualityCalibration(spark: SparkSession, sfDir: String): DataFrame =
    calibrationOn(calibrationInput(spark, sfDir))

  /** c25 — the HEADLINE AUC row c24 never surfaced: Σ u2 / (2·P·N) as
    * one exact-ppm scalar, with the P/N/Σu2 operands kept visible (an
    * audit row you can re-derive by hand). This is the number a go/no-go
    * on the classifier actually reads; the per-bin c24 table is its
    * diagnostic breakdown. Same inputs, same fold — the aggregate runs
    * over c24's ≤ 8000-bin output, so its own cost is nil, and the
    * streaming twin serves the identical row via
    * [[graft.streaming.CalibrationStream]]'s store view at any prefix.
    */
  def calibrationAuc(spark: SparkSession, sfDir: String): DataFrame =
    calibrationAucOn(calibrationInput(spark, sfDir))

  /** c24/c25's shared scored-and-labeled input: c22 scores (riding the
    * durable token-hash index) doc-joined to the c21 reference labels.
    */
  private[graft] def calibrationInput(spark: SparkSession, sfDir: String): DataFrame =
    // shared (r14 opt): c24 and c25 are the same fold over the same
    // scored-and-labeled frame — the per-doc classifier scoring and the
    // 6-HOF gopher predicate ran twice per driver. Doc-keyed, three
    // columns, lazily materialized; cleared per bench pass.
    Tables.shared(spark, "qc_calibration", sfDir) {
      val labels = Tables.documents(spark, sfDir)
        .select(col("doc_id"), gopherPass(col("text")).as("pass"))
      qualityClassifier(spark, sfDir)
        .select(col("doc_id"), col("score_micro"))
        .join(labels, Seq("doc_id"))
        .localCheckpoint(false)
    }

  /** The c25 scalar over ANY `(score_micro, pass)` relation — the
    * one-row rollup of [[calibrationOn]]'s bounded bin frame. DECIMAL
    * internals (2·P·N overflows a long past ~2·10⁹ docs either side);
    * `greatest(…, 1)` keeps the all-pass / all-fail degenerate corpus
    * deterministic on both engines instead of dividing by zero.
    */
  private[graft] def calibrationAucOn(scored: DataFrame): DataFrame =
    calibrationOn(scored)
      .agg(sum(col("n_pos")).as("n_pos"),
        sum(col("n") - col("n_pos")).as("n_neg"),
        sum(col("u2")).as("sum_u2"))
      .select(col("n_pos"), col("n_neg"), col("sum_u2"),
        expr("""CAST((CAST(sum_u2 AS DECIMAL(38,0)) * 1000000)
                DIV greatest(2 * CAST(n_pos AS DECIMAL(38,0)) *
                             CAST(n_neg AS DECIMAL(38,0)), 1)
                AS BIGINT)""").as("auc_ppm"))

  /** The c21 rule conjunction as ONE per-document predicate — the c24
    * reference label, shared by the batch audit and the streaming twin
    * (one definition, like [[graft.streaming.QualityStream.violates]]).
    */
  private[graft] def gopherPass(text: Column): Column = {
    val tk = tokens(text)
    val n = size(tk).cast("long")
    val totlen = aggregate(transform(tk, t => length(t).cast("long")),
      lit(0L), _ + _)
    n >= 32L && n <= 100000L &&
      totlen * 10L >= n * 40L && totlen <= n * 10L &&
      size(filter(tk, t => length(t) <= 2)).cast("long") * 10L <= n &&
      size(array_distinct(tk)).cast("long") * 5L >= n * 2L &&
      size(filter(tk, t => t.isin("a", "the"))).cast("long") >= 2L
  }

  /** Positional token hashes for a frame that carries raw `text` — the
    * streaming delta's equivalent of [[Dedup.tokenHashFrame]]'s build
    * projection (same tokenize, same hash — the index and the delta can
    * never disagree).
    */
  private[graft] def textTokenHashes(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("pos"),
        tokenHash(col("tok")).as("h"))

  /** The c24 histogram/ROC fold over ANY `(score_micro, pass)` relation
    * — batch feeds the index-ridden scores, the streaming twin feeds
    * its maintained per-document store view.
    */
  private[graft] def calibrationOn(scored: DataFrame): DataFrame = {
    val binned = scored
      // + QcShift·10⁶ makes the dividend non-negative, so Spark's
      // truncating DIV and DuckDB's flooring // agree on the bin.
      .withColumn("bin",
        expr(s"(score_micro + ${QcShift * 1000000L}) DIV $QcBinMicros"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pos"))
    val all = Window.partitionBy(lit(1))
    val desc = all.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val asc = all.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("cum_n", sum("n").over(desc))
      .withColumn("cum_pos", sum("n_pos").over(desc))
      .withColumn("tot_pos", sum("n_pos").over(all))
      .withColumn("tot_neg", sum(col("n") - col("n_pos")).over(all))
      .withColumn("neg_below",
        sum(col("n") - col("n_pos")).over(asc) - (col("n") - col("n_pos")))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("""CAST((CAST(cum_pos AS DECIMAL(38,0)) * 1000000)
                DIV greatest(tot_pos, 1) AS BIGINT)""").as("cum_tpr_ppm"),
        expr("""CAST((CAST(cum_n - cum_pos AS DECIMAL(38,0)) * 1000000)
                DIV greatest(tot_neg, 1) AS BIGINT)""").as("cum_fpr_ppm"),
        // through DECIMAL, surfaced as BIGINT: exact up to ~2·10⁹ docs
        // per corpus (u2 < n_pos·2N); past that, drop this outer cast
        // and read the DECIMAL — the internal arithmetic already is.
        expr("""CAST(CAST(n_pos AS DECIMAL(38,0)) *
                (2 * neg_below + (n - n_pos)) AS BIGINT)""").as("u2"))
  }

  /** c23 head count: topics in the multiclass classifier. */
  private[graft] val Topics = 8

  /** c23 — MULTICLASS TOPIC CLASSIFICATION + DOMAIN-MIX rollup: c22's
    * hashing-trick inference extended to the K-head fastText shape — per
    * document, K linear scores over the same 1024-bucket unigram
    * features, `topic` = argmax (smallest head on ties) — then rolled up
    * to the `(source, topic)` mix table with exact per-source shares in
    * ppm. This is the domain-labeling step a mixture-balancing pass
    * (DoReMi-style domain weights, or just "cap web-crawl topic X at
    * 20%") runs before sampling; the rollup IS the audit the mixer
    * reads.
    *
    * Head-k weights = the portable affine family over the shared
    * unigram bucket base, MATERIALIZED as K literal 1024-long tables
    * ([[qcHeadTable]]) — per token, one md5 (the bucket id) plus K table
    * reads; the oracle still derives every weight from the md5+affine
    * chain, proving the tables equal their definition. Per-doc
    * classification stays a pure scan; the only shuffle is the
    * map-side-combined (source, topic) rollup, and the share window
    * rides that dashboard-sized frame.
    */
  def topicMix(spark: SparkSession, sfDir: String): DataFrame = {
    // Rides the durable token-hash index (one md5 per corpus token, paid
    // once at index build): per token row, K codegen'd literal-table
    // reads summed by a bucket-local hash aggregate — no higher-order
    // lambdas anywhere (they evaluate interpreted with no CSE; the
    // pre-index formulations measured 66 s → 17 s → 12.5 s → 6.7 s at
    // sf1-synth as md5 work was peeled away, and the index ride removes
    // the last query-time md5 entirely). The per-doc aggregate runs
    // Exchange-free on the doc_id-bucketed scan; the only shuffle left
    // is the dashboard-sized (source, topic) rollup.
    val b = ((col("h") % QcBuckets) + 1L).cast("int")
    val scored = Dedup.tokenHashFrame(spark, sfDir)
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(element_at(typedLit(qcHeadTable(0)), b)).as("s0"),
        (1 until Topics).map(k =>
          sum(element_at(typedLit(qcHeadTable(k)), b)).as(s"s$k")): _*)
    val best = greatest((0 until Topics).map(k => col(s"s$k")): _*)
    val topicCol = (1 until Topics)
      .foldLeft(when(col("s0") === best, 0L)) { (acc, k) =>
        acc.when(col(s"s$k") === best, k.toLong) // first hit = smallest k
      }
    val perDoc = scored.select(col("source"), topicCol.as("topic"))
    perDoc.groupBy("source", "topic")
      .agg(count(lit(1)).as("n_docs"))
      // DECIMAL(38,0) ppm multiply (house pattern): n_docs·10⁶ brushes
      // the long range at trillion-doc sources
      .withColumn("share_ppm", expr(
        """CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000
          |  DIV sum(n_docs) OVER (PARTITION BY source) AS BIGINT)"""
          .stripMargin))
  }

  val queries: Map[String, Q] = Map(
    "c23_topic_mix" -> (topicMix _),
    "c22_quality_classifier" -> (qualityClassifier _),
    "c24_quality_calibration" -> (qualityCalibration _),
    "c25_calibration_auc" -> (calibrationAuc _),
    "c20_t_closeness" -> (tCloseness _),
    "c19_importance" -> (importanceWeights _),
    "c16_curriculum" -> (curriculumPhases _),
    "c14_k_anonymity" -> ((s: SparkSession, d: String) => kAnonymity(s, d)),
    "c17_l_diversity" -> ((s: SparkSession, d: String) => lDiversity(s, d)),
    "c1_pii_scrub" -> (piiScrub _),
    "c2_contamination" -> (contamination _),
    "c3_seq_pack" -> (seqPack _),
    "c4_chunks" -> (chunks _),
    "c5_bpe_pairs" -> (bpePairs _),
    "c6_decontaminated" -> (decontaminated _),
    "c7_quality_gate" -> (qualityGate _),
    "c21_gopher_rules" -> (gopherRules _),
    "c8_length_buckets" -> (lengthBuckets _),
    "c9_span_scrub" -> (spanScrub _),
    "c10_bpe_train" -> (bpeTrain _),
    "c12_bpe_encode" -> (bpeEncode _),
    "c18_fertility" -> (tokenizerFertility _),
    "x9_repetition" -> (repetition _)
  )

  /** c22 oracle — shared: the registry entry verbatim, and c24 embeds it
    * as a subquery so the calibration audit re-derives every score from
    * the md5+affine chain (the literal weight tables stay proven).
    */
  private val c22Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_transform(${tokensSql("text")}, x -> ${tokenHashSql("x")})
       |      AS hs
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |    len(hs) + greatest(len(hs) - 1, 0) AS n_feat,
       |    list_sum(list_transform(hs, h -> ${qcWSqlFromHash("qw:", "h")}))
       |      + CASE WHEN len(hs) <= 1 THEN 0
       |        ELSE list_sum(list_transform(range(1, len(hs)),
       |          i -> ${qcWSqlFromHash("qb:",
    s"((hs[CAST(i AS INTEGER)] * 31 + hs[CAST(i + 1 AS INTEGER)]) % ${Portable.P})")}))
       |        END AS s
       |  FROM t)
       |SELECT doc_id, source, CAST(n_feat AS BIGINT) AS n_feat,
       |  CAST(s * 1000000 // greatest(n_feat, 1)
       |    - ${QcShift * 1000000L} AS BIGINT) AS score_micro,
       |  s * 1000000 // greatest(n_feat, 1)
       |    - ${QcShift * 1000000L} >= 0 AS keep
       |FROM f""".stripMargin

  /** c10 oracle: the trainer unrolled — per round, a pair count, a 1-row
    * argmax, and the same greedy fold (DuckDB `list_reduce` over a
    * '|'-delimited accumulator; the corpus alphabet is letters only, so
    * the delimiter cannot collide).
    */
  private val c10Sql: String = {
    val rounds = (1 to BpeMerges).map { i =>
      val prev = s"vocab${i - 1}"
      s""",
         |pairs$i AS (
         |  SELECT p.pair, CAST(sum(v.freq) AS BIGINT) AS n
         |  FROM $prev v,
         |    unnest(list_transform(range(1, len(v.syms)),
         |      j -> v.syms[j] || ' ' || v.syms[j+1])) AS p(pair)
         |  GROUP BY p.pair),
         |best$i AS (
         |  SELECT $i AS step,
         |    string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS r, n
         |  FROM pairs$i ORDER BY n DESC, pair LIMIT 1),
         |vocab$i AS (
         |  SELECT v.t, v.freq,
         |    CASE WHEN len(v.syms) = 1 THEN v.syms
         |    ELSE string_split(
         |      list_reduce(v.syms, (acc, x) ->
         |        CASE WHEN regexp_extract(acc, '[^|]*$$') = b.l AND x = b.r
         |             THEN acc[1 : len(acc) - len(b.l)] || b.l || b.r
         |             ELSE acc || '|' || x END), '|') END AS syms
         |  FROM $prev v, best$i b)""".stripMargin
    }.mkString
    s"""WITH vocab0 AS (
       |  SELECT t, count(*) AS freq,
       |    list_transform(range(1, len(t) + 1), i -> t[i]) AS syms
       |  FROM (SELECT unnest(${tokensSql("text")}) AS t FROM documents)
       |  GROUP BY t)$rounds
       |SELECT step, l AS left_sym, r AS right_sym, l || r AS merged, n FROM (
       |  ${(1 to BpeMerges).map(i => s"SELECT * FROM best$i")
           .mkString("\n  UNION ALL\n  ")})""".stripMargin
  }

  /** c12's oracle: the same unrolled trainer CTE chain, consumed from
    * the final vocab (symbol counts per distinct token) instead of the
    * merge list.
    */
  private val c12Sql: String = {
    val cte = c10Sql.substring(0, c10Sql.lastIndexOf("SELECT step,"))
      .trim.stripSuffix(",")
    s"""$cte,
       |enc AS (SELECT t, len(syms) AS n_units FROM vocab$BpeMerges),
       |tc AS (
       |  SELECT doc_id, t, count(*) AS n
       |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS t
       |        FROM documents)
       |  GROUP BY doc_id, t)
       |SELECT tc.doc_id,
       |  CAST(sum(tc.n) AS BIGINT) AS n_words,
       |  CAST(sum(tc.n * enc.n_units) AS BIGINT) AS n_bpe_units,
       |  CAST(sum(tc.n * len(tc.t)) AS BIGINT) AS n_chars
       |FROM tc JOIN enc ON tc.t = enc.t
       |GROUP BY tc.doc_id""".stripMargin
  }

  /** c18 oracle: c10's vocab CTE chain + a per-lang rollup with exact
    * HUGEINT ppm ratios (fertility = units/word, compression =
    * chars/unit).
    */
  private val c18Sql: String = {
    val cte = c10Sql.substring(0, c10Sql.lastIndexOf("SELECT step,"))
      .trim.stripSuffix(",")
    s"""$cte,
       |enc AS (SELECT t, len(syms) AS n_units FROM vocab$BpeMerges),
       |tc AS (
       |  SELECT lang, t, count(*) AS n
       |  FROM (SELECT lang, unnest(${tokensSql("text")}) AS t
       |        FROM documents)
       |  GROUP BY lang, t)
       |SELECT tc.lang,
       |  CAST(sum(tc.n) AS BIGINT) AS n_words,
       |  CAST(sum(tc.n * enc.n_units) AS BIGINT) AS n_bpe_units,
       |  CAST(sum(tc.n * len(tc.t)) AS BIGINT) AS n_chars,
       |  CAST(CAST(sum(tc.n * enc.n_units) AS HUGEINT) * 1000000
       |    // sum(tc.n) AS BIGINT) AS fertility_ppm,
       |  CAST(CAST(sum(tc.n * len(tc.t)) AS HUGEINT) * 1000000
       |    // sum(tc.n * enc.n_units) AS BIGINT) AS chars_per_unit_ppm
       |FROM tc JOIN enc ON tc.t = enc.t
       |GROUP BY tc.lang""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "c23_topic_mix" -> {
      val aLit = Portable.A.take(Topics).mkString("[", ", ", "]")
      val bLit = Portable.B.take(Topics).mkString("[", ", ", "]")
      val base = tokenHashSql(
        s"'qw:' || CAST((${tokenHashSql("x")} % $QcBuckets) AS VARCHAR)")
      s"""WITH t AS (
         |  SELECT doc_id, source, ${tokensSql("text")} AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, source,
         |    list_transform(range(0, $Topics), k ->
         |      list_sum(list_transform(toks, x ->
         |        ((($aLit[CAST(k + 1 AS INTEGER)] * $base
         |           + $bLit[CAST(k + 1 AS INTEGER)]) % ${Portable.P})
         |          % $QcLevels)))) AS scores
         |  FROM t),
         |d AS (
         |  SELECT source,
         |    CAST(list_position(scores, list_max(scores)) - 1 AS BIGINT)
         |      AS topic
         |  FROM s),
         |g AS (
         |  SELECT source, topic, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM d GROUP BY 1, 2)
         |SELECT source, topic, n_docs,
         |  CAST(CAST(n_docs AS HUGEINT) * 1000000
         |    // sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
         |    AS share_ppm
         |FROM g""".stripMargin
    },
    "c22_quality_classifier" -> c22Sql,
    "c24_quality_calibration" -> c24Sql,
    // c25: c24's full derivation re-run as a subquery, rolled to the
    // one-row scalar — the oracle re-derives P, N, Σu2 AND the ppm
    // division, so the headline number is pinned end-to-end
    "c25_calibration_auc" ->
      s"""SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         |  CAST(sum(n - n_pos) AS BIGINT) AS n_neg,
         |  CAST(sum(u2) AS BIGINT) AS sum_u2,
         |  CAST((CAST(sum(u2) AS HUGEINT) * 1000000)
         |    // greatest(2 * CAST(sum(n_pos) AS HUGEINT)
         |               * CAST(sum(n - n_pos) AS HUGEINT), 1)
         |    AS BIGINT) AS auc_ppm
         |FROM ($c24Sql)""".stripMargin,
  ) ++ oracleRest

  /** c24's full derivation, shared with c25's one-row rollup. */
  private lazy val c24Sql: String =
      s"""WITH s AS (
         |  SELECT doc_id, score_micro FROM ($c22Sql)),
         |lab AS (
         |  SELECT doc_id,
         |    (len(tk) >= 32 AND len(tk) <= 100000
         |     AND list_sum(list_transform(tk, t -> len(t))) * 10
         |         >= len(tk) * 40
         |     AND list_sum(list_transform(tk, t -> len(t))) <= len(tk) * 10
         |     AND len(list_filter(tk, t -> len(t) <= 2)) * 10 <= len(tk)
         |     AND len(list_distinct(tk)) * 5 >= len(tk) * 2
         |     AND len(list_filter(tk, t -> t = 'a' OR t = 'the')) >= 2)
         |      AS pass
         |  FROM (SELECT doc_id, ${tokensSql("text")} AS tk
         |        FROM documents)),
         |binned AS (
         |  SELECT (score_micro + ${QcShift * 1000000L}) // $QcBinMicros
         |      AS bin,
         |    count(*) AS n,
         |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM s JOIN lab USING (doc_id) GROUP BY 1),
         |w AS (
         |  SELECT *,
         |    sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |      AS cum_n,
         |    sum(n_pos) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
         |      AS cum_pos,
         |    sum(n_pos) OVER () AS tot_pos,
         |    sum(n - n_pos) OVER () AS tot_neg,
         |    sum(n - n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
         |      - (n - n_pos) AS neg_below
         |  FROM binned)
         |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
         |  CAST((CAST(cum_pos AS HUGEINT) * 1000000)
         |    // greatest(tot_pos, 1) AS BIGINT) AS cum_tpr_ppm,
         |  CAST((CAST(cum_n - cum_pos AS HUGEINT) * 1000000)
         |    // greatest(tot_neg, 1) AS BIGINT) AS cum_fpr_ppm,
         |  CAST(CAST(n_pos AS HUGEINT) * (2 * neg_below + (n - n_pos))
         |    AS BIGINT) AS u2
         |FROM w""".stripMargin

  private lazy val oracleRest: Map[String, String] = Map(
    "c20_t_closeness" ->
      s"""WITH base AS (
         |  SELECT lang, source, n_chars // 100 AS cls FROM documents),
         |clstot AS (
         |  SELECT cls, CAST(count(*) AS BIGINT) AS t_cnt,
         |    CAST(sum(count(*)) OVER (ORDER BY cls) AS BIGINT) AS cum_t
         |  FROM base GROUP BY cls),
         |grp AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS group_n
         |  FROM base GROUP BY 1, 2),
         |gcls AS (
         |  SELECT lang, source, cls, CAST(count(*) AS BIGINT) AS g_cnt
         |  FROM base GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT CAST(sum(t_cnt) AS BIGINT) AS t_total,
         |    CAST(count(*) AS BIGINT) AS m
         |  FROM clstot),
         |scaffold AS (
         |  SELECT g.lang, g.source, g.group_n, c.cls, c.cum_t,
         |    CAST(sum(COALESCE(gc.g_cnt, 0)) OVER (
         |      PARTITION BY g.lang, g.source ORDER BY c.cls) AS BIGINT) AS cum_g
         |  FROM grp g CROSS JOIN clstot c
         |  LEFT JOIN gcls gc
         |    ON gc.lang = g.lang AND gc.source = g.source AND gc.cls = c.cls)
         |SELECT s.lang, s.source, s.group_n,
         |  CAST(sum(abs(CAST(s.cum_g AS HUGEINT) * t.t_total
         |                 - CAST(s.cum_t AS HUGEINT) * s.group_n)) * 1000000
         |    // (CAST(s.group_n AS HUGEINT) * t.t_total * greatest(t.m - 1, 1))
         |    AS BIGINT) AS emd_ppm,
         |  CAST($TClosenessPpm AS BIGINT) AS t_ppm,
         |  CAST(sum(abs(CAST(s.cum_g AS HUGEINT) * t.t_total
         |                 - CAST(s.cum_t AS HUGEINT) * s.group_n)) * 1000000
         |    // (CAST(s.group_n AS HUGEINT) * t.t_total * greatest(t.m - 1, 1))
         |    AS BIGINT) <= $TClosenessPpm AS close
         |FROM scaffold s, tot t
         |GROUP BY s.lang, s.source, s.group_n, t.t_total, t.m""".stripMargin,
    "c19_importance" ->
      s"""WITH dw AS (
         |  SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, source, unnest(${tokensSql("text")}) AS w
         |        FROM documents)
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT w,
         |    CAST(sum(CASE WHEN source = '$DsirTargetSource' THEN c ELSE 0 END)
         |      AS BIGINT) AS cnt_t,
         |    CAST(sum(CASE WHEN source = '$DsirTargetSource' THEN 0 ELSE c END)
         |      AS BIGINT) AS cnt_c
         |  FROM dw GROUP BY w),
         |tot AS (
         |  SELECT CAST(sum(cnt_t) AS BIGINT) AS n_t,
         |    CAST(sum(cnt_c) AS BIGINT) AS n_c,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM stats),
         |ratios AS (
         |  SELECT w,
         |    (((cnt_t + 1) * $DsirPpb // (n_t + v)) * $DsirPpm)
         |      // greatest((cnt_c + 1) * $DsirPpb // (n_c + v), 1)
         |      - $DsirPpm AS r_ppm
         |  FROM stats, tot),
         |perdoc AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c * r_ppm) AS BIGINT) AS llr_ppm
         |  FROM dw JOIN ratios USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, d.source,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.llr_ppm, 0) AS llr_ppm,
         |  COALESCE(p.llr_ppm, 0) >= 0 AS selected
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)""".stripMargin,
    "c18_fertility" -> c18Sql,
    // phase stated by the naive per-language rank definition — the hash
    // match proves the w3-style bucket decomposition
    "c16_curriculum" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(floor(round(least(n / 50.0, 1.0) * 0.5
         |      + (1.0 - stop_n / n) * 0.5, 6) * 1000000) AS BIGINT) AS q_micro
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(toks) AS DOUBLE) AS n,
         |      CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE) AS stop_n
         |    FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents))),
         |j AS (
         |  SELECT d.doc_id, d.lang, q.q_micro
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, lang, q_micro,
         |  ((rank() OVER (PARTITION BY lang ORDER BY q_micro) - 1) * 3)
         |    // (count(*) OVER (PARTITION BY lang)) AS phase
         |FROM j""".stripMargin,
    "c17_l_diversity" ->
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS group_n,
        |  CAST(count(DISTINCT n_chars // 100) AS BIGINT) AS l_distinct,
        |  CAST(3 AS BIGINT) AS l,
        |  count(DISTINCT n_chars // 100) >= 3 AS diverse
        |FROM documents GROUP BY lang, source""".stripMargin,
    "c14_k_anonymity" ->
      """SELECT doc_id, lang, source,
        |  count(*) OVER (PARTITION BY lang, source) AS group_n,
        |  CAST(5 AS BIGINT) AS k,
        |  count(*) OVER (PARTITION BY lang, source) < 5 AS suppress
        |FROM documents""".stripMargin,
    "c10_bpe_train" -> c10Sql,
    "c12_bpe_encode" -> c12Sql,
    "c1_pii_scrub" ->
      s"""SELECT c_custkey,
         |  regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
         |  ${tokenHashSql("c_name")} AS name_pseudo,
         |  c_mktsegment
         |FROM customer""".stripMargin,
    "c2_contamination" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${Dedup.shingleHashesSql} AS sh
         |  FROM (SELECT doc_id,
         |          list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         |tr AS (SELECT doc_id, shingle FROM e WHERE doc_id % 97 <> 0),
         |te AS (SELECT doc_id AS test_doc, shingle FROM e WHERE doc_id % 97 = 0)
         |SELECT tr.doc_id,
         |  CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
         |  CAST(count(DISTINCT te.test_doc) AS BIGINT) AS n_test_docs
         |FROM tr JOIN te ON tr.shingle = te.shingle
         |GROUP BY tr.doc_id""".stripMargin,
    "c3_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS "offset"
        |  FROM d)
        |SELECT doc_id, n_tokens, "offset",
        |  "offset" // 512 AS first_seq,
        |  ("offset" + n_tokens - 1) // 512 AS last_seq
        |FROM o""".stripMargin,
    "c4_chunks" ->
      s"""$chunkFrameSql
         |SELECT doc_id, chunk_id, n_tokens, chunk_fp FROM chunks""".stripMargin,
    "c5_bpe_pairs" ->
      s"""SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(list_transform(range(1, length(t)),
         |    i -> substring(t, CAST(i AS INTEGER), 2))) AS pair
         |  FROM (SELECT unnest(${tokensSql("text")}) AS t FROM documents)
         |  WHERE length(t) >= 2)
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "c6_decontaminated" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${Dedup.shingleHashesSql} AS sh
         |  FROM (SELECT doc_id,
         |          list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         |tr AS (SELECT doc_id, shingle FROM e WHERE doc_id % 97 <> 0),
         |te AS (SELECT doc_id AS test_doc, shingle FROM e WHERE doc_id % 97 = 0),
         |bad AS (
         |  SELECT tr.doc_id FROM tr JOIN te ON tr.shingle = te.shingle
         |  GROUP BY tr.doc_id HAVING count(DISTINCT tr.shingle) >= 3)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |WHERE d.doc_id % 97 <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
    "c21_gopher_rules" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT CAST(len(toks) AS BIGINT) AS n,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS totlen,
        |  CAST(len(list_filter(toks, x -> length(x) <= 2)) AS BIGINT) AS nshort,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS ndist,
        |  CAST(len(list_filter(toks, x -> x IN ('a', 'the'))) AS BIGINT) AS nstop
        |  FROM t),
        |p AS (SELECT (n >= 32 AND n <= 100000) AS r1,
        |  (totlen * 10 >= n * 40 AND totlen <= n * 10) AS r2,
        |  (nshort * 10 <= n) AS r3,
        |  (ndist * 5 >= n * 2) AS r4,
        |  (nstop >= 2) AS r5 FROM s),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
        |  CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
        |  CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) AS BIGINT) AS s5
        |  FROM p)
        |SELECT 'r1_word_count' AS rule, n0 AS n_checked, n0 - s1 AS n_fail, s1 AS n_pass FROM f
        |UNION ALL SELECT 'r2_mean_word_len', s1, s1 - s2, s2 FROM f
        |UNION ALL SELECT 'r3_short_token_frac', s2, s2 - s3, s3 FROM f
        |UNION ALL SELECT 'r4_distinct_frac', s3, s3 - s4, s4 FROM f
        |UNION ALL SELECT 'r5_stopword_coverage', s4, s4 - s5, s5 FROM f""".stripMargin,
    "c7_quality_gate" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${Dedup.shingleHashesSql} AS sh
         |  FROM (SELECT doc_id,
         |          list_transform(${tokensSql("text")}, t -> ${tokenHashSql("t")}) AS hs
         |        FROM documents)),
         |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
         |tr AS (SELECT doc_id, shingle FROM e WHERE doc_id % 97 <> 0),
         |te AS (SELECT doc_id AS test_doc, shingle FROM e WHERE doc_id % 97 = 0),
         |bad AS (
         |  SELECT tr.doc_id FROM tr JOIN te ON tr.shingle = te.shingle
         |  GROUP BY tr.doc_id HAVING count(DISTINCT tr.shingle) >= 3),
         |q AS (
         |  SELECT doc_id,
         |    round(least(n / 50.0, 1.0) * 0.5 + (1.0 - stop_n / n) * 0.5, 6) AS quality
         |  FROM (
         |    SELECT doc_id,
         |      CAST(len(toks) AS DOUBLE) AS n,
         |      CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE) AS stop_n
         |    FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents))),
         |canon AS (
         |  SELECT md5(text) AS h, min(doc_id) AS cid FROM documents GROUP BY md5(text))
         |SELECT doc_id, too_short, low_quality, contaminated, exact_dup,
         |  (NOT (too_short OR low_quality OR contaminated OR exact_dup)) AS kept
         |FROM (
         |  SELECT d.doc_id,
         |    (len(${tokensSql("d.text")}) < 20) AS too_short,
         |    (q.quality < 0.6) AS low_quality,
         |    (d.doc_id IN (SELECT doc_id FROM bad)) AS contaminated,
         |    (d.doc_id <> c.cid) AS exact_dup
         |  FROM documents d
         |  JOIN q ON q.doc_id = d.doc_id
         |  JOIN canon c ON md5(d.text) = c.h
         |  WHERE d.doc_id % 97 <> 0)""".stripMargin,
    "x9_repetition" ->
      s"""WITH tc AS (
         |  SELECT doc_id, t, count(*) AS n FROM (
         |    SELECT doc_id, unnest(${tokensSql("text")}) AS t FROM documents)
         |  GROUP BY doc_id, t)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  count(*) AS n_distinct,
         |  round(CAST(1 AS DOUBLE) - count(*) / CAST(sum(n) AS DOUBLE), 6) AS dup_ratio,
         |  round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_token_share
         |FROM tc GROUP BY doc_id""".stripMargin,
    "c8_length_buckets" ->
      s"""SELECT pad_len, n_docs, real_tokens,
         |  pad_len * n_docs AS padded_tokens,
         |  round(CAST(pad_len * n_docs - real_tokens AS DOUBLE) /
         |    (pad_len * n_docs), 6) AS waste_ratio
         |FROM (
         |  SELECT pad_len, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS real_tokens
         |  FROM (
         |    SELECT ((len(${tokensSql("text")}) + 63) // 64) * 64 AS pad_len,
         |      CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tokens
         |    FROM documents)
         |  GROUP BY pad_len)""".stripMargin,
    "c9_span_scrub" ->
      s"""WITH spans AS (${Dedup.d12Sql}),
         |cov AS (
         |  SELECT doc_id, unnest(range(span_start, span_end + 1)) AS p
         |  FROM spans),
         |tk AS (
         |  SELECT doc_id,
         |    CAST(generate_subscripts(${tokensSql("text")}, 1) AS BIGINT) AS p,
         |    unnest(${tokensSql("text")}) AS tok
         |  FROM documents),
         |kept AS (
         |  SELECT tk.doc_id, tk.p, tk.tok
         |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.p
         |  WHERE cov.p IS NULL),
         |agg AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(agg.clean_text, '') AS clean_text,
         |  CAST(len(${tokensSql("d.text")}) - COALESCE(agg.n_kept, 0) AS BIGINT)
         |    AS n_cut_tokens
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
  )
}
