package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Portable._

/** Query-time search over the document corpus — the retrieval side of
  * the reference's serving layer. The reference materializes CDC state
  * into OpenSearch (`consumer_to_opensearch.py:94-95`), whose index
  * mapping declares analyzed `text` fields precisely so they can be
  * SEARCHED (`full_name: text`, `consumer_to_opensearch.py:17-24`); the
  * dashboards (`README.md:144-163`) only aggregate, but the engine
  * underneath is a search engine, and a user of the reference can issue
  * `match` and `match_phrase` queries against it. These operators are
  * that surface, Spark-first:
  *
  *  - [[matchSearch]] (x12) = OpenSearch `match` (OR semantics, ranked):
  *    posting-list join + rational tf-idf scoring, top-k per query.
  *  - [[phraseSearch]] (x13) = OpenSearch `match_phrase`: positional
  *    adjacency via the same lead-window n-gram formulation as the
  *    shingle pipeline, occurrence counts, top-k per query.
  *
  * Scale shape (the distributed-search classic): the corpus side stays a
  * posting list keyed by term/gram — ids and counts, never text — and
  * shuffles on that key; the ONLY broadcast sides are the query set
  * (a few literal rows) and the one-row corpus count. Per-query top-k is
  * a bounded window (WindowGroupLimit: per-partition limits before the
  * exchange), never a global sort.
  *
  * Scoring is integer micro-units: `tf · N · 10^6 div df` summed as
  * longs. A double sum's value depends on addend order, which neither
  * engine pins; floor-quantizing each addend makes the sum — and the
  * ranking and the oracle hash — exact and order-independent.
  */
object Search {

  type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** The query workload: multi-term OR queries (q1 mixes the rarest
    * corpus term with a common one — the idf discrimination case; q4 is
    * single-rare-term; q2/q3 are common-term queries).
    */
  private[ext] val matchQueries: Seq[(Int, String)] = Seq(
    1 -> "dup", 1 -> "scan",
    2 -> "vector", 2 -> "window", 2 -> "spark",
    3 -> "customer", 3 -> "order",
    4 -> "dup")

  /** Phrase workload: two frequent bigrams, two selective trigrams. */
  private[ext] val phraseQueries: Seq[(Int, String)] = Seq(
    1 -> "table hash", 2 -> "customer join",
    3 -> "slow hash batch", 4 -> "part filter scan")

  /** x12 — ranked boolean match: for each query, the top-10 documents
    * containing any query term, scored by summed rational tf-idf in
    * integer micro-units. One tokenize pass; df derived from tf (same
    * single-scan trick as x10).
    */
  def matchSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // the same posting index x10's TF-IDF reads — built once per corpus
    // snapshot (at 100 TB: the written term-frequency table)
    matchSearchOn(TextAnalysis.termFreq(spark, sfDir),
      docs(spark, sfDir).agg(count(lit(1)).as("n_docs")),
      matchQueries.toDF("query_id", "term"))
  }

  /** A fresh upsert store's view is a SCHEMA-EMPTY frame (no version
    * committed yet → `spark.emptyDataFrame`); serving against it must
    * return zero hits, not an unresolved-column AnalysisException, so
    * the injectable search paths normalize it to an empty postings
    * relation with the real schema first.
    */
  private def postingsOrEmpty(tf: DataFrame): DataFrame =
    if (tf.schema.nonEmpty) tf
    else tf.sparkSession.createDataFrame(
      tf.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.streaming.PostingsStream.postingsSchema)

  /** x12 over an ARBITRARY `(doc_id, term, tf)` postings relation and
    * one-row `n_docs` frame — injectable so the STREAMING-maintained
    * postings store ([[graft.streaming.PostingsStream]]) can serve the
    * same query (`PostingsStreamSpec` proves serving parity), and so
    * any future snapshot/index source plugs in unchanged (including a
    * not-yet-committed EMPTY store → zero hits).
    */
  private[graft] def matchSearchOn(tf0: DataFrame, n: DataFrame,
      q: DataFrame): DataFrame = {
    val tf = postingsOrEmpty(tf0)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val hits = tf
      .join(dfreq, Seq("term"))
      .join(broadcast(q), Seq("term")) // tiny literal side: correct broadcast
      .crossJoin(broadcast(n))         // one-row frame: correct broadcast
      .withColumn("w_micro", expr("tf * n_docs * 1000000 DIV df"))
    val scored = hits.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w_micro").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("score_micro"), col("rank").cast("long").as("rank"))
  }

  /** x13 — phrase match: contiguous-token phrases located through the
    * lead-window n-gram posting list (relational — no array
    * cross-reference, see the CollapseProject hazard on
    * [[Dedup.shingleFrame]]), counted per document, top-10 documents per
    * phrase by occurrence count.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = phraseQueries.toDF("query_id", "phrase")
    // shared lead-window n-gram base (indexed with x11's bigrams)
    val base = TextAnalysis.gramBase(spark, sfDir)
    val g2 = base.filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("gram"))
    val g3 = base.filter(col("w3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("w1"), col("w2"), col("w3")).as("gram"))
    val hits = g2.unionByName(g3)
      .join(broadcast(q), col("gram") === col("phrase"))
      .groupBy("query_id", "phrase", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("n_occurrences").desc, col("doc_id"))
    hits
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("phrase"), col("doc_id"),
        col("n_occurrences"), col("rank").cast("long").as("rank"))
  }

  /** x14 — HYBRID retrieval: reciprocal-rank fusion of the lexical arm
    * (x12's tf-idf ranking) and a dense vector arm (brute cosine top-10
    * for the query vectors `vec_id == query_id`). RRF is the fusion
    * every hybrid search engine defaults to because it needs only the
    * RANKS, which are exact integers — here the classic
    * `Σ 1/(60 + rank)` is kept in integer micro-units
    * (`10^6 div (60 + rank)` summed as longs) so the fused ordering is
    * order-independent and engine-exact, where a float sum would hang
    * the oracle hash on addend order. Each arm is itself a bounded
    * top-k, so the fusion join touches ≤ 2k rows per query regardless
    * of corpus size.
    */
  def hybridSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val text = matchSearch(spark, sfDir)
      .select(col("query_id"), col("doc_id").as("id"),
        expr("1000000 DIV (60 + rank)").as("arm_score"))
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val qids = matchQueries.map(_._1).distinct.map(_.toLong)
    val q = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val vw = Window.partitionBy("qid").orderBy(col("cos_raw").desc, col("id"))
    val vec = e.crossJoin(broadcast(q)) // query side: 4 rows
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
      .withColumn("vec_rank", row_number().over(vw))
      .filter(col("vec_rank") <= 10)
      .select(col("qid").cast("int").as("query_id"), col("id"),
        expr("1000000 DIV (60 + vec_rank)").as("arm_score"))
    val fw = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("id"))
    text.unionByName(vec)
      .groupBy("query_id", "id")
      .agg(count(lit(1)).as("n_arms"), sum("arm_score").as("rrf_micro"))
      .withColumn("rank", row_number().over(fw))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("id"), col("n_arms"), col("rrf_micro"),
        col("rank").cast("long").as("rank"))
  }

  /** x17 — BM25 ranked match: the scoring the serving layer ACTUALLY
    * runs (OpenSearch's default `match` similarity is BM25; x12's plain
    * tf-idf is the pedagogical baseline). Classic Robertson weighting
    * with k1 = 1.2, b = 0.75, in pure integer arithmetic:
    *
    *   tf-part = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * With avgdl = A/N (total tokens / docs — both exact integers),
    * multiplying through by 10·A clears every rational:
    *
    *   tf_micro = (22·A·tf·10^6) DIV (10·A·tf + 3·A + 9·dl·N)
    *
    * and the idf arm stays x12's rational `N·10^6 DIV df`. Each term's
    * score is the integer product folded back to micro-units, so the
    * per-document sum is a sum of exact longs — order-independent,
    * engine-exact, oracle-hashable. (The classic log-idf is libm and
    * engine-varying; the rational idf preserves the ranking's
    * discrimination behavior. At corpora where 22·A·tf·10^6 nears 2^63,
    * divide A out of numerator and denominator first — the formula is a
    * ratio, the scaling is free.)
    *
    * Plan shape = x12's: posting lists shuffle on term/doc keys, the
    * literal query set and the one-row corpus stats broadcast, doc
    * length joins doc-keyed, top-k is WindowGroupLimit.
    */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bm25On(TextAnalysis.termFreq(spark, sfDir),
      matchQueries.toDF("query_id", "term"))
  }

  /** x17 over an ARBITRARY `(doc_id, term, tf)` postings relation — all
    * of BM25's corpus statistics (df, doc length, N, total tokens)
    * derive from the postings alone, so the STREAMING-maintained store
    * serves the ranking unchanged (`PostingsStreamSpec`), as would any
    * snapshot source (including a not-yet-committed EMPTY store → zero
    * hits, via [[postingsOrEmpty]]).
    */
  private[graft] def bm25On(tf0: DataFrame, q: DataFrame): DataFrame = {
    val tf = postingsOrEmpty(tf0)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = tf.agg(count_distinct(col("doc_id")).as("n_docs"),
      sum("tf").as("a_tokens"))
    val hits = tf
      .join(dfreq, Seq("term"))
      .join(broadcast(q), Seq("term")) // tiny literal side
      .join(dl, Seq("doc_id"))         // doc-keyed shuffle join
      .crossJoin(broadcast(stats))     // one-row frame
      .withColumn("tf_micro",
        expr("(22 * a_tokens * tf * 1000000) DIV (10 * a_tokens * tf + 3 * a_tokens + 9 * dl * n_docs)"))
      .withColumn("w_micro",
        expr("((n_docs * 1000000 DIV df) * tf_micro) DIV 1000000"))
    val scored = hits.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w_micro").as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        col("score_micro"), col("rank").cast("long").as("rank"))
  }

  /** x16 — result highlighting: for every x12 hit, a token-window
    * snippet centered on the FIRST occurrence of any query term — the
    * serving layer's `highlight` feature (OpenSearch returns highlighted
    * fragments with `match` responses; the reference's index declares
    * analyzed `text` fields precisely to enable this class of feature).
    *
    * Scale shape: the hit set is bounded (top-k per query × queries), so
    * it is the BROADCAST side; the corpus is scanned once, and only hit
    * documents' token arrays are ever sliced. `array_position` (first
    * match, 1-based) keeps position math relational — no posexplode of
    * the corpus, unlike the phrase path which genuinely needs positions
    * for every gram.
    */
  def highlight(spark: SparkSession, sfDir: String, window: Int = 2): DataFrame = {
    import spark.implicits._
    val hits = matchSearch(spark, sfDir)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val q = matchQueries.toDF("query_id", "term")
    // hits × their query terms: still ≤ k·|queries|·terms rows — tiny
    val probes = hits.join(q, Seq("query_id"))
    val d = docs(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
    val fp = d.join(broadcast(probes), Seq("doc_id"))
      .withColumn("p", array_position(col("ws"), col("term")))
      .filter(col("p") > 0) // terms of the query absent from this doc
      .groupBy("query_id", "doc_id", "rank")
      // every row in the group carries the SAME doc's array, so first()
      // is deterministic in value — keeps the corpus scan single
      .agg(min("p").as("first_pos"), first("ws").as("ws"))
    val start = greatest(col("first_pos") - window, lit(1L))
    val len = (col("first_pos") + window - start + 1L).cast("int")
    fp.select(col("query_id"), col("doc_id"), col("rank"),
      col("first_pos").cast("long").as("first_pos"),
      concat_ws(" ", slice(col("ws"), start, len)).as("snippet"))
  }

  /** Proximity workload: co-occurring corpus term pairs. */
  private[ext] val proximityQueries: Seq[(Int, String, String)] = Seq(
    (1, "scan", "column"), (2, "window", "order"),
    (3, "join", "merge"), (4, "sort", "key"))
  private val ProxSlop = 3L

  /** x24 — PROXIMITY search (OpenSearch `match_phrase` with `slop`):
    * documents where both query terms occur within [[ProxSlop]] tokens,
    * with the exact minimum gap. The min-gap computation is LINEAR, not
    * a per-document positions cross join: both terms' positions merge
    * into one ordered stream per (query, doc), a running `max(case)`
    * window carries the latest position of the OTHER term, and the
    * minimum adjacent-pair difference IS the global minimum (for any
    * closest pair, one side is the other's latest predecessor in the
    * merged order). One posexplode over the corpus, one window, one
    * aggregation — every shuffle keyed on (query, doc) longs; the only
    * broadcast is the literal query frame. The oracle states the
    * definition directly (min |posA − posB| over the position cross
    * join, affordable at oracle scale).
    */
  def proximitySearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = proximityQueries.toDF("query_id", "t0", "t1")
    val pos = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val probes = q.select(col("query_id"), col("t0").as("term"), lit(0).as("tag"))
      .unionByName(q.select(col("query_id"), col("t1").as("term"), lit(1).as("tag")))
    val hits = pos.join(broadcast(probes), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("tag"),
        col("pos").cast("long").as("pos"))
    val w = Window.partitionBy("query_id", "doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val l0 = max(when(col("tag") === 0, col("pos"))).over(w)
    val l1 = max(when(col("tag") === 1, col("pos"))).over(w)
    hits
      .withColumn("gap",
        when(col("tag") === 1, col("pos") - l0).otherwise(col("pos") - l1))
      .filter(col("gap").isNotNull)
      .groupBy("query_id", "doc_id")
      .agg(min("gap").as("min_gap"))
      .filter(col("min_gap") <= ProxSlop)
  }

  /** Fuzzy workload: misspellings of corpus terms (1 del / 1 sub /
    * 1 ins), one exact term, one total miss (must return nothing).
    */
  private[ext] val fuzzyQueries: Seq[(Int, String)] = Seq(
    1 -> "tble", 2 -> "vactor", 3 -> "custmer", 4 -> "windw",
    5 -> "sparkk", 6 -> "merge", 7 -> "zzzz")

  /** Deletion neighborhood of a term: itself plus every 1-char-deleted
    * variant — the SymSpell index key set.
    */
  private def delVariants(t: Column): Column =
    concat(array(t), transform(sequence(lit(1), length(t)),
      i => concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t)))))

  /** x18 — FUZZY term match (OpenSearch `match` with `fuzziness: 1`,
    * the serving layer's typo tolerance): for each query term, the
    * vocabulary terms within Levenshtein distance 1, ranked by corpus
    * frequency. SymSpell shape: the vocabulary indexes under its
    * deletion neighborhood (term + every 1-char deletion — covers
    * delete, insert, AND substitute at distance 1), the query side
    * explodes the same way, and candidates materialize ONLY where a
    * variant key collides — never a |queries|×|vocab| distance matrix.
    * The exact `levenshtein` then confirms (the neighborhood also
    * catches some distance-2 pairs, e.g. transpositions — the confirm
    * removes them). At 100 TB the variant posting table is |vocab| ×
    * avg-term-length rows of short strings — linear, prebuilt once, the
    * standard spell-index trade; the corpus itself is never rescanned
    * per query.
    */
  def fuzzySearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = fuzzyQueries.toDF("query_id", "qterm")
    val vocab = TextAnalysis.termFreq(spark, sfDir)
      .groupBy("term").agg(sum("tf").as("cnt"))
    val postings = vocab.select(col("term"), col("cnt"),
      explode(delVariants(col("term"))).as("variant"))
    val qv = q.select(col("query_id"), col("qterm"),
      explode(delVariants(col("qterm"))).as("variant"))
    val cand = postings.join(broadcast(qv), Seq("variant"))
      .select("query_id", "qterm", "term", "cnt").distinct()
    val confirmed = cand
      .withColumn("distance", levenshtein(col("qterm"), col("term")).cast("long"))
      .filter(col("distance") <= 1)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distance"), col("cnt").desc, col("term"))
    confirmed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qterm"), col("term").as("match_term"),
        col("distance"), col("cnt"), col("rank").cast("long").as("rank"))
  }

  /** MLT seed documents. */
  private[ext] val mltSeeds: Seq[Long] = Seq(0L, 1L, 2L, 3L)
  private val MltTerms = 5

  /** x19 — MORE-LIKE-THIS (the serving layer's `more_like_this` query):
    * for each seed document, its [[MltTerms]] highest-tf-idf terms become
    * a ranked OR query against the corpus — OpenSearch's exact pipeline
    * (select the seed's most discriminative terms, then run a match
    * query), with x12's integer micro-unit scoring end to end.
    *
    * Scale shape: the seed-term selection is a per-seed top-k over the
    * posting frame (WindowGroupLimit), and its OUTPUT is bounded —
    * |seeds| × [[MltTerms]] rows — so it is the broadcast side of the
    * scoring join; the corpus posting list shuffles on the term key
    * exactly as x12. The corpus is never rescanned per seed.
    */
  def moreLikeThis(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = TextAnalysis.termFreq(spark, sfDir)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val weighted = tf
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("w_micro", expr("tf * n_docs * 1000000 DIV df"))
    val ws = Window.partitionBy("seed_id")
      .orderBy(col("w_micro").desc, col("term"))
    val seedTerms = weighted
      .filter(col("doc_id").isin(mltSeeds: _*))
      .select(col("doc_id").as("seed_id"), col("term"), col("w_micro"))
      .withColumn("trank", row_number().over(ws))
      .filter(col("trank") <= MltTerms)
      .select("seed_id", "term")
    val scored = weighted
      .join(broadcast(seedTerms), Seq("term")) // bounded: seeds × MltTerms
      .filter(col("doc_id") =!= col("seed_id"))
      .groupBy("seed_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("w_micro").as("score_micro"))
    val w = Window.partitionBy("seed_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("seed_id"), col("doc_id"), col("n_terms"),
        col("score_micro"), col("rank").cast("long").as("rank"))
  }

  private val SigMinCount = 5L

  /** x20 — SIGNIFICANT TERMS (the serving layer's `significant_terms`
    * aggregation): per document source, the terms most OVERREPRESENTED
    * against the whole-corpus background — "what characterizes this
    * slice", the aggregation OpenSearch ships for exactly this corpus-
    * analytics job. Score = foreground-rate / background-rate cleared to
    * integer micro-units: `(tf_fg · T_bg · 10^6) DIV (tf_bg · T_fg)`
    * where T are total token counts — exact longs, order-independent,
    * oracle-hashable (JLH's extra difference factor squares the operand
    * range and overflows 64-bit far earlier; rate-ratio + the min-count
    * gate `tf_fg ≥ 5` is the standard noise control. Where
    * `tf_fg·T_bg·10^6` nears 2^63, divide both T's by a common factor
    * first — the score is a ratio, the scaling is free). Background
    * INCLUDES the foreground (OpenSearch's default), which also makes
    * `tf_bg ≥ tf_fg` a division-safety invariant.
    *
    * One scan builds the posting frame; per-source and background totals
    * are two aggregations of it; the score join shuffles on the term
    * key; top-10 per source is a WindowGroupLimit.
    */
  def significantTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("term"))
    val fg = toks.groupBy("source", "term").agg(count(lit(1)).as("tf_fg"))
    val bg = toks.groupBy("term").agg(count(lit(1)).as("tf_bg"))
    val tfg = toks.groupBy("source").agg(count(lit(1)).as("t_fg"))
    val tbg = toks.agg(count(lit(1)).as("t_bg"))
    val scored = fg.filter(col("tf_fg") >= SigMinCount)
      .join(bg, Seq("term"))
      .join(tfg, Seq("source")) // |sources| rows — joins map-side via AQE
      .crossJoin(broadcast(tbg))
      .withColumn("sig_micro",
        expr("tf_fg * t_bg * 1000000 DIV (tf_bg * t_fg)"))
    val w = Window.partitionBy("source")
      .orderBy(col("sig_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("source"), col("term"), col("tf_fg"), col("tf_bg"),
        col("sig_micro"), col("rank").cast("long").as("rank"))
  }

  /** x21 — FACETED search: the aggregation panel a search response
    * carries next to its hits — per query, matching-document counts by
    * `lang` and by `source`, over the FULL match set (OpenSearch terms
    * aggregations run on every hit, not the returned page — x12's
    * top-10 window never enters). One distinct (query, doc) projection
    * off the shared posting frame, one join to the corpus attribute
    * columns, then a single `stack` unpivot feeding one aggregation —
    * both facet dimensions counted in one shuffle whose rows are
    * (query_id, facet, value) triples, never text. The query table is
    * the literal 8-row frame (correct broadcast); facet output is
    * bounded by |queries|·|facet values|.
    */
  def facets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = matchQueries.toDF("query_id", "term")
    val matches = TextAnalysis.termFreq(spark, sfDir)
      .join(broadcast(q), Seq("term"))
      .select("query_id", "doc_id").distinct()
    matches
      .join(docs(spark, sfDir).select("doc_id", "lang", "source"), Seq("doc_id"))
      .select(col("query_id"),
        expr("stack(2, 'lang', lang, 'source', source) AS (facet, value)"))
      .groupBy("query_id", "facet", "value")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** x23 — FUZZY entity-name SELF-join (record-linkage blocking): every
    * pair of distinct customer names at Levenshtein distance exactly 1 —
    * the near-identical-entity discovery step of a dedup/merge pass over
    * an entity table. Same SymSpell shape as x18, turned into a
    * self-join: each name posts under its deletion neighborhood and
    * candidates materialize only where a variant key collides
    * (`name_a < name_b` halves the frame and kills self-matches). The
    * |entities|² distance matrix never exists — the oracle states
    * exactly that brute force, which doubles as a completeness proof
    * for the blocking (deletion neighborhoods cover delete/insert/
    * substitute at distance 1).
    *
    * Three constant-factor choices that matter when the hub variants
    * get hot (names with runs of equal characters — zero-padded ids —
    * share deletion variants with dozens of siblings):
    *   - the join key is `xxhash64(variant)` — an 8-byte shuffle key
    *     instead of a near-name-length string. A hash collision can only
    *     MERGE buckets, i.e. ADD candidates, and every candidate passes
    *     the exact confirm — completeness is unaffected;
    *   - postings dedupe per (name, key) BEFORE the join: deleting any
    *     char of an equal-char run yields the same variant, and those
    *     duplicates would multiply out quadratically inside hub buckets;
    *   - the exact confirm runs BEFORE the pair-level DISTINCT, with a
    *     BANDED levenshtein (threshold 1 → O(len) per pair, not O(len²)):
    *     the filter kills ~all hub candidates, so the distinct collapses
    *     a survivor set instead of shuffling the full candidate frame;
    *   - a LENGTH band rides the join condition itself: distance 1
    *     implies |len(a) − len(b)| ≤ 1, so candidates outside the band
    *     die on a stored-int compare inside the join instead of
    *     reaching the O(len) levenshtein confirm at all. Completeness
    *     is untouched (the band is implied by the predicate it guards).
    * At 100 TB the variant posting table stays |entities|×(len+1) rows —
    * linear; within-variant pair counts follow real name collisions, not
    * table size.
    */
  def fuzzyNameJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val names = graft.Tables.customer(spark, sfDir)
      .select(col("c_name").as("name")).distinct()
    // The explicit fixed-width repartition on the JOIN key carries the
    // whole pipeline: AQE coalesces exchanges by BYTE size, and this
    // frame is byte-tiny but CPU-dense (19-way explode, hashing, ~1M
    // levenshtein confirms) — left to AQE it collapses to one task and
    // runs single-threaded. Partitioning by vk is also exactly what the
    // dedup (keys ⊇ vk) and the self-join (key = vk) require. The
    // planner BROADCASTS one side of the self-join, so this posting
    // build evaluates TWICE (r15 before-plan, nodes 1-11 vs 12-22) —
    // measured (OPTIMIZATION_r15.md x23, interleaved ×3) that is the FASTEST
    // shape at sf0.1: the build is cheap next to the levenshtein confirm
    // + survivor distinct, and every single-evaluation alternative
    // (lazy checkpoint; checkpoint + broadcast hint; SHUFFLE_MERGE with
    // exchange reuse) pays more in cache/sort traffic than the re-run
    // costs (V2 1.49-1.53 s vs V1 1.53-2.36 / V3 1.66-1.76 / V4
    // 1.42-1.85). At 100 TB the auto-broadcast threshold flips the join
    // to sort-merge on its own and the two identical subtrees collapse
    // into one ReusedExchange — the double evaluation is a small-scale
    // artifact the planner removes exactly when it starts to matter.
    val postings = names
      .select(col("name"), explode(delVariants(col("name"))).as("variant"))
      .select(col("name"), xxhash64(col("variant")).as("vk"),
        length(col("name")).as("ln"))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vk"))
      .distinct()
    val cand = postings.alias("a")
      .join(postings.alias("b"),
        col("a.vk") === col("b.vk") && col("a.name") < col("b.name") &&
          abs(col("a.ln") - col("b.ln")) <= 1)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    cand.filter(expr("levenshtein(name_a, name_b, 1) = 1")).distinct()
  }

  /** x30's saved-search registry (the percolator's stored queries):
    * conjunctive term sets, declared once and mirrored as VALUES in the
    * oracle. Query 4 carries a term outside the corpus vocabulary — a
    * registered alert that must NEVER fire, so silence is tested, not
    * assumed. Terms are unique per query (n_terms = the VALUES row
    * count).
    */
  private[graft] val savedSearches: Seq[(Int, String)] = Seq(
    1 -> "dup",
    2 -> "vector", 2 -> "window",
    3 -> "customer", 3 -> "order", 3 -> "fast",
    4 -> "spark", 4 -> "zebra")

  /** x30 — PERCOLATION (reverse search): match the REGISTERED queries
    * against the documents — OpenSearch's percolator, the primitive
    * under saved-search alerting ("tell me when a doc arrives matching
    * X"). A document alerts a saved query iff it contains EVERY term of
    * the query (conjunctive match semantics). Batch form runs over the
    * persisted postings index; the injectable engine ([[percolateOn]])
    * is what the STREAMING twin ([[graft.streaming.PercolateStream]])
    * runs per delta — same code, so alert parity is structural.
    *
    * Shape: the saved-query frame broadcasts (registries are small by
    * definition — thousands of alerts, not corpora), the postings join
    * is term-keyed, and the conjunction check is one (query, doc) count
    * against the per-query term count. At 100 TB: one posting-list join
    * per registered term.
    */
  def percolate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    percolateOn(TextAnalysis.termFreq(spark, sfDir),
      savedSearches.toDF("query_id", "term"))
  }

  /** x30 over an arbitrary `(doc_id, term, tf)` postings relation —
    * injectable for the streaming twin (per-delta percolation) and any
    * snapshot source, including a not-yet-committed EMPTY store.
    */
  private[graft] def percolateOn(tf0: DataFrame, q: DataFrame): DataFrame = {
    val tf = postingsOrEmpty(tf0)
    val qn = q.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    tf.join(broadcast(q), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("n_hit") === col("n_terms"))
      .select(col("query_id"), col("doc_id"), col("n_terms"))
  }

  /** Search-as-you-type workload: what a user has typed so far (mixed
    * lengths; every prefix completes to ≥ 1 corpus term).
    */
  private[ext] val typedPrefixes: Seq[String] =
    Seq("s", "b", "sc", "cu", "qu", "ta", "val", "win")

  /** x32 — autocomplete (search-as-you-type): top-4 completions per typed
    * prefix, ranked by document frequency with corpus frequency as the
    * displayed hint — the OpenSearch `search_as_you_type` /
    * `completion` suggester surface over the corpus vocabulary.
    *
    * Shape: completions come from the VOCABULARY rollup of the
    * postings index (one `(term, df, cf)` row per distinct term — the
    * frame an edge-n-gram index is built from), never the corpus. Per
    * distinct typed length the prefix key is a `substring` projection
    * joined hash-equi against the broadcast typed-prefix list, so each
    * length is one codegen'd vocab pass with no explode; the rank window
    * partitions by prefix over candidate sets already reduced to the
    * matching terms. At 100 TB: the corpus-sized work is the postings
    * index the whole text family shares; autocomplete itself is
    * vocabulary-sized — which is why real engines serve it from an
    * in-memory FST. Top-4 with `df DESC, term` tiebreak is total-order
    * deterministic.
    */
  def autocomplete(spark: SparkSession, sfDir: String): DataFrame =
    autocompleteOn(TextAnalysis.termFreq(spark, sfDir), typedPrefixes)

  /** x32 over an arbitrary `(doc_id, term, tf)` postings relation — the
    * injectable engine, so the STREAMING-maintained postings store
    * serves the same completions (`PostingsStreamSpec` proves serving
    * parity) and an empty store completes to zero suggestions. The
    * typed prefixes are a literal workload (per-length equi-join keys
    * are derived at plan time), so they stay a Scala Seq, not a frame.
    */
  private[graft] def autocompleteOn(tf0: DataFrame,
      prefixes: Seq[String]): DataFrame = {
    import tf0.sparkSession.implicits._
    val vocab = postingsOrEmpty(tf0)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val cand = prefixes.map(_.length).distinct.sorted.map { l =>
      val qs = prefixes.filter(_.length == l).toDF("prefix")
      vocab.withColumn("prefix", substring(col("term"), 1, l))
        .join(broadcast(qs), Seq("prefix"))
    }.reduce(_ unionByName _)
    cand
      .withColumn("rank", row_number().over(
          Window.partitionBy("prefix").orderBy(col("df").desc, col("term")))
        .cast("long"))
      .filter(col("rank") <= 4)
      .select(col("prefix"), col("rank"), col("term"), col("df"), col("cf"))
  }

  // ---- x31: trigram-indexed regex search ---------------------------------

  /** The registered regex and the literals every match MUST contain.
    * `[a-z]+` cannot cross a space, so any match embeds both literal
    * fragments verbatim — the completeness fact the trigram prefilter
    * rests on.
    */
  private[graft] val RegexPattern = "slow [a-z]+ batch"
  private[graft] val RegexLiterals = Seq("slow ", " batch")

  private[graft] def trigramsOf(s: String): Seq[String] =
    (0 to s.length - 3).map(i => s.substring(i, i + 3)).distinct

  /** x31 — TRIGRAM-INDEXED regex search (the Google-Code-Search /
    * PostgreSQL-pg_trgm pattern): a regex over a corpus never runs the
    * automaton on every document at scale — the regex's required
    * literals are decomposed into character trigrams, a posting-shaped
    * trigram pass finds the documents containing ALL of them (a
    * provably NECESSARY condition: every match embeds the literals, and
    * containing a string implies containing its trigrams), and only
    * that candidate set pays the regex confirm. The oracle states the
    * unindexed definition — regex over every document — so a hash match
    * IS the completeness proof of the prefilter, x23-style.
    *
    * Shape: per needed trigram, ONE containment test inside the scan
    * projection — exactly the membership answer a trigram posting list
    * gives, evaluated index-free (at 100 TB the same conjunction is an
    * intersection of ~7 posting lists from the persisted trigram index,
    * so the per-query cost is |postings of the rarest trigram|, not a
    * corpus scan) — and only the conjunction's survivors pay the regex
    * automaton. No explode, no shuffle before the confirm: the whole
    * prefilter is a codegen'd scan predicate.
    */
  def trigramRegex(spark: SparkSession, sfDir: String): DataFrame = {
    val needed = RegexLiterals.flatMap(trigramsOf).distinct
    val candidate = needed
      .map(g => col("text").contains(g)).reduce(_ && _)
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(candidate) // the trigram-index conjunction
      .filter(col("text").rlike(RegexPattern))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(RegexPattern)).cast("long")
          .as("n_matches"))
  }

  val queries: Map[String, Q] = Map(
    "x32_autocomplete" -> (autocomplete _),
    "x31_trigram_regex" -> (trigramRegex _),
    "x30_percolate" -> (percolate _),
    "x21_facets" -> (facets _),
    "x19_more_like_this" -> (moreLikeThis _),
    "x20_significant_terms" -> (significantTerms _),
    "x12_match_search" -> (matchSearch _),
    "x13_phrase_search" -> (phraseSearch _),
    "x14_hybrid_rrf" -> (hybridSearch _),
    "x16_highlight" -> ((s, d) => highlight(s, d)),
    "x17_bm25" -> (bm25Search _),
    "x18_fuzzy_search" -> (fuzzySearch _),
    "x23_fuzzy_name_join" -> (fuzzyNameJoin _),
    "x24_proximity" -> (proximitySearch _)
  )

  private def valuesSql(rows: Seq[(Int, String)]): String =
    rows.map { case (id, s) => s"($id, '$s')" }.mkString(", ")

  private val x12Sql =
    s"""WITH q(query_id, term) AS (VALUES ${valuesSql(matchQueries)}),
       |toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT query_id, doc_id, n_terms, score_micro, CAST(rank AS BIGINT) AS rank
         |FROM (
         |  SELECT query_id, doc_id, n_terms, score_micro,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_micro DESC, doc_id) AS rank
         |  FROM (
         |    SELECT q.query_id, tf.doc_id, count(*) AS n_terms,
         |      CAST(sum(tf.tf * n.n_docs * 1000000 // dfreq.df) AS BIGINT)
         |        AS score_micro
         |    FROM tf JOIN dfreq USING (term) JOIN q USING (term) CROSS JOIN n
         |    GROUP BY q.query_id, tf.doc_id))
         |WHERE rank <= 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "x32_autocomplete" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS term
         |        FROM documents)
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df,
         |    CAST(sum(tf) AS BIGINT) AS cf
         |  FROM tf GROUP BY 1),
         |q(prefix) AS (VALUES ${typedPrefixes.map(p => s"('$p')").mkString(", ")}),
         |cand AS (
         |  SELECT q.prefix, v.term, v.df, v.cf
         |  FROM v JOIN q ON substring(v.term, 1, length(q.prefix)) = q.prefix),
         |r AS (
         |  SELECT prefix, term, df, cf,
         |    row_number() OVER (PARTITION BY prefix
         |                       ORDER BY df DESC, term) AS rank
         |  FROM cand)
         |SELECT prefix, rank, term, df, cf FROM r WHERE rank <= 4""".stripMargin,
    // the UNINDEXED definition: regex over every document — hash match
    // proves the trigram prefilter lost nothing
    "x31_trigram_regex" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$RegexPattern')) AS BIGINT)
         |    AS n_matches
         |FROM documents
         |WHERE regexp_matches(text, '$RegexPattern')""".stripMargin,
    "x30_percolate" ->
      s"""WITH q(query_id, term) AS (VALUES ${valuesSql(savedSearches)}),
         |toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |hits AS (
         |  SELECT q.query_id, tf.doc_id, count(*) AS n_hit
         |  FROM tf JOIN q USING (term) GROUP BY 1, 2),
         |qn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |       FROM q GROUP BY 1)
         |SELECT query_id, doc_id, n_terms
         |FROM hits JOIN qn USING (query_id)
         |WHERE n_hit = n_terms""".stripMargin,
    "x19_more_like_this" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |weighted AS (
         |  SELECT doc_id, term, tf.tf * n.n_docs * 1000000 // dfreq.df AS w_micro
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |seed_terms AS (
         |  SELECT seed_id, term FROM (
         |    SELECT doc_id AS seed_id, term,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY w_micro DESC, term) AS trank
         |    FROM weighted WHERE doc_id IN (${mltSeeds.mkString(", ")}))
         |  WHERE trank <= $MltTerms),
         |scored AS (
         |  SELECT st.seed_id, w.doc_id, count(*) AS n_terms,
         |    CAST(sum(w.w_micro) AS BIGINT) AS score_micro
         |  FROM weighted w JOIN seed_terms st USING (term)
         |  WHERE w.doc_id <> st.seed_id
         |  GROUP BY st.seed_id, w.doc_id)
         |SELECT seed_id, doc_id, n_terms, score_micro, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY seed_id
         |        ORDER BY score_micro DESC, doc_id) AS rank
         |      FROM scored)
         |WHERE rank <= 10""".stripMargin,
    "x20_significant_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(${tokensSql("text")}) AS term
         |  FROM documents),
         |fg AS (SELECT source, term, count(*) AS tf_fg
         |       FROM toks GROUP BY source, term),
         |bg AS (SELECT term, count(*) AS tf_bg FROM toks GROUP BY term),
         |tfg AS (SELECT source, count(*) AS t_fg FROM toks GROUP BY source),
         |tbg AS (SELECT count(*) AS t_bg FROM toks),
         |scored AS (
         |  SELECT source, term, tf_fg, tf_bg,
         |    tf_fg * t_bg * 1000000 // (tf_bg * t_fg) AS sig_micro
         |  FROM fg JOIN bg USING (term) JOIN tfg USING (source) CROSS JOIN tbg
         |  WHERE tf_fg >= $SigMinCount)
         |SELECT source, term, tf_fg, tf_bg, sig_micro, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY sig_micro DESC, term) AS rank
         |      FROM scored)
         |WHERE rank <= 10""".stripMargin,
    "x12_match_search" -> x12Sql,
    "x21_facets" ->
      s"""WITH q(query_id, term) AS (VALUES ${valuesSql(matchQueries)}),
         |toks AS (SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS term
         |         FROM documents),
         |m AS (SELECT DISTINCT q.query_id, toks.doc_id
         |      FROM toks JOIN q USING (term))
         |SELECT query_id, facet, value, count(*) AS n_docs FROM (
         |  SELECT m.query_id, 'lang' AS facet, d.lang AS value
         |  FROM m JOIN documents d USING (doc_id)
         |  UNION ALL
         |  SELECT m.query_id, 'source' AS facet, d.source AS value
         |  FROM m JOIN documents d USING (doc_id))
         |GROUP BY query_id, facet, value""".stripMargin,
    "x13_phrase_search" ->
      s"""WITH q(query_id, phrase) AS (VALUES ${valuesSql(phraseQueries)}),
         |d AS (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS gram FROM d
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS gram FROM d),
         |hits AS (
         |  SELECT query_id, phrase, doc_id, count(*) AS n_occurrences
         |  FROM grams JOIN q ON gram = phrase
         |  GROUP BY query_id, phrase, doc_id)
         |SELECT query_id, phrase, doc_id, n_occurrences, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY n_occurrences DESC, doc_id) AS rank
         |      FROM hits)
         |WHERE rank <= 10""".stripMargin,
    "x14_hybrid_rrf" -> {
      val qids = matchQueries.map(_._1).distinct.mkString(", ")
      val cos = "(list_dot_product(e.v, q.qv) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))))"
      s"""WITH textarm AS (
         |  SELECT query_id, doc_id AS id, 1000000 // (60 + rank) AS arm_score
         |  FROM ($x12Sql)),
         |ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |vecarm AS (
         |  SELECT CAST(query_id AS INTEGER) AS query_id, id,
         |    1000000 // (60 + vec_rank) AS arm_score
         |  FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $cos DESC, e.vec_id) AS vec_rank
         |    FROM ev e CROSS JOIN
         |      (SELECT vec_id, v AS qv FROM ev WHERE vec_id IN ($qids)) q
         |    WHERE e.vec_id <> q.vec_id)
         |  WHERE vec_rank <= 10),
         |fused AS (
         |  SELECT query_id, id, count(*) AS n_arms,
         |    CAST(sum(arm_score) AS BIGINT) AS rrf_micro
         |  FROM (SELECT * FROM textarm UNION ALL SELECT * FROM vecarm)
         |  GROUP BY query_id, id)
         |SELECT query_id, id, n_arms, rrf_micro, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf_micro DESC, id) AS rank
         |      FROM fused)
         |WHERE rank <= 10""".stripMargin
    },
    "x16_highlight" ->
      s"""WITH q(query_id, term) AS (VALUES ${valuesSql(matchQueries)}),
         |hits AS (SELECT query_id, doc_id, rank FROM ($x12Sql)),
         |d AS (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents),
         |pos AS (
         |  SELECT h.query_id, h.doc_id, h.rank,
         |    min(list_position(d.ws, q.term)) AS first_pos
         |  FROM hits h JOIN q USING (query_id) JOIN d USING (doc_id)
         |  GROUP BY h.query_id, h.doc_id, h.rank)
         |SELECT p.query_id, p.doc_id, p.rank,
         |  CAST(p.first_pos AS BIGINT) AS first_pos,
         |  array_to_string(
         |    list_slice(d.ws, greatest(p.first_pos - 2, 1), p.first_pos + 2),
         |    ' ') AS snippet
         |FROM pos p JOIN d USING (doc_id)""".stripMargin,
    "x17_bm25" ->
      s"""WITH q(query_id, term) AS (VALUES ${valuesSql(matchQueries)}),
         |toks AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
         |                 CAST(sum(tf) AS BIGINT) AS a_tokens FROM tf),
         |hits AS (
         |  SELECT q.query_id, tf.doc_id,
         |    ((s.n_docs * 1000000 // dfreq.df) *
         |     ((22 * s.a_tokens * tf.tf * 1000000) //
         |      (10 * s.a_tokens * tf.tf + 3 * s.a_tokens + 9 * dl.dl * s.n_docs)))
         |      // 1000000 AS w_micro
         |  FROM tf JOIN dfreq USING (term) JOIN q USING (term)
         |       JOIN dl USING (doc_id) CROSS JOIN stats s),
         |scored AS (
         |  SELECT query_id, doc_id, count(*) AS n_terms,
         |    CAST(sum(w_micro) AS BIGINT) AS score_micro
         |  FROM hits GROUP BY query_id, doc_id)
         |SELECT query_id, doc_id, n_terms, score_micro, CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_micro DESC, doc_id) AS rank
         |      FROM scored)
         |WHERE rank <= 10""".stripMargin,
    "x18_fuzzy_search" ->
      s"""WITH q(query_id, qterm) AS (VALUES ${valuesSql(fuzzyQueries)}),
         |toks AS (SELECT unnest(${tokensSql("text")}) AS term FROM documents),
         |vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
         |vp AS (
         |  SELECT term, cnt,
         |    unnest(list_concat([term], list_transform(range(1, len(term) + 1),
         |      i -> substr(term, 1, i - 1) || substr(term, i + 1, len(term)))))
         |      AS variant
         |  FROM vocab),
         |qp AS (
         |  SELECT query_id, qterm,
         |    unnest(list_concat([qterm], list_transform(range(1, len(qterm) + 1),
         |      i -> substr(qterm, 1, i - 1) || substr(qterm, i + 1, len(qterm)))))
         |      AS variant
         |  FROM q),
         |cand AS (
         |  SELECT DISTINCT query_id, qterm, term, cnt
         |  FROM vp JOIN qp USING (variant)),
         |conf AS (
         |  SELECT query_id, qterm, term,
         |    CAST(levenshtein(qterm, term) AS BIGINT) AS distance, cnt
         |  FROM cand WHERE levenshtein(qterm, term) <= 1)
         |SELECT query_id, qterm, term AS match_term, distance, cnt,
         |  CAST(rank AS BIGINT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY distance, cnt DESC, term) AS rank
         |      FROM conf)
         |WHERE rank <= 5""".stripMargin,
    // the DEFINITION, brute force: every distinct-name pair at distance
    // exactly 1 — affordable at oracle scale, and a completeness check
    // of the Spark side's deletion-neighborhood blocking
    "x23_fuzzy_name_join" ->
      """WITH v AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b
        |FROM v a JOIN v b
        |  ON a.name < b.name AND levenshtein(a.name, b.name) = 1""".stripMargin,
    // the definition: min |posA - posB| over the full position cross
    // join per (query, doc) — the 1-based DuckDB subscripts cancel in
    // the difference against Spark's 0-based posexplode
    "x24_proximity" -> {
      val vals = proximityQueries
        .map { case (id, a, b) => s"($id, '$a', '$b')" }.mkString(", ")
      s"""WITH q(query_id, t0, t1) AS (VALUES $vals),
         |d AS (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents),
         |pos AS (
         |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS term
         |  FROM d),
         |a AS (SELECT q.query_id, p.doc_id, p.pos FROM pos p JOIN q ON p.term = q.t0),
         |b AS (SELECT q.query_id, p.doc_id, p.pos FROM pos p JOIN q ON p.term = q.t1)
         |SELECT a.query_id, a.doc_id,
         |  CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_gap
         |FROM a JOIN b ON b.query_id = a.query_id AND b.doc_id = a.doc_id
         |GROUP BY a.query_id, a.doc_id
         |HAVING min(abs(a.pos - b.pos)) <= $ProxSlop""".stripMargin
    }
  )
}
