package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Portable._

/** The capstone composition: a training-data preparation pipeline built
  * from the engine's own operators — quality gate → exact dedup →
  * deterministic sample → mix summary — in ONE declarative plan, so
  * Catalyst fuses the gates into the scan and the only shuffles are the
  * dedup group-by and the final rollup. This is the query a 100 TB corpus
  * job actually runs nightly.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  /** p1 — prepared-corpus summary: docs that (1) pass the quality gate
    * (stopword ratio < 0.3 and ≥ 20 tokens), (2) are the canonical copy
    * of their content (min doc_id per text digest), (3) fall in the 50%
    * deterministic sample — rolled up per language.
    */
  def trainingMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = tokens(col("text"))
    val stopRatio = size(filter(toks, t => t === "the" || t === "a")).cast("double") /
      size(toks).cast("double")
    val gated = docs
      .filter(size(tokens(col("text"))) >= 20 && stopRatio < 0.3)
      .filter(tokenHash(col("doc_id").cast("string")) % 100 < 50)
    val canonical = gated
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("doc_id"))
    canonical.join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"))
  }

  /** p3 — temperature-scaled mixture weights: per-language sampling
    * weight w_l ∝ n_l^α with α = 0.5, the standard up-weighting of
    * low-resource languages in a multilingual training mix, plus the doc
    * budget per 10k sampled. α = 0.5 keeps the oracle exact: `sqrt` is
    * correctly rounded in both engines (a general `pow` is not), and the
    * denominator folds the per-language terms in sorted order on both
    * sides, so every double op sees identical operands.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("s", sqrt(col("n_docs").cast("double")))
    val denom = counts.agg(
      aggregate(sort_array(collect_list(struct(col("lang"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("denom"))
    counts.crossJoin(broadcast(denom))
      .select(col("lang"), col("n_docs"),
        round(col("s") / col("denom"), 6).as("mix_weight"),
        round(col("s") / col("denom") * 10000).cast("long").as("docs_per_10k"))
  }

  /** p4 — token-budget WATER-FILLING across languages: allocate a total
    * budget (80% of corpus chars — scale-invariant, and at this corpus's
    * skew it saturates every low-resource language while clipping the
    * dominant one, so both branches are exercised) giving every language
    * min(cap, λ) with the water level λ set so allocations exhaust the
    * budget. CLOSED FORM, no driver loop: caps sort ascending, the
    * saturation predicate `cap·(remaining) ≤ budget − preceding` is
    * monotone along that order, so one prefix-sum window finds the
    * boundary and λ is a single integer division (+1-char remainders to
    * the first few unsaturated, deterministic by the same order). The
    * only corpus-sized work is the per-language cap rollup (map-side
    * combined); the windows then run over the |langs|-row frame, whose
    * single partition is EXPLICITLY bounded by the language count, never
    * the corpus. All arithmetic integer → bit-identical across engines.
    */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(sum("n_chars").as("cap"))
    val ord = Window.partitionBy(lit(1)).orderBy(col("cap"), col("lang"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    caps
      .withColumn("idx", row_number().over(ord))
      .withColumn("prefix", sum("cap").over(run))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("tot", sum("cap").over(all))
      .withColumn("budget", expr("(tot * 4) DIV 5"))
      .withColumn("saturated",
        col("cap") * (col("m") - col("idx") + 1) <=
          col("budget") - (col("prefix") - col("cap")))
      .withColumn("k", sum(when(col("saturated"), 1L).otherwise(0L)).over(all))
      .withColumn("sat_prefix",
        max(when(col("saturated"), col("prefix")).otherwise(0L)).over(all))
      .withColumn("alloc_chars", expr(
        """CASE WHEN saturated THEN cap
          |WHEN m = k THEN cap
          |ELSE (budget - sat_prefix) DIV (m - k) +
          |  CASE WHEN idx - k <= (budget - sat_prefix) % (m - k)
          |       THEN 1 ELSE 0 END
          |END""".stripMargin.replace("\n", " ")))
      .select(col("lang"), col("cap").as("cap_chars"), col("budget"),
        col("saturated"), col("alloc_chars"))
  }

  /** p5 — dedup-aware EFFECTIVE mixture: per source, the raw character
    * share vs the share after c13's cluster-equalized weights — the
    * number that tells you how deduplication actually rebalanced the
    * training mix (a source whose volume is near-dup families loses
    * mass; unique-content sources gain). Rides the indexed d7 labels
    * through `Dedup.clusterWeights`; shares are exact integral ppm over
    * DECIMAL(38,0)/HUGEINT (t19's discipline — eff_units·10⁶ exceeds a
    * long at corpus scale), so the rollup is order-independent and
    * hash-stable. One doc_id co-partition join + one |sources| rollup.
    */
  def effectiveMix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Dedup.clusterWeights(spark, sfDir).select("doc_id", "weight_ppm")
    val per = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(w, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("raw_chars"),
        sum(expr("weight_ppm * n_chars")).as("eff_units"))
    val tot = per.agg(sum("raw_chars").as("t_raw"), sum("eff_units").as("t_eff"))
    per.crossJoin(broadcast(tot)) // one-row totals frame
      .select(col("source"), col("n_docs"), col("raw_chars"), col("eff_units"),
        expr("(CAST(raw_chars AS DECIMAL(38,0)) * 1000000) DIV CAST(t_raw AS DECIMAL(38,0))")
          .as("raw_share_ppm"),
        expr("(CAST(eff_units AS DECIMAL(38,0)) * 1000000) DIV CAST(t_eff AS DECIMAL(38,0))")
          .as("eff_share_ppm"))
  }

  /** p6 shard budget: tokens per training shard. Power of two by
    * convention (a 4k-token shard ≈ two 2k-context packed sequences);
    * the VALUE only moves shard boundaries — the assignment logic is
    * budget-agnostic.
    */
  private[graft] val ShardBudget = 4096L
  /** p6 prefix-sum bucket count. At 100 TB this is the job parallelism
    * dial: each bucket's rows sort locally, so NB just has to keep a
    * bucket's token mass inside one executor's memory (raise to 64k for
    * a trillion-token corpus; the offsets frame stays tiny either way).
    */
  private[graft] val ShardBuckets = 1024L

  /** p6 — EPOCH-SHUFFLE SHARD PLAN: the step that turns a curated corpus
    * into the fixed-size training shards a data loader streams — a
    * deterministic global shuffle (order by a seeded per-doc hash, so
    * every epoch is a different but REPRODUCIBLE permutation) followed
    * by token-budgeted contiguous packing (shard k = the docs whose
    * running token sum starts in `[k·B, (k+1)·B)`).
    *
    * The scale problem is the running sum: a naive `sum() OVER (ORDER BY
    * h)` is one global sort into ONE window partition — the exact shape
    * the p4 scaladoc warns about, except here it spans the CORPUS, not
    * the language list. So the cumulative sum is TWO-PHASE, the w3/r10
    * discipline at corpus grain: (1) hash-range buckets (order-preserving
    * `(h·NB) div P`), per-bucket token sums roll up map-side combined;
    * (2) bucket offsets = a window over the NB-row frame (explicitly
    * bounded by [[ShardBuckets]], never the corpus); (3) each doc's
    * global position = its bucket offset (broadcast join) + a
    * bucket-local cumsum (window partitioned BY bucket — parallel,
    * partition-local sort, no global Exchange). The oracle computes the
    * same plan with the naive single window — the hash gate proves the
    * two-phase decomposition exact.
    *
    * Output is the shard MANIFEST (o26's device at training grain): per
    * shard, doc/token counts plus an ADDITIVE doc-hash checksum (order-
    * independent, mergeable) and the shard's hash range — a loader can
    * verify any shard it fetched without coordination.
    */
  def shardPlan(spark: SparkSession, sfDir: String): DataFrame =
    shardPlanOf(Tables.documents(spark, sfDir))

  /** p6 at epoch 2 — the SAME corpus sharded for the next training
    * epoch. The per-doc shuffle hash is seeded `doc_id:epoch`, so each
    * epoch is a different but reproducible global permutation while the
    * corpus-level invariants (total docs, total tokens) are identical —
    * `PipelineSpec` proves both halves of that claim; the oracle key
    * pins the epoch-2 permutation itself.
    */
  def shardPlanEpoch2(spark: SparkSession, sfDir: String): DataFrame =
    shardPlanOf(Tables.documents(spark, sfDir), epoch = 2L)

  /** Doc-grain shard assignment: each document's token count, seeded
    * shuffle hash, and the shard it lands in — the frame a data loader
    * fetching shard k actually materializes. [[shardPlanOf]] is its
    * shard-grain rollup; [[shardVerifyOf]] re-aggregates a fetched copy
    * of it against the manifest.
    */
  private[ext] def shardDocsOf(docsFrame: DataFrame, epoch: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = docsFrame
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        tokenHash(concat(col("doc_id").cast("string"), lit(s":$epoch"))).as("h"))
      .withColumn("bucket", expr(s"(h * $ShardBuckets) DIV ${Portable.P}"))
    val bucketSums = perDoc.groupBy("bucket")
      .agg(sum("n_tok").as("btok"))
    val offsetW = Window.partitionBy(lit(1)).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketSums
      .withColumn("offset", sum("btok").over(offsetW) - col("btok"))
      .select("bucket", "offset")
    val localW = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", col("offset") + sum("n_tok").over(localW))
      .withColumn("shard_id", expr(s"(cum - n_tok) DIV $ShardBudget"))
      .select("doc_id", "n_tok", "h", "shard_id")
  }

  /** p6 over an arbitrary `(doc_id, text)` frame — injectable so the
    * spec can drive the oversized-document case (one doc larger than
    * [[ShardBudget]] legitimately GAPS the shard-id sequence: the next
    * doc's running sum starts past the swallowed shards; ids stay the
    * budget-quotient of exact token offsets, so a loader addressing
    * shard k·B still finds its bytes) and the cross-epoch permutation
    * case (different epoch → different assignment, identical totals).
    */
  private[ext] def shardPlanOf(docsFrame: DataFrame, epoch: Long = 1L): DataFrame =
    shardDocsOf(docsFrame, epoch)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("shard_tokens"),
        (sum("h") % Portable.P).as("docs_ck"),
        min("h").as("h_lo"), max("h").as("h_hi"))

  /** p7 — SHARD VERIFY: the consumer side of p6's manifest promise.
    * A loader that fetched shard k recomputes the doc count, token sum,
    * and additive doc-hash checksum from the bytes it actually holds
    * and diffs them against the manifest row — o26's tamper detection
    * at training grain, with no coordination beyond the manifest
    * (the checksum is additive/order-independent, so the loader needn't
    * replay the shard's internal order to verify it). The join is FULL
    * OUTER: a shard the manifest promises but the fetch lacks — or a
    * fetched shard the manifest never issued — is itself a failure,
    * not a silently-dropped row. Over an untampered corpus every row
    * verifies; `PipelineSpec` drives the tamper cases (dropped doc,
    * altered text, cross-shard swap, phantom shard) through
    * [[shardVerifyOf]] and asserts each lights exactly the right rows.
    *
    * Scale shape: both sides aggregate to SHARD grain before the join
    * (corpus-wide work is one map-side-combined rollup each), so the
    * full-outer join and the comparison touch manifest-sized frames
    * only.
    */
  def shardVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    shardVerifyOf(shardPlanOf(docs), shardDocsOf(docs, epoch = 1L))
  }

  /** p7 over an arbitrary manifest and fetched doc-grain frame —
    * injectable for the spec's tamper cases.
    */
  private[ext] def shardVerifyOf(manifest: DataFrame, fetched: DataFrame): DataFrame = {
    val re = fetched.groupBy("shard_id")
      .agg(count(lit(1)).as("f_docs"),
        sum("n_tok").as("f_tokens"),
        (sum("h") % Portable.P).as("f_ck"))
    manifest.select("shard_id", "n_docs", "shard_tokens", "docs_ck")
      .join(re, Seq("shard_id"), "full_outer")
      .select(col("shard_id"), col("n_docs"), col("f_docs"),
        col("shard_tokens"), col("f_tokens"), col("docs_ck"), col("f_ck"),
        (col("n_docs").isNotNull && col("f_docs").isNotNull &&
          col("n_docs") === col("f_docs") &&
          col("shard_tokens") === col("f_tokens") &&
          col("docs_ck") === col("f_ck")).as("ok"))
  }

  val queries: Map[String, Q] = Map(
    "p1_training_mix" -> (trainingMix _),
    "p4_token_budget" -> (tokenBudget _),
    "p5_effective_mix" -> (effectiveMix _),
    "p6_shard_plan" -> (shardPlan _),
    "p7_shard_verify" -> (shardVerify _),
    "p8_epoch2_shards" -> (shardPlanEpoch2 _),
    "p3_temperature_mix" -> (temperatureMix _))

  /** The naive single-window doc-grain shard assignment, DuckDB side —
    * shared by the p6/p8 manifests and p7's two arms. One CTE `c` with
    * (doc_id, n_tok, h, cum) at the given epoch seed.
    */
  private def shardDocsSqlCte(epoch: Int): String =
    s"""d AS (
       |  SELECT doc_id,
       |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_tok,
       |    ${tokenHashSql(s"CAST(doc_id AS VARCHAR) || ':$epoch'")} AS h
       |  FROM documents),
       |c AS (
       |  SELECT *, sum(n_tok) OVER (ORDER BY h, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM d)""".stripMargin

  private def shardPlanSql(epoch: Int): String =
    s"""WITH ${shardDocsSqlCte(epoch)}
       |SELECT CAST((cum - n_tok) // $ShardBudget AS BIGINT) AS shard_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       |  CAST(sum(h) % ${Portable.P} AS BIGINT) AS docs_ck,
       |  min(h) AS h_lo, max(h) AS h_hi
       |FROM c GROUP BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "p5_effective_mix" ->
      s"""WITH clusters AS (${Dedup.d7Sql}),
         |sizes AS (
         |  SELECT canonical, count(*) AS cluster_size
         |  FROM clusters GROUP BY 1),
         |wts AS (
         |  SELECT doc_id, 1000000 // cluster_size AS weight_ppm
         |  FROM clusters JOIN sizes USING (canonical)),
         |per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS raw_chars,
         |    CAST(sum(weight_ppm * n_chars) AS BIGINT) AS eff_units
         |  FROM documents JOIN wts USING (doc_id) GROUP BY 1),
         |tot AS (
         |  SELECT CAST(sum(raw_chars) AS HUGEINT) AS t_raw,
         |    CAST(sum(eff_units) AS HUGEINT) AS t_eff FROM per)
         |SELECT source, n_docs, raw_chars, eff_units,
         |  CAST((CAST(raw_chars AS HUGEINT) * 1000000) // t_raw AS BIGINT)
         |    AS raw_share_ppm,
         |  CAST((CAST(eff_units AS HUGEINT) * 1000000) // t_eff AS BIGINT)
         |    AS eff_share_ppm
         |FROM per CROSS JOIN tot""".stripMargin,
    "p4_token_budget" ->
      """WITH caps AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS cap
        |  FROM documents GROUP BY lang),
        |w1 AS (
        |  SELECT lang, cap,
        |    row_number() OVER (ORDER BY cap, lang) AS idx,
        |    sum(cap) OVER (ORDER BY cap, lang ROWS UNBOUNDED PRECEDING)
        |      AS prefix,
        |    count(*) OVER () AS m,
        |    sum(cap) OVER () AS tot
        |  FROM caps),
        |w2 AS (
        |  SELECT *, (tot * 4) // 5 AS budget,
        |    cap * (m - idx + 1) <= (tot * 4) // 5 - (prefix - cap)
        |      AS saturated
        |  FROM w1),
        |w3 AS (
        |  SELECT *,
        |    sum(CASE WHEN saturated THEN 1 ELSE 0 END) OVER () AS k,
        |    max(CASE WHEN saturated THEN prefix ELSE 0 END) OVER ()
        |      AS sat_prefix
        |  FROM w2)
        |SELECT lang, cap AS cap_chars, CAST(budget AS BIGINT) AS budget,
        |  saturated,
        |  CAST(CASE WHEN saturated THEN cap WHEN m = k THEN cap
        |    ELSE (budget - sat_prefix) // (m - k) +
        |      CASE WHEN idx - k <= (budget - sat_prefix) % (m - k)
        |           THEN 1 ELSE 0 END
        |  END AS BIGINT) AS alloc_chars
        |FROM w3""".stripMargin,
    "p1_training_mix" ->
      s"""WITH gated AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE len(${tokensSql("text")}) >= 20
         |    AND len(list_filter(${tokensSql("text")}, t -> t = 'the' OR t = 'a')) * 1.0
         |        / len(${tokensSql("text")}) < 0.3
         |    AND ${tokenHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 50),
         |canonical AS (
         |  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM canonical JOIN documents USING (doc_id)
         |GROUP BY lang""".stripMargin,
    "p6_shard_plan" -> shardPlanSql(1),
    "p8_epoch2_shards" -> shardPlanSql(2),
    // p7: the naive doc-grain assignment CTE feeds BOTH the manifest
    // rollup and the "fetched" re-aggregation — over an untampered
    // corpus the two sides agree row-for-row, and the hash gate pins
    // the duplicated per-shard numbers plus the all-true verdicts
    "p7_shard_verify" ->
      s"""WITH ${shardDocsSqlCte(1)},
         |man AS (
         |  SELECT CAST((cum - n_tok) // $ShardBudget AS BIGINT) AS shard_id,
         |    count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
         |    CAST(sum(h) % ${Portable.P} AS BIGINT) AS docs_ck
         |  FROM c GROUP BY 1),
         |re AS (
         |  SELECT CAST((cum - n_tok) // $ShardBudget AS BIGINT) AS shard_id,
         |    count(*) AS f_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS f_tokens,
         |    CAST(sum(h) % ${Portable.P} AS BIGINT) AS f_ck
         |  FROM c GROUP BY 1)
         |SELECT COALESCE(man.shard_id, re.shard_id) AS shard_id,
         |  man.n_docs, re.f_docs, man.shard_tokens, re.f_tokens,
         |  man.docs_ck, re.f_ck,
         |  (man.n_docs IS NOT NULL AND re.f_docs IS NOT NULL
         |    AND man.n_docs = re.f_docs
         |    AND man.shard_tokens = re.f_tokens
         |    AND man.docs_ck = re.f_ck) AS ok
         |FROM man FULL OUTER JOIN re ON man.shard_id = re.shard_id""".stripMargin,
    "p3_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_docs,
        |    sqrt(CAST(count(*) AS DOUBLE)) AS s
        |  FROM documents GROUP BY lang),
        |d AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(s ORDER BY lang)), (a, b) -> a + b) AS denom
        |  FROM c)
        |SELECT lang, n_docs, round(c.s / d.denom, 6) AS mix_weight,
        |  CAST(round(c.s / d.denom * 10000) AS BIGINT) AS docs_per_10k
        |FROM c, d""".stripMargin
  )
}
