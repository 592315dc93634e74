package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Portable._

/** Deterministic sampling and corpus statistics — the operators that
  * assemble a training mix from a deduplicated corpus. All sampling is
  * hash-gated (`H(id) mod D < k`), never `rand()`: the sample is a pure
  * function of the data, so it is reproducible across runs, engines
  * (DuckDB oracle computes the identical sample), retries, and
  * partitionings — the property that matters when a 100 TB job restarts
  * halfway through.
  */
object Sampling {

  type Q = (SparkSession, String) => DataFrame

  private def docs(spark: SparkSession, sfDir: String) =
    Tables.documents(spark, sfDir)

  /** r1 — uniform ~10% sample, hash-gated on the document id. */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .filter(tokenHash(col("doc_id").cast("string")) % 100 < 10)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** r2 — stratified sample: a fixed per-stratum rate (here: by `lang`),
    * implemented as a rate lookup joined broadcast then the same hash
    * gate. Rates are data-independent constants, so the sample of any
    * stratum is stable under corpus growth elsewhere.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq(("en", 5), ("de", 20), ("fr", 20), ("es", 20), ("zh", 50))
      .toDF("lang", "pct")
    docs(spark, sfDir)
      .join(broadcast(rates), Seq("lang"))
      .filter(tokenHash(col("doc_id").cast("string")) % 100 < col("pct"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** r3 — mixture summary: picked vs total per source under the r1 gate —
    * the audit view of a weighted training mix.
    */
  def mixtureSummary(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("total"),
        sum(when(tokenHash(col("doc_id").cast("string")) % 100 < 10, 1L)
          .otherwise(0L)).as("picked"))

  /** r4 — corpus statistics: exact token-count percentiles per language.
    * Spark `percentile` and DuckDB `quantile_cont` both do linear
    * interpolation over the sorted values — verified value-identical.
    * (At 100 TB swap for `percentile_approx`/t-digest; exact keeps the
    * oracle byte-comparable here.)
    */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).cast("double").as("x"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(x, array(0.25D, 0.5D, 0.9D))").as("pcts"))
      .select(col("lang"), col("n_docs"),
        element_at(col("pcts"), 1).as("p25"),
        element_at(col("pcts"), 2).as("p50"),
        element_at(col("pcts"), 3).as("p90"))

  /** r5 — weighted sample without replacement, one pass: PRIORITY
    * sampling (Duffield/Lund/Thorup). Each doc gets priority
    * w / u — weight (`n_chars`) over a hash-derived uniform — and the
    * top-64 priorities are the sample; inclusion probability is
    * ∝ weight, and the whole thing is a pure function of the data (no
    * `rand()`), so retries/re-partitions/engines agree exactly. The
    * priority is ONE IEEE division of exact integer inputs — both
    * engines produce the identical double, no libm anywhere (pow/log
    * rankings are the classic cross-engine trap). At 100 TB the top-k
    * is `TakeOrderedAndProject`: per-partition heaps, then one tiny
    * merge — no global sort.
    */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        (col("n_chars").cast("double") /
          (tokenHash(col("doc_id").cast("string")) + 1L)).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(64)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))

  /** r6 — sketch statistics, stated as an ORACLE-VERIFIABLE contract.
    * Engines' sketch ESTIMATES legitimately differ (HLL++ vs HLL bias
    * tables, GK summaries vs t-digest), so the raw estimates can never
    * hash-match an oracle. What IS engine-portable is the accuracy
    * contract each sketch publishes — so the query returns exactly that:
    * the exact distinct count, plus booleans asserting each engine's own
    * sketch landed within a shared generous bound (HLL within 10% of
    * exact at rsd=0.02; an approximate quantile whose realized rank —
    * the fraction of values ≤ it — is within a few points of its
    * target). Both engines' sketches satisfy the bounds by construction,
    * so the boolean columns agree and the row hash-matches; if either
    * sketch broke its contract the gate would go red. The plan keeps the
    * constant-memory 100 TB shapes — HLL distinct without a distinct
    * Expand/shuffle of the key set, quantiles without a global sort —
    * and the rank-check join adds one broadcast of the |groups|-row
    * sketch frame. Tight bounds against the exact computation live in
    * `ApproxSpec`.
    */
  def approxStats(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val sk = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("exact_users"),
        approx_count_distinct("user_id", rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(1000))
          .as("qs"))
      .select(col("event_type"), col("exact_users"), col("approx_users"),
        element_at(col("qs"), 1).as("ap50"),
        element_at(col("qs"), 2).as("ap95"))
    // realized rank of each approximate quantile: one more scan of the
    // events frame against the broadcast |groups|-row sketch frame
    val fr = ev.join(broadcast(sk), Seq("event_type"))
      .groupBy("event_type")
      .agg(avg(when(col("value") <= col("ap50"), 1.0).otherwise(0.0)).as("f50"),
        avg(when(col("value") <= col("ap95"), 1.0).otherwise(0.0)).as("f95"))
    sk.join(fr, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.1).as("hll_ok"),
        col("f50").between(0.45, 0.55).as("p50_ok"),
        col("f95").between(0.90, 0.99).as("p95_ok"))
  }

  /** r10 — EXACT quantiles WITHOUT a global sort: the two-phase
    * histogram-refine shape. An `orderBy` median is a range-partitioned
    * global sort of the corpus; approximate sketches (r6) trade accuracy.
    * This is the third option a 100 TB profiler wants — exact AND
    * sort-free:
    *
    *   1. one scan builds per-(group, bucket) counts (map-side combined;
    *      the histogram is |groups|×|buckets| rows — tiny);
    *   2. a running sum over the histogram locates, per group and target
    *      rank, the ONE bucket containing that rank;
    *   3. only that bucket's rows are re-read and rank-offset within the
    *      bucket — the only sort touches one bucket's worth of data per
    *      (group, quantile).
    *
    * Ranks are exact integers (`ceil(p·n)` as `(p_num·n + p_den − 1) DIV
    * p_den`), the selected value is the rank-th smallest — deterministic
    * under ties regardless of tie order — and the oracle states the
    * definition directly (row_number over the full sort, which DuckDB
    * can afford at oracle scale). At 100 TB the bucket width is the
    * dial: narrower buckets shrink phase 3; a skewed bucket refines
    * recursively with the same two phases.
    */
  def exactQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val targets = n.select(col("event_type"), explode(array(
        struct(lit("p50").as("quantile"), expr("(n + 1) DIV 2").as("r")),
        struct(lit("p95").as("quantile"), expr("(19 * n + 19) DIV 20").as("r"))))
        .as("t"))
      .select(col("event_type"), col("t.quantile").as("quantile"), col("t.r").as("r"))
    valuesAtRanks(ev, targets)
  }

  /** The histogram-refine rank locator shared by r10 (p50/p95) and r11
    * (decile boundaries): for each `(event_type, quantile, r)` target,
    * the r-th smallest `value` of that type — phases 1-3 of the r10
    * doc comment, generic in the target set. `targets` is
    * |groups|×|quantiles| rows, always tiny, hence the one justified
    * broadcast of `located`.
    */
  private def valuesAtRanks(ev: DataFrame, targets: DataFrame,
      bucketOf: Column => Column = c => floor(c).cast("long")): DataFrame = {
    val hist = ev
      .groupBy(col("event_type"), bucketOf(col("value")).as("bucket"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("event_type").orderBy("bucket")
    val cum = hist.withColumn("cum", sum("c").over(wb))
      .withColumn("cum_before", col("cum") - col("c"))
    // |groups|×|targets| rows: which bucket holds each target rank
    val located = targets.join(cum,
      Seq("event_type")).filter(col("r") > col("cum_before") && col("r") <= col("cum"))
      .select(col("event_type"), col("quantile"), col("bucket"),
        (col("r") - col("cum_before")).as("local_r"))
    val wv = Window.partitionBy("event_type", "quantile").orderBy("value")
    ev.withColumn("bucket", bucketOf(col("value")))
      .join(broadcast(located), Seq("event_type", "bucket"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === col("local_r"))
      .select(col("event_type"), col("quantile"), col("value"))
  }

  /** r11 — QUANTILE DISCRETIZER without a global sort: every event is
    * assigned its within-type decile bin, and the query returns the
    * per-(type, bin) row counts — the feature-binning pass a training
    * pipeline runs over numeric columns. Spark's own `ntile` puts the
    * whole column through one range-partitioned sort; here the nine
    * decile BOUNDARIES come exactly from the shared histogram-refine
    * locator ([[valuesAtRanks]] — no sort wider than one bucket), and
    * binning is then a broadcast of 9 doubles per type against the
    * scan: `bin = Σ (value > boundary)`, ties landing left, stated
    * identically in the oracle. At 100 TB the corpus is scanned twice
    * (histogram + bin), never sorted.
    */
  def decileBins(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val targets = n.select(col("event_type"), explode(array(
        (1 to 9).map(k => struct(lit(s"d$k").as("quantile"),
          expr(s"($k * n + 9) DIV 10").as("r"))): _*)).as("t"))
      .select(col("event_type"), col("t.quantile").as("quantile"), col("t.r").as("r"))
    val bounds = valuesAtRanks(ev, targets)
      .groupBy("event_type").agg(sort_array(collect_list("value")).as("bs"))
    ev.join(broadcast(bounds), Seq("event_type")) // |types| rows of 9 doubles
      .select(col("event_type"),
        aggregate(col("bs"), lit(0L),
          (acc, b) => acc + when(col("value") > b, 1L).otherwise(0L)).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_rows"))
  }

  private val GroupTopK = 8

  /** r16 — stratified priority sample: r5's weighted-without-replacement
    * priority scheme, but top-[[GroupTopK]] PER LANGUAGE instead of
    * top-64 global — the per-stratum variant a curriculum builder uses.
    * The rank filter sits directly on the window, which Spark plans as
    * `WindowGroupLimit`: each partition keeps only its local top-k per
    * group BEFORE the exchange, so the shuffle carries k rows per
    * (partition, group), not the corpus (plan-asserted in the spec).
    */
  def groupTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("priority").desc, col("doc_id"))
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars").cast("double") /
          (tokenHash(col("doc_id").cast("string")) + 1L)).as("priority"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= GroupTopK)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("rk").cast("long").as("rk"))
  }

  /** r7 — distinct-count sketch REGISTERS, engine-portably. HLL-family
    * sketches summarize a key set as per-bucket maxima of a geometric
    * hash statistic; the estimate differs between engines (alpha
    * constants, bias tables, libm), but the REGISTERS are exact
    * integers, so the query returns the sketch itself: bucket = low 6
    * hash bits, statistic = the lowest set bit of the remaining bits
    * (`rest & -rest`, an exact power of two standing in for 2^(trailing
    * zeros) — monotone in the trailing-zero count, so the per-bucket max
    * is the same register ranking as classic Flajolet-Martin/HLL).
    * Everything an engine needs at 100 TB is in this shape: one
    * scan, map-side-combined `max` per (group, bucket) — constant
    * memory, no distinct Expand, no shuffle of the key set — and the
    * registers MERGE by max, so per-partition/per-day sketches combine
    * without touching raw keys (the merge law is `ApproxSpec`'d).
    */
  def hllRegisters(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        tokenHash(col("user_id").cast("string")).as("h"))
      .select(col("event_type"), (col("h") % 64).as("bucket"),
        expr("h DIV 64").as("rest"))
      .groupBy("event_type", "bucket")
      .agg(max(expr("rest & -rest")).as("register"))

  /** Contribution scale 2^26: a register stores `rest & -rest` =
    * 2^(ρ−1) for max rank ρ (first-set-bit position, 1-based) with
    * `rest < 2^25`, so the HLL term 2^(−ρ) scales to the exact integer
    * `T DIV (2·register)` ≥ 2; an EMPTY bucket contributes T (rank 0),
    * and the degenerate register 0 (every hash in the bucket had
    * rest = 0, i.e. rank beyond the 25 rest bits) contributes 1.
    */
  private val HllT = 67108864L
  private val HllM = 64L
  /** α₆₄·m²·T with α₆₄ ≈ 0.709 as the exact rational 709/1000 — the
    * numerator of the integer HLL estimate; the /1000 lives in the
    * denominator so the whole estimate is one 64-bit integer division.
    */
  private val HllEstNum = 709L * HllM * HllM * HllT

  /** r17 — HLL UNION: the mergeability law of r7's register sketches,
    * exercised end-to-end over USER-DAYS (user × event-time day — the
    * activity-volume key, whose per-type sets genuinely differ, unlike
    * plain user_id where every user touches every type). Per-event-type
    * registers union into a global sketch by per-bucket `max` — no raw
    * keys revisited — and both the per-type and the merged sketches are
    * read out as integer-exact distinct estimates next to the true
    * distinct counts. This is THE pattern that makes cardinality
    * tracking free at 100 TB: per-shard/per-day sketches (64 longs
    * each) roll up along any hierarchy by max, while the truth requires
    * a distinct over the raw key set; at thousands of user-days per
    * scope the raw harmonic estimate sits in its accurate regime
    * (n ≫ 2.5·m, error ~1.04/√m ≈ ±13%), bounds the spec asserts.
    *
    * The estimate stays in 64-bit integer arithmetic (no libm, no float
    * sums — order-insensitive, hash-exact in both engines):
    * `est = (709·m²·T) DIV (1000·(Σ T/R_j + (m − hit)·T))` — the raw
    * Flajolet-style harmonic estimate with α = 709/1000; T = 2^25 makes
    * every contribution exact.
    */
  def hllUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.events(spark, sfDir)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")).as("k"))
    val regs = keyed
      .select(col("event_type"), tokenHash(col("k")).as("h"))
      .select(col("event_type"), (col("h") % HllM).as("bucket"),
        expr(s"h DIV $HllM").as("rest"))
      .groupBy("event_type", "bucket")
      .agg(max(expr("rest & -rest")).as("register"))
    val merged = regs.groupBy("bucket").agg(max("register").as("register"))
      .select(lit("__all__").as("scope"), col("bucket"), col("register"))
    val scoped = regs
      .select(col("event_type").as("scope"), col("bucket"), col("register"))
      .unionByName(merged)
    val est = scoped.groupBy("scope")
      .agg(count(lit(1)).as("n_hit"),
        sum(expr(s"CASE WHEN register = 0 THEN 1 ELSE $HllT DIV (2 * register) END"))
          .as("dsum"))
      .select(col("scope"), col("n_hit"),
        expr(s"$HllEstNum DIV (1000 * (dsum + ($HllM - n_hit) * $HllT))")
          .as("est_distinct"))
    val pairs = keyed.distinct()
    val truth = pairs
      .groupBy(col("event_type").as("scope"))
      .agg(count(lit(1)).as("true_distinct"))
      .unionByName(pairs
        .agg(count_distinct(col("k")).as("true_distinct"))
        .select(lit("__all__").as("scope"), col("true_distinct")))
    est.join(truth, Seq("scope"))
  }

  /** KMV sketch size: estimate error ~1/√k ≈ ±12.5% — same accuracy
    * class as r17's m = 64 HLL, so the two sketches are directly
    * comparable on the same key.
    */
  private val KmvK = 64L
  /** Coarse locator histogram: 4096 equal hash ranges over [0, P). */
  private val KmvW = Portable.P / 4096L + 1L

  /** r18 — KMV (k-minimum-values / bottom-k) distinct sketch, the
    * HLL alternative whose state is the k smallest hash values seen:
    * per-event-type sketches over the same user-day key as r17, merged
    * into a global sketch by SET UNION + re-prune (bottom-k of a union
    * = bottom-k of the concatenated bottom-k's — the mergeability law,
    * exercised end-to-end like r17's register max-fold), read out as
    * the integer-exact estimator `(k−1)·P DIV h_k` next to the true
    * distinct counts. A sketch that hasn't filled (n ≤ k) IS the exact
    * set, so the estimate degrades to exact — the small-scope mode the
    * spec pins.
    *
    * The 100 TB shape: the k-th smallest hash per scope is found by a
    * HISTOGRAM-REFINE locator (the r10 exact-quantile idiom), not a
    * per-scope sort — one 4096-bin coarse count per scope picks the
    * cutoff bin containing the k-th value, and only hashes at or below
    * that bin (expected ≈ n/4096 + k rows) reach the row_number. The
    * locator is exact, not probabilistic: every hash strictly below the
    * cutoff bin survives the prune, so the bottom-k is complete by
    * construction. Everything is 64-bit integer arithmetic on the
    * Portable hash — no libm, engine-exact.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.events(spark, sfDir)
      .select(col("event_type"),
        concat(col("user_id").cast("string"), lit(":"),
          expr("CAST(unix_micros(ts) DIV 86400000000 AS STRING)")).as("k"))
    // materialized once: both the sketch chain and the truth counts
    // consume the distinct (type, user-day) frame — one corpus scan
    val tu = keyed.distinct().localCheckpoint(false)
    // distinct hash values per scope; the '__all__' scope re-distincts
    // because the same user-day (hence hash) appears under many types
    val dh = tu.select(col("event_type"), tokenHash(col("k")).as("h"))
      .distinct()
    // materialized once: the locator histogram AND the pruned rank path
    // both consume it — without the checkpoint each consumer re-derives
    // the whole distinct chain from the corpus scan (plan-audited at 13
    // Exchanges; 4 after)
    val scoped = dh.select(col("event_type").as("scope"), col("h"))
      .unionByName(
        dh.select(col("h")).distinct()
          .select(lit("__all__").as("scope"), col("h")))
      .localCheckpoint(false)
    // locator: coarse histogram → first bin whose running count reaches
    // k holds the k-th smallest hash (bins are per-scope counts, a few
    // thousand rows total — window over a statistics-sized frame)
    val bcnt = scoped
      .groupBy(col("scope"), expr(s"h DIV $KmvW").as("b"))
      .agg(count(lit(1)).as("c"))
    val cut = bcnt
      .withColumn("cum", sum("c").over(
        Window.partitionBy("scope").orderBy("b")))
      .groupBy("scope")
      .agg(min(when(col("cum") >= KmvK, col("b"))).as("cutb0"),
        max("b").as("maxb"), sum("c").as("n_distinct"))
      .select(col("scope"), coalesce(col("cutb0"), col("maxb")).as("cutb"),
        col("n_distinct"))
    // prune to the cutoff bin (sketch-sized survivor set), THEN rank
    val sk = scoped
      .join(broadcast(cut), Seq("scope"))
      .filter(expr(s"h DIV $KmvW") <= col("cutb"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("scope").orderBy("h")))
      .filter(col("rk") <= KmvK)
      .groupBy("scope")
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_min"),
        max("n_distinct").as("n_distinct"))
      .select(col("scope"), col("n_kept"), col("kth_min"),
        when(col("n_distinct") <= KmvK, col("n_distinct"))
          .otherwise(expr(s"${(KmvK - 1L) * Portable.P}L DIV kth_min"))
          .as("est_distinct"))
    val truth = tu
      .groupBy(col("event_type").as("scope"))
      .agg(count(lit(1)).as("true_distinct"))
      .unionByName(tu
        .agg(count_distinct(col("k")).as("true_distinct"))
        .select(lit("__all__").as("scope"), col("true_distinct")))
    sk.join(truth, Seq("scope"))
  }

  /** r19 replicate count: one subsample per usable bit of the 31-bit
    * portable hash (24 leaves headroom below the sign-adjacent bits).
    */
  private val CiB = 24

  /** r19 — SUBSAMPLE confidence interval for the per-type mean value:
    * [[CiB]] deterministic half-sample replicates — replicate `b` keeps
    * the rows whose `b`-th hash bit is set — each yielding an exact
    * integer replicate mean; the reported interval is the [3rd, 22nd]
    * order statistic of the sorted replicate means (the ~12.5%/91.7%
    * subsample percentile band). The number every "avg value" dashboard
    * tile should carry and almost never does: how much would this mean
    * move under resampling? Hash-gated (r1's discipline), so the
    * interval is a pure function of the data — reproducible across
    * runs, engines, and partitionings, unlike any rand()-bootstrap.
    *
    * Shape: ONE corpus scan — all [[CiB]]×2 conditional sums ride a
    * single map-side-combined aggregate row per type (one md5 per row,
    * bits reused across replicates), and the order statistics are an
    * `array_sort` of a [[CiB]]-element array per type. No explode, no
    * per-replicate pass. Exact 64-bit: cents·10⁶ sums stay under 2^60
    * past 10^12 rows per type.
    */
  def subsampleCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("v"),
        tokenHash(col("event_id").cast("string")).as("h"))
    val sums = (0 until CiB).flatMap { b =>
      val bit = expr(s"(h DIV ${1L << b}) % 2 = 1")
      Seq(sum(when(bit, col("v")).otherwise(0L)).as(s"s$b"),
        sum(when(bit, 1L).otherwise(0L)).as(s"c$b"))
    }
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum("v").as("sv") +: sums): _*)
      // greatest(c,1) guard (v8/c20's discipline): an empty replicate
      // stratum yields 0 on both engines instead of Spark-NULL vs a
      // DuckDB division-by-zero error — same VALUE too, since s=0
      // whenever c=0.
      .withColumn("means", array_sort(array(
        (0 until CiB).map(b =>
          expr(s"s$b * 1000000 DIV greatest(c$b, 1L)")): _*)))
      .select(col("event_type"), col("n"),
        expr("sv * 1000000 DIV n").as("mean_micro"),
        element_at(col("means"), 3).as("lo_micro"),
        element_at(col("means"), CiB - 2).as("hi_micro"))
  }

  private val CmRows = 4
  private val CmWidth = 32

  /** r8 — count-min heavy hitters, engine-portably. The sketch is
    * `CmRows` hash rows × `CmWidth` counters, each counter the exact sum
    * of occurrences hashing into it — integers, so unlike estimate-side
    * sketches nothing here depends on libm or float order, and counters
    * MERGE by plain addition (per-partition/per-shard sketches sum,
    * which is what the map-side partial aggregation already does). The
    * frequency estimate for a term is the MIN of its `CmRows` counters —
    * an overestimate by construction (collisions only add), which the
    * query exposes by returning `true_count` next to `cm_estimate` per
    * vocabulary term. At 100 TB the point is the shape: the sketch is
    * `CmRows·CmWidth` cells regardless of corpus size, built in one
    * scan, and frequency queries never rescan the corpus.
    */
  def cmHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    def buckets = array((0 until CmRows).map(i =>
      tokenHash(concat(lit(s"cm$i:"), col("term"))) % CmWidth): _*)
    // both the counters and the truth reaggregate the indexed
    // per-(doc, term) posting frame — zero additional corpus scans; a
    // counter cell is the sum of tf over the terms hashing into it,
    // identical to counting occurrences directly
    val terms = TextAnalysis.termFreq(spark, sfDir)
      .groupBy("term").agg(sum("tf").as("true_count"))
      .select(col("term"), col("true_count"),
        posexplode(buckets).as(Seq("row", "bucket")))
      .localCheckpoint(false) // vocabulary-sized; feeds counters AND the probe
    val counters = terms.groupBy("row", "bucket")
      .agg(sum("true_count").as("c"))
    terms
      .join(counters, Seq("row", "bucket"))
      .groupBy("term", "true_count")
      .agg(min("c").as("cm_estimate"))
  }

  /** r9 — ANALYZE-style column profiler: per-column row/null/distinct
    * counts for the whole table in ONE scan. The wide aggregate computes
    * every column's stats together (Catalyst plans the multi-distinct as
    * a single Expand — one pass over the data, keyed duplication instead
    * of per-column rescans), and `stack` unpivots the one wide row into
    * the per-column shape a catalog stores. This is the statistics pass
    * a cost-based optimizer feeds on (null fractions → join cardinality,
    * distinct counts → aggregation sizing, broadcast decisions). At
    * 100 TB the EXACT distinct here is the one deliberately non-scalable
    * choice — a real profile run swaps it for `approx_count_distinct`
    * (r6) or the mergeable HLL registers (r7), same plan minus the
    * Expand; exact is kept here because the oracle can hash-check it.
    */
  def columnProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"nn_$c"),
      count_distinct(col(c)).as(s"nd_$c"))) :+ count(lit(1)).as("n_rows")
    val wide = Tables.events(spark, sfDir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    wide.select(
      expr(s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct)"),
      col("n_rows"))
  }

  /** r12 — per-GROUP exact median from the value HISTOGRAM, no per-group
    * sort: document lengths are small integers, so the per-(lang, value)
    * count frame is the sufficient statistic — the corpus-sized pass is
    * one map-side-combined groupBy, and rank selection (lower median:
    * the value where the running count first reaches ⌈n/2⌉) runs as a
    * window over the HISTOGRAM frame, |langs|·|distinct lengths| rows.
    * The contrast with a `row_number` median, which sorts every group's
    * full membership, is the same global-sort-avoidance discipline as
    * r10 — specialized to a bounded value domain, where it needs no
    * refinement pass at all.
    */
  def groupMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val run = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("lang")
    h.withColumn("cum", sum("c").over(run))
      .withColumn("n_docs", sum("c").over(tot))
      .withColumn("r", expr("(n_docs + 1) DIV 2"))
      .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
      .select(col("lang"), col("n_docs"), col("n_chars").as("median_chars"))
  }

  /** r13 — per-group MODE (most frequent value, deterministic smallest-
    * value tiebreak) — the categorical twin of r12's median in a
    * column-profiling pass. Two aggregations, both map-side combinable:
    * counts per (group, value), then an associative struct-min argmax
    * (negated count, then value) — never a per-group sort, never a
    * window over the full frame. At 100 TB the intermediate is bounded
    * by the DISTINCT (group, value) pairs, not the row count.
    */
  def groupMode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("props"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min(struct((-col("n")).as("neg_n"), col("props"))).as("m"))
      .select(col("event_type"), col("m.props").as("mode_value"),
        (-col("m.neg_n")).as("n_occurrences"))

  /** r14 — inter-event GAP quantiles per event type (arrival-process
    * profiling: "how bursty is each event stream?"): exact p50/p90 of
    * the within-(user, type) inter-event times, in integer microseconds.
    * The gap frame is one key-partitioned lag window (o22's shuffle);
    * the quantiles ride the SAME histogram-refine locator as r10/r11 —
    * no sort wider than one bucket — with second-granularity buckets
    * (`gap DIV 1e6`), since micro-valued gaps would degenerate
    * floor-buckets into one bucket per distinct value.
    */
  def gapQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    // LAZY checkpoint (r15): the gap frame is consumed THREE times (the
    // per-type count, the locator's histogram, and the refine re-read) —
    // unlike r10/r11, whose `ev` is a bare parquet scan each consumer
    // re-reads with pushdown, this frame costs a keyed window (shuffle +
    // per-key sort) per evaluation. The checkpoint pays the window once;
    // the two later consumers read (event_type, value) blocks.
    val gaps = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("p_us", lag("us", 1).over(w))
      .filter(col("p_us").isNotNull)
      .select(col("event_type"), (col("us") - col("p_us")).as("value"))
      .localCheckpoint(false)
    val n = gaps.groupBy("event_type").agg(count(lit(1)).as("n"))
    val targets = n.select(col("event_type"), explode(array(
        struct(lit("p50").as("quantile"), expr("(n + 1) DIV 2").as("r")),
        struct(lit("p90").as("quantile"), expr("(9 * n + 9) DIV 10").as("r"))))
        .as("t"))
      .select(col("event_type"), col("t.quantile").as("quantile"), col("t.r").as("r"))
    // bucketOf is only ever applied to the `value` column (both locator
    // phases), so the integral-DIV form can name it directly
    valuesAtRanks(gaps, targets, _ => expr("value DIV 1000000"))
  }

  /** r15 — WEIGHTED median document length per language: the smallest
    * length L such that documents of length ≤ L hold at least HALF the
    * language's total characters — "half the corpus bytes live below
    * this size", the statistic that actually drives packing/chunking
    * decisions (the plain median answers about document COUNTS; a few
    * huge documents move bytes, not counts). Exact integers throughout:
    * weight = n_chars · multiplicity per distinct length, one
    * aggregation shuffle, then cum-sum + threshold on the
    * |langs|×|distinct lengths| frame — the r10 discipline (no sort
    * wider than the tiny aggregate) applied to weighted rank.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("n_chars"))
      .agg((count(lit(1)) * col("n_chars")).as("w"))
    val wl = Window.partitionBy("lang").orderBy("n_chars")
    val cum = g.withColumn("cum", sum("w").over(wl))
      .withColumn("total", sum("w").over(Window.partitionBy("lang")))
    cum.filter(col("cum") * 2 >= col("total"))
      .groupBy(col("lang"))
      .agg(min("n_chars").as("wmedian_chars"),
        min("total").as("total_chars"))
  }

  val queries: Map[String, Q] = Map(
    "r15_weighted_median" -> (weightedMedian _),
    "r13_group_mode" -> (groupMode _),
    "r14_gap_quantiles" -> (gapQuantiles _),
    "r12_group_median" -> (groupMedian _),
    "r1_hash_sample" -> (hashSample _),
    "r2_stratified_sample" -> (stratifiedSample _),
    "r3_mixture_summary" -> (mixtureSummary _),
    "r4_corpus_stats" -> (corpusStats _),
    "r5_priority_sample" -> (prioritySample _),
    "r6_approx_stats" -> (approxStats _),
    "r7_hll_registers" -> (hllRegisters _),
    "r17_hll_union" -> (hllUnion _),
    "r18_kmv_distinct" -> (kmvDistinct _),
    "r19_subsample_ci" -> (subsampleCi _),
    "r8_cm_heavy_hitters" -> (cmHeavyHitters _),
    "r9_column_profile" -> (columnProfile _),
    "r10_exact_quantiles" -> (exactQuantiles _),
    "r11_decile_bins" -> (decileBins _),
    "r16_group_topk" -> (groupTopk _)
  )

  private val gate = s"${tokenHashSql("CAST(doc_id AS VARCHAR)")} % 100"

  val oracle: Map[String, String] = Map(
    "r15_weighted_median" ->
      """WITH g AS (
        |  SELECT lang, n_chars,
        |    CAST(count(*) * n_chars AS BIGINT) AS w
        |  FROM documents GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, n_chars,
        |    sum(w) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
        |    sum(w) OVER (PARTITION BY lang) AS total
        |  FROM g)
        |SELECT lang, min(n_chars) AS wmedian_chars,
        |  CAST(min(total) AS BIGINT) AS total_chars
        |FROM c WHERE cum * 2 >= total
        |GROUP BY lang""".stripMargin,
    "r13_group_mode" ->
      """SELECT event_type, props AS mode_value, n AS n_occurrences FROM (
        |  SELECT event_type, props, n,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY n DESC, props) AS rk
        |  FROM (SELECT event_type, props, count(*) AS n
        |        FROM events GROUP BY 1, 2))
        |WHERE rk = 1""".stripMargin,
    "r14_gap_quantiles" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |          PARTITION BY user_id, event_type ORDER BY event_id) AS value
        |  FROM events),
        |g2 AS (SELECT event_type, value FROM g WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS n FROM g2 GROUP BY 1),
        |targets AS (
        |  SELECT event_type, 'p50' AS quantile, (n + 1) // 2 AS r FROM n
        |  UNION ALL
        |  SELECT event_type, 'p90', (9 * n + 9) // 10 FROM n),
        |ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        |  FROM g2)
        |SELECT t.event_type, t.quantile, r.value
        |FROM targets t JOIN ranked r
        |  ON r.event_type = t.event_type AND r.rn = t.r""".stripMargin,
    "r12_group_median" ->
      """WITH h AS (
        |  SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY lang, n_chars),
        |w AS (
        |  SELECT lang, n_chars, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n_docs
        |  FROM h)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  n_chars AS median_chars
        |FROM w
        |WHERE cum >= (n_docs + 1) // 2
        |  AND cum - c < (n_docs + 1) // 2""".stripMargin,
    "r1_hash_sample" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents WHERE $gate < 10""".stripMargin,
    "r2_stratified_sample" ->
      s"""SELECT doc_id, lang, source
         |FROM documents
         |JOIN (VALUES ('en', 5), ('de', 20), ('fr', 20), ('es', 20), ('zh', 50))
         |  AS r(lang, pct) USING (lang)
         |WHERE $gate < pct""".stripMargin,
    "r3_mixture_summary" ->
      s"""SELECT source, count(*) AS total,
         |  CAST(sum(CASE WHEN $gate < 10 THEN 1 ELSE 0 END) AS BIGINT) AS picked
         |FROM documents GROUP BY source""".stripMargin,
    "r4_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_cont(x, 0.25) AS p25,
        |  quantile_cont(x, 0.5)  AS p50,
        |  quantile_cont(x, 0.9)  AS p90
        |FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
        |      FROM documents)
        |GROUP BY lang""".stripMargin,
    "r5_priority_sample" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM (
         |  SELECT doc_id, lang, source, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      (${tokenHashSql("CAST(doc_id AS VARCHAR)")} + 1) AS priority
         |  FROM documents)
         |ORDER BY priority DESC, doc_id
         |LIMIT 64""".stripMargin,
    // the contract, restated with DuckDB's own sketches: DuckDB's
    // approx_count_distinct (HLL) and approx_quantile (t-digest) satisfy
    // the same generous bounds, so the boolean columns agree with Spark's
    "r6_approx_stats" ->
      """WITH s AS (
        |  SELECT event_type,
        |    count(DISTINCT user_id) AS exact_users,
        |    approx_count_distinct(user_id) AS approx_users,
        |    approx_quantile(value, 0.5)  AS ap50,
        |    approx_quantile(value, 0.95) AS ap95
        |  FROM events GROUP BY event_type),
        |f AS (
        |  SELECT e.event_type,
        |    avg(CASE WHEN e.value <= s.ap50 THEN 1.0 ELSE 0.0 END) AS f50,
        |    avg(CASE WHEN e.value <= s.ap95 THEN 1.0 ELSE 0.0 END) AS f95
        |  FROM events e JOIN s USING (event_type)
        |  GROUP BY e.event_type)
        |SELECT s.event_type, s.exact_users,
        |  abs(s.approx_users - s.exact_users) <= 0.1 * s.exact_users AS hll_ok,
        |  f.f50 BETWEEN 0.45 AND 0.55 AS p50_ok,
        |  f.f95 BETWEEN 0.90 AND 0.99 AS p95_ok
        |FROM s JOIN f USING (event_type)""".stripMargin,
    "r17_hll_union" ->
      s"""WITH keyed AS (
         |  SELECT event_type,
         |    CAST(user_id AS VARCHAR) || ':' ||
         |      CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS VARCHAR)
         |      AS k
         |  FROM events),
         |regs AS (
         |  SELECT event_type, bucket, max(rest & -rest) AS register
         |  FROM (SELECT event_type, h % $HllM AS bucket, h // $HllM AS rest
         |        FROM (SELECT event_type, ${tokenHashSql("k")} AS h
         |              FROM keyed))
         |  GROUP BY event_type, bucket),
         |scoped AS (
         |  SELECT event_type AS scope, bucket, register FROM regs
         |  UNION ALL
         |  SELECT '__all__', bucket, max(register) FROM regs GROUP BY bucket),
         |est AS (
         |  SELECT scope, CAST(count(*) AS BIGINT) AS n_hit,
         |    CAST(sum(CASE WHEN register = 0 THEN 1
         |                  ELSE $HllT // (2 * register) END) AS BIGINT) AS dsum
         |  FROM scoped GROUP BY scope),
         |pairs AS (SELECT DISTINCT event_type, k FROM keyed),
         |truth AS (
         |  SELECT event_type AS scope,
         |    CAST(count(*) AS BIGINT) AS true_distinct
         |  FROM pairs GROUP BY 1
         |  UNION ALL
         |  SELECT '__all__', CAST(count(DISTINCT k) AS BIGINT) FROM pairs)
         |SELECT scope, n_hit,
         |  $HllEstNum // (1000 * (dsum + ($HllM - n_hit) * $HllT))
         |    AS est_distinct,
         |  true_distinct
         |FROM est JOIN truth USING (scope)""".stripMargin,
    "r19_subsample_ci" ->
      s"""WITH ev AS (
         |  SELECT event_type,
         |    CAST(floor(value * 100) AS BIGINT) AS v,
         |    ${tokenHashSql("CAST(event_id AS VARCHAR)")} AS h
         |  FROM events),
         |a AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS sv,
         |    CAST(sum(CASE WHEN (h // 1) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s0,
         |    CAST(sum(CASE WHEN (h // 1) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN (h // 2) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN (h // 2) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN (h // 4) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN (h // 4) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN (h // 8) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s3,
         |    CAST(sum(CASE WHEN (h // 8) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN (h // 16) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s4,
         |    CAST(sum(CASE WHEN (h // 16) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |    CAST(sum(CASE WHEN (h // 32) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s5,
         |    CAST(sum(CASE WHEN (h // 32) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         |    CAST(sum(CASE WHEN (h // 64) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s6,
         |    CAST(sum(CASE WHEN (h // 64) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
         |    CAST(sum(CASE WHEN (h // 128) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s7,
         |    CAST(sum(CASE WHEN (h // 128) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
         |    CAST(sum(CASE WHEN (h // 256) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s8,
         |    CAST(sum(CASE WHEN (h // 256) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c8,
         |    CAST(sum(CASE WHEN (h // 512) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s9,
         |    CAST(sum(CASE WHEN (h // 512) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c9,
         |    CAST(sum(CASE WHEN (h // 1024) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s10,
         |    CAST(sum(CASE WHEN (h // 1024) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c10,
         |    CAST(sum(CASE WHEN (h // 2048) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s11,
         |    CAST(sum(CASE WHEN (h // 2048) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c11,
         |    CAST(sum(CASE WHEN (h // 4096) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s12,
         |    CAST(sum(CASE WHEN (h // 4096) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c12,
         |    CAST(sum(CASE WHEN (h // 8192) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s13,
         |    CAST(sum(CASE WHEN (h // 8192) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c13,
         |    CAST(sum(CASE WHEN (h // 16384) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s14,
         |    CAST(sum(CASE WHEN (h // 16384) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c14,
         |    CAST(sum(CASE WHEN (h // 32768) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s15,
         |    CAST(sum(CASE WHEN (h // 32768) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c15,
         |    CAST(sum(CASE WHEN (h // 65536) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s16,
         |    CAST(sum(CASE WHEN (h // 65536) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c16,
         |    CAST(sum(CASE WHEN (h // 131072) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s17,
         |    CAST(sum(CASE WHEN (h // 131072) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c17,
         |    CAST(sum(CASE WHEN (h // 262144) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s18,
         |    CAST(sum(CASE WHEN (h // 262144) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c18,
         |    CAST(sum(CASE WHEN (h // 524288) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s19,
         |    CAST(sum(CASE WHEN (h // 524288) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c19,
         |    CAST(sum(CASE WHEN (h // 1048576) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s20,
         |    CAST(sum(CASE WHEN (h // 1048576) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c20,
         |    CAST(sum(CASE WHEN (h // 2097152) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s21,
         |    CAST(sum(CASE WHEN (h // 2097152) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c21,
         |    CAST(sum(CASE WHEN (h // 4194304) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s22,
         |    CAST(sum(CASE WHEN (h // 4194304) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c22,
         |    CAST(sum(CASE WHEN (h // 8388608) % 2 = 1 THEN v ELSE 0 END) AS BIGINT) AS s23,
         |    CAST(sum(CASE WHEN (h // 8388608) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c23,
         |  FROM ev GROUP BY 1),
         |m AS (
         |  SELECT event_type, n, sv * 1000000 // n AS mean_micro,
         |    list_sort([s0 * 1000000 // greatest(c0, 1), s1 * 1000000 // greatest(c1, 1), s2 * 1000000 // greatest(c2, 1), s3 * 1000000 // greatest(c3, 1), s4 * 1000000 // greatest(c4, 1), s5 * 1000000 // greatest(c5, 1), s6 * 1000000 // greatest(c6, 1), s7 * 1000000 // greatest(c7, 1), s8 * 1000000 // greatest(c8, 1), s9 * 1000000 // greatest(c9, 1), s10 * 1000000 // greatest(c10, 1), s11 * 1000000 // greatest(c11, 1), s12 * 1000000 // greatest(c12, 1), s13 * 1000000 // greatest(c13, 1), s14 * 1000000 // greatest(c14, 1), s15 * 1000000 // greatest(c15, 1), s16 * 1000000 // greatest(c16, 1), s17 * 1000000 // greatest(c17, 1), s18 * 1000000 // greatest(c18, 1), s19 * 1000000 // greatest(c19, 1), s20 * 1000000 // greatest(c20, 1), s21 * 1000000 // greatest(c21, 1), s22 * 1000000 // greatest(c22, 1), s23 * 1000000 // greatest(c23, 1)]) AS means
         |  FROM a)
         |SELECT event_type, n, mean_micro,
         |  means[3] AS lo_micro, means[22] AS hi_micro
         |FROM m""".stripMargin,
    "r18_kmv_distinct" ->
      s"""WITH keyed AS (
         |  SELECT event_type,
         |    CAST(user_id AS VARCHAR) || ':' ||
         |      CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS VARCHAR)
         |      AS k
         |  FROM events),
         |tu AS (SELECT DISTINCT event_type, k FROM keyed),
         |dh AS (SELECT DISTINCT event_type, ${tokenHashSql("k")} AS h FROM tu),
         |scoped AS (
         |  SELECT event_type AS scope, h FROM dh
         |  UNION ALL
         |  SELECT '__all__', h FROM (SELECT DISTINCT h FROM dh)),
         |bcnt AS (
         |  SELECT scope, h // $KmvW AS b, CAST(count(*) AS BIGINT) AS c
         |  FROM scoped GROUP BY 1, 2),
         |cum AS (
         |  SELECT scope, b, c,
         |    sum(c) OVER (PARTITION BY scope ORDER BY b) AS cum
         |  FROM bcnt),
         |cut AS (
         |  SELECT scope,
         |    coalesce(min(CASE WHEN cum >= $KmvK THEN b END), max(b)) AS cutb,
         |    CAST(sum(c) AS BIGINT) AS n_distinct
         |  FROM cum GROUP BY scope),
         |rk AS (
         |  SELECT s.scope, s.h, cut.n_distinct,
         |    row_number() OVER (PARTITION BY s.scope ORDER BY s.h) AS rk
         |  FROM scoped s JOIN cut ON s.scope = cut.scope
         |  WHERE s.h // $KmvW <= cut.cutb),
         |sk AS (
         |  SELECT scope, CAST(count(*) AS BIGINT) AS n_kept,
         |    max(h) AS kth_min, max(n_distinct) AS n_distinct
         |  FROM rk WHERE rk <= $KmvK GROUP BY scope),
         |truth AS (
         |  SELECT event_type AS scope,
         |    CAST(count(*) AS BIGINT) AS true_distinct
         |  FROM tu GROUP BY 1
         |  UNION ALL
         |  SELECT '__all__', CAST(count(DISTINCT k) AS BIGINT) FROM tu)
         |SELECT sk.scope, n_kept, kth_min,
         |  CASE WHEN n_distinct <= $KmvK THEN n_distinct
         |       ELSE ${(KmvK - 1L) * Portable.P} // kth_min
         |  END AS est_distinct,
         |  true_distinct
         |FROM sk JOIN truth USING (scope)""".stripMargin,
    "r7_hll_registers" ->
      s"""SELECT event_type, bucket, max(rest & -rest) AS register
         |FROM (
         |  SELECT event_type, h % 64 AS bucket, h // 64 AS rest
         |  FROM (
         |    SELECT event_type,
         |      ${tokenHashSql("CAST(user_id AS VARCHAR)")} AS h
         |    FROM events))
         |GROUP BY event_type, bucket""".stripMargin,
    "r8_cm_heavy_hitters" -> {
      val rows = (0 until CmRows).map { i =>
        s"SELECT term, CAST($i AS INTEGER) AS row, " +
          s"${tokenHashSql(s"'cm$i:' || term")} % $CmWidth AS bucket FROM toks"
      }
      s"""WITH toks AS (
         |  SELECT unnest(${tokensSql("text")}) AS term FROM documents),
         |b AS (
         |  ${rows.mkString("\n  UNION ALL\n  ")}),
         |counters AS (
         |  SELECT row, bucket, count(*) AS c FROM b GROUP BY row, bucket),
         |terms AS (
         |  SELECT term, count(*) AS true_count FROM toks GROUP BY term),
         |tb AS (SELECT DISTINCT term, row, bucket FROM b)
         |SELECT term, true_count, min(c) AS cm_estimate
         |FROM tb JOIN counters USING (row, bucket) JOIN terms USING (term)
         |GROUP BY term, true_count""".stripMargin
    },
    "r9_column_profile" -> {
      // `ts` profiles as the µs-truncated timestamp, matching the Spark
      // view of the column (Tables.events) — see o01's cast note
      def sel(name: String, v: String) =
        s"""SELECT '$name' AS col_name, count(*) AS n_rows,
           |  count(*) - count($v) AS n_nulls,
           |  count(DISTINCT $v) AS n_distinct
           |FROM events""".stripMargin
      Seq("event_id" -> "event_id", "ts" -> "CAST(ts AS TIMESTAMP)",
        "user_id" -> "user_id", "event_type" -> "event_type",
        "value" -> "value", "props" -> "props")
        .map { case (n, v) => sel(n, v) }
        .mkString("\nUNION ALL\n")
    },
    // the DEFINITION, stated directly: the rank-th smallest value, rank =
    // ceil(p·n) — DuckDB can afford the full sort at oracle scale
    "r10_exact_quantiles" ->
      """WITH n AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
        |ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        |  FROM events),
        |targets AS (
        |  SELECT event_type, 'p50' AS quantile, (n + 1) // 2 AS r FROM n
        |  UNION ALL
        |  SELECT event_type, 'p95', (19 * n + 19) // 20 FROM n)
        |SELECT t.event_type, t.quantile, r.value
        |FROM targets t JOIN ranked r
        |  ON r.event_type = t.event_type AND r.rn = t.r""".stripMargin,
    // boundaries restated by definition (rank-th smallest via the full
    // sort DuckDB can afford), binning by the identical strict-greater
    // comparison against the sorted boundary list
    "r11_decile_bins" ->
      """WITH n AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
        |ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
        |  FROM events),
        |targets AS (
        |  SELECT event_type, k, (k * n + 9) // 10 AS r
        |  FROM (SELECT event_type, n, unnest(range(1, 10)) AS k FROM n)),
        |bounds AS (
        |  SELECT t.event_type, list_sort(list(r.value)) AS bs
        |  FROM targets t JOIN ranked r
        |    ON r.event_type = t.event_type AND r.rn = t.r
        |  GROUP BY t.event_type)
        |SELECT e.event_type,
        |  CAST(len(list_filter(b.bs, x -> e.value > x)) AS BIGINT) AS bin,
        |  count(*) AS n_rows
        |FROM events e JOIN bounds b USING (event_type)
        |GROUP BY e.event_type, bin""".stripMargin,
    "r16_group_topk" ->
      s"""SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
         |FROM (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY CAST(n_chars AS DOUBLE) /
         |        (${tokenHashSql("CAST(doc_id AS VARCHAR)")} + 1) DESC,
         |      doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $GroupTopK""".stripMargin
  )
}
