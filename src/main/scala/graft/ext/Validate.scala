package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality VALIDATION — the expectation/constraint layer every
  * production 100 TB ingest runs before data reaches training or
  * serving (the Deequ/Great-Expectations surface, re-expressed as plain
  * Catalyst aggregates). The reference pipeline trusts its producer
  * blindly (`consumer_to_opensearch.py` indexes whatever arrives); a
  * replacement engine that feeds LLM training must instead PROVE
  * per-snapshot invariants — completeness, uniqueness, referential
  * integrity, domain compliance, distribution stability — and gate
  * downstream jobs on the result.
  *
  * Design rules shared by the family:
  *
  *   - every check is a METRIC, not a violating-row dump: one row per
  *     declared constraint with an exact integral ppm value and the
  *     declared threshold. Violating-row sets over a clean corpus are
  *     empty — a vacuous oracle comparison — while metric rows always
  *     exist and carry data-derived values (the registry's
  *     non-vacuity contract);
  *   - all ratios are EXACT integer ppm via DECIMAL(38,0) multiply-
  *     then-DIV (the house arithmetic): no floats in any comparison,
  *     bit-identical in both engines, overflow-safe past 10^31 rows;
  *   - each relation is scanned ONCE per query with only the checked
  *     columns read (one multi-metric partial aggregate per table —
  *     map-side combined, so the shuffled state is a handful of longs
  *     per partition regardless of corpus size), and the per-constraint
  *     rows are unfolded from that single row AFTER aggregation via
  *     `stack`. At 100 TB the cost is the scan, exactly once.
  */
object Validate {

  type Q = (SparkSession, String) => DataFrame

  private val Ppm = 1000000L

  /** Declared event-domain constants — shared by the batch v1 suite and
    * the streaming compliance monitor
    * ([[graft.streaming.QualityStream]]), so the two paths can never
    * check different rules. The value range also fixes v4's histogram
    * domain.
    */
  private[graft] val EventTypeDomain = Seq("click", "error", "purchase", "signup", "view")
  private[graft] val ValueLo = 0.0
  private[graft] val ValueHi = 500.0

  /** Exact integral parts-per-million `num/den` over two named long
    * columns (DECIMAL multiply-then-DIV — the house pattern from
    * Pipeline's shares; see scaladoc above).
    */
  private def ppm(num: String, den: String): Column = expr(ppmSql(num, den))

  /** v1 — EXPECTATION SUITE: the declared per-snapshot contract, one
    * row per constraint: `(constraint, metric_ppm, threshold_ppm,
    * passed)`. The mix is deliberate: some constraints hold exactly
    * (completeness, key uniqueness — metric 10⁶), some measure real
    * non-trivial rates (user_id repetition, value concentration), so
    * both the metric values and the pass verdicts carry information.
    *
    * Shape: one single-row multi-metric aggregate per table (events,
    * lineitem, orders, documents), each reading only its checked
    * columns; `stack` unfolds constraints after aggregation; the final
    * union is constraint-count rows. Four scans, zero joins, zero
    * row-grain shuffles.
    */
  def expectationSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        count(col("props")).as("nn_props"),
        count_distinct(col("event_id")).as("u_event"),
        count_distinct(col("user_id")).as("u_user"),
        sum(when(col("value") >= ValueLo && col("value") < ValueHi, 1L)
          .otherwise(0L)).as("in_range"),
        sum(when(col("value") < 100, 1L).otherwise(0L)).as("lt100"),
        sum(when(col("event_type").isin(EventTypeDomain: _*), 1L)
          .otherwise(0L)).as("type_ok"))
      .selectExpr(
        s"""stack(6,
           |'completeness_events_props', ${ppmSql("nn_props", "n")}, ${Ppm}L,
           |'uniqueness_events_event_id', ${ppmSql("u_event", "n")}, ${Ppm}L,
           |'uniqueness_events_user_id', ${ppmSql("u_user", "n")}, 900000L,
           |'compliance_events_value_range', ${ppmSql("in_range", "n")}, ${Ppm}L,
           |'compliance_events_value_lt100', ${ppmSql("lt100", "n")}, 500000L,
           |'accepted_events_type', ${ppmSql("type_ok", "n")}, ${Ppm}L
           |) AS (constraint_name, metric_ppm, threshold_ppm)""".stripMargin)
    val li = Tables.lineitem(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_discount") >= 0 && col("l_discount") <= 0.1, 1L)
          .otherwise(0L)).as("disc_ok"),
        sum(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 1L)
          .otherwise(0L)).as("qty_ok"))
      .selectExpr(
        s"""stack(2,
           |'compliance_lineitem_discount', ${ppmSql("disc_ok", "n")}, ${Ppm}L,
           |'compliance_lineitem_quantity', ${ppmSql("qty_ok", "n")}, ${Ppm}L
           |) AS (constraint_name, metric_ppm, threshold_ppm)""".stripMargin)
    val ord = Tables.orders(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("st_ok"),
        sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("tp_pos"))
      .selectExpr(
        s"""stack(2,
           |'accepted_orders_status', ${ppmSql("st_ok", "n")}, ${Ppm}L,
           |'compliance_orders_totalprice_pos', ${ppmSql("tp_pos", "n")}, ${Ppm}L
           |) AS (constraint_name, metric_ppm, threshold_ppm)""".stripMargin)
    val doc = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") === length(col("text")), 1L)
          .otherwise(0L)).as("nc_ok"),
        sum(when(col("lang").isin("en", "de", "fr", "es", "zh"), 1L)
          .otherwise(0L)).as("lang_ok"))
      .selectExpr(
        s"""stack(2,
           |'consistency_documents_nchars', ${ppmSql("nc_ok", "n")}, ${Ppm}L,
           |'accepted_documents_lang', ${ppmSql("lang_ok", "n")}, ${Ppm}L
           |) AS (constraint_name, metric_ppm, threshold_ppm)""".stripMargin)
    ev.unionByName(li).unionByName(ord).unionByName(doc)
      .withColumn("passed", col("metric_ppm") >= col("threshold_ppm"))
  }

  /** SQL-expression form of [[ppm]] for use inside `stack` strings. */
  private def ppmSql(num: String, den: String): String =
    s"CAST(CAST($num AS DECIMAL(38,0)) * $Ppm DIV CAST($den AS DECIMAL(38,0)) AS BIGINT)"

  /** v2 — REFERENTIAL INTEGRITY: one row per declared foreign-key edge
    * with the child cardinality and the orphan count (children whose
    * parent key is absent). A healthy snapshot reports zero orphans —
    * the metric row still carries the data-derived `n_child`, so the
    * oracle comparison is never empty-vs-empty.
    *
    * Shape: every (edge, child-key) pair lands in ONE tagged union —
    * lineitem's three edges explode out of a single scan — the parent
    * keys land in another (distinct taken once, after the union), and
    * the whole audit is one LEFT join on (edge, key) plus one edge-grain
    * rollup. The first formulation joined-and-aggregated each edge to
    * its one-row verdict and unioned the five verdicts: same values,
    * but 5 independent join+global-agg chains = ~20 AQE stage
    * materializations whose sequential driver syncs dominated the
    * query (2.2 s isolated at sf0.1 — the v7 lesson, same round). The
    * join shuffles key columns only (8 bytes/row + the edge tag); the
    * unioned parent frame is dim-sized so AQE broadcasts it. At 100 TB
    * each edge is still one key-column shuffle — the same cost profile
    * as the b1 runtime-filter path, which composes with this check when
    * the parent side is selective.
    */
  /** The declared FK edges, numbered. The per-row tag that rides the
    * 3×|lineitem| exchange is the small int `__e`, never the ~30-byte
    * edge-name string (the r11 form shipped the string through the
    * shuffle and the in-run time tripled); the name is re-attached
    * AFTER the edge-grain rollup, a 5-row projection.
    */
  private val FkEdges: Seq[(Int, String)] = Seq(
    1 -> "lineitem.l_orderkey->orders",
    2 -> "lineitem.l_partkey->part",
    3 -> "lineitem.l_suppkey->supplier",
    4 -> "orders.o_custkey->customer",
    5 -> "customer.c_nationkey->nation")

  def referentialIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    def tag(e: Int, k: Column): Column =
      struct(lit(e).as("__e"), k.cast("long").as("__k"))
    val childs = Tables.lineitem(spark, sfDir)
      .select(explode(array(
        tag(1, col("l_orderkey")),
        tag(2, col("l_partkey")),
        tag(3, col("l_suppkey")))).as("e"))
      .select(col("e.__e").as("__e"), col("e.__k").as("__k"))
      .unionByName(Tables.orders(spark, sfDir)
        .select(lit(4).as("__e"), col("o_custkey").cast("long").as("__k")))
      .unionByName(Tables.customer(spark, sfDir)
        .select(lit(5).as("__e"), col("c_nationkey").cast("long").as("__k")))
    val parents = Tables.orders(spark, sfDir)
      .select(lit(1).as("__e"), col("o_orderkey").cast("long").as("__pk"))
      .unionByName(Tables.part(spark, sfDir)
        .select(lit(2).as("__e"), col("p_partkey").cast("long").as("__pk")))
      .unionByName(Tables.supplier(spark, sfDir)
        .select(lit(3).as("__e"), col("s_suppkey").cast("long").as("__pk")))
      .unionByName(Tables.customer(spark, sfDir)
        .select(lit(4).as("__e"), col("c_custkey").cast("long").as("__pk")))
      .unionByName(Tables.nation(spark, sfDir)
        .select(lit(5).as("__e"), col("n_nationkey").cast("long").as("__pk")))
      .distinct()
    // (edge, key)-grain pre-aggregation BEFORE the join — the r12 sweep
    // caught the raw form regressing to exp 1.09 / 72 s at sf10-synth:
    // past the broadcast threshold the ~18.6M-row parent union stops
    // broadcasting and the join shuffled all 3×|lineitem| exploded rows.
    // FK columns are heavily duplicated (l_orderkey ~4×/key and
    // clustered), so the groupBy's map-side combine shrinks the shuffle
    // to distinct-key volume, and the join then reads two frames hash-
    // partitioned on the SAME (edge, key) — the distinct's exchange is
    // reused, no further shuffle on either side at any scale.
    val childAgg = childs.groupBy("__e", "__k")
      .agg(count(lit(1)).as("cnt"))
    val byEdge = childAgg
      .join(parents, childAgg("__e") === parents("__e") &&
        col("__k") === col("__pk"), "left")
      .groupBy(childAgg("__e"))
      .agg(sum("cnt").as("n_child"),
        sum(when(col("__pk").isNull, col("cnt")).otherwise(0L)).as("n_orphans"))
    // name re-attachment is a pure 5-way CASE projection over the
    // 5-row rollup — no join, nothing new on the wire
    val name = FkEdges.foldLeft(lit(null).cast("string")) {
      case (acc, (e, n)) => when(col("__e") === e, n).otherwise(acc)
    }
    byEdge.select(name.as("fk_edge"), col("n_child"), col("n_orphans"))
  }

  /** v3 — UNIQUENESS PROFILE: for each declared candidate key, the row
    * count, distinct-key count, and surplus rows (rows beyond one per
    * key — 0 iff the key is unique). `events.user_id` is deliberately
    * in the list as a NON-key: its large surplus is what proves the
    * profile measures the data rather than restating the DDL.
    *
    * Shape: one `(count, count_distinct)` aggregate per relation —
    * Spark plans each as the standard two-phase distinct expand; the
    * composite lineitem key hashes both columns into the same partial.
    * No row-grain state leaves any executor.
    */
  def uniquenessProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def prof(rel: String, key: String, df: DataFrame, ks: Column*): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), count_distinct(ks.head, ks.tail: _*).as("n_keys"))
        .select(lit(rel).as("relation"), lit(key).as("key_name"),
          col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("n_surplus"))
    prof("events", "event_id", Tables.events(spark, sfDir), col("event_id"))
      .unionByName(prof("events", "user_id",
        Tables.events(spark, sfDir), col("user_id")))
      .unionByName(prof("orders", "o_orderkey",
        Tables.orders(spark, sfDir), col("o_orderkey")))
      .unionByName(prof("customer", "c_custkey",
        Tables.customer(spark, sfDir), col("c_custkey")))
      .unionByName(prof("documents", "doc_id",
        Tables.documents(spark, sfDir), col("doc_id")))
      .unionByName(prof("lineitem", "l_orderkey,l_linenumber",
        Tables.lineitem(spark, sfDir), col("l_orderkey"), col("l_linenumber")))
  }

  /** Fixed histogram geometry for v4 — DECLARED, not data-derived (a
    * drift monitor must bin tomorrow's snapshot exactly like today's,
    * or the comparison measures the binning). `value ∈ [0, 500)` in 10
    * equal bins; out-of-domain values clamp into the edge bins so the
    * shares always total 10⁶.
    */
  private[graft] val DriftBins = 10
  private[graft] val DriftWidth = 50.0

  /** v4 — NUMERIC DISTRIBUTION DRIFT: the per-bin share of `value` in
    * the older half of the corpus vs the newer half (split at the
    * midpoint of the observed time range), with the absolute ppm
    * delta — the total-variation-per-bin monitor that catches a
    * producer silently changing a metric's distribution.
    *
    * Shape: one one-row (min, max) aggregate broadcasts to the binning
    * scan (the a9 spine pattern); the per-(bin, half) counts partial-
    * aggregate map-side, and the half totals come from a GLOBAL WINDOW
    * over the 10-row bin frame — NOT a second aggregate of the subtree,
    * which Spark would recompute from the corpus (a duplicate 100 TB
    * scan; the initial version measured 4 scans, this shape measures
    * the algorithmic floor of 2). The single-partition WindowExec holds
    * exactly [[DriftBins]] rows. Bin boundaries are IEEE double
    * division by a constant — deterministic and engine-identical.
    */
  def valueDrift(spark: SparkSession, sfDir: String): DataFrame =
    valueDriftOf(Tables.events(spark, sfDir))

  /** v4 over an arbitrary `(ts TIMESTAMP, value DOUBLE)` frame —
    * injectable so `ValidatePropertySpec` can drive randomized corpora
    * against a driver-side fold of the same definition.
    */
  private[ext] def valueDriftOf(events: DataFrame): DataFrame = {
    val ev = events.select(unix_micros(col("ts")).as("us"), col("value"))
    val mid = ev.agg(min("us").as("lo_us"), max("us").as("hi_us"))
      // integer DIV, not `/`: a double round-trip near 2^61 loses the
      // low bits and the split point would drift off the oracle's
      .selectExpr("(lo_us + hi_us) DIV 2 AS mid_us")
    val bin = least(greatest(floor(col("value") / DriftWidth), lit(0.0)),
      lit(DriftBins - 1.0)).cast("long")
    val all = Window.partitionBy()
    ev.crossJoin(broadcast(mid)) // one-row frame: correct broadcast
      .groupBy(bin.as("bin"))
      .agg(sum(when(col("us") < col("mid_us"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("us") >= col("mid_us"), 1L).otherwise(0L)).as("n_new"))
      .withColumn("t_old", sum("n_old").over(all))
      .withColumn("t_new", sum("n_new").over(all))
      .select(col("bin"), col("n_old"), col("n_new"),
        ppm("n_old", "t_old").as("share_old_ppm"),
        ppm("n_new", "t_new").as("share_new_ppm"))
      .withColumn("delta_ppm",
        abs(col("share_old_ppm") - col("share_new_ppm")))
  }

  /** v10 — CUSUM CHANGEPOINT detection on the daily volume series: for
    * every candidate split day k, the exact cumulative deviation
    * `C_k = D·L_k − k·N` (L_k = events through day k, N total, D days —
    * the mean-centered CUSUM cross-multiplied into integers), with the
    * argmax flagged as the structural break. v8 answers "which days are
    * OUTLIERS against the whole series"; this answers "WHEN did the
    * regime change" — a level shift moves every C_k on one side and
    * peaks at the shift, which pointwise MAD scoring structurally
    * cannot see. The full curve is emitted (it is the drill-down
    * panel), strength in ppm of the D·N normalizer; the flag ties to
    * the earliest day at max |C_k| — total order, engine-identical.
    * One corpus scan to day grain; everything after is |days|-sized.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame =
    changepointOf(Tables.events(spark, sfDir))

  /** v10 over an arbitrary `(ts TIMESTAMP, ...)` frame — injectable so
    * the property spec can drive random corpora AND a constructed level
    * shift whose known location the flag must recover.
    */
  private[ext] def changepointOf(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val wday = Window.partitionBy(lit(1)).orderBy("day")
    val wall = Window.partitionBy(lit(1))
    daily
      .withColumn("k", row_number().over(wday).cast("long"))
      .withColumn("cum", sum("n_events").over(
        wday.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("d_days", count(lit(1)).over(wall))
      .withColumn("n_total", sum("n_events").over(wall))
      // the split "after day k" is meaningless at k = D (empty right
      // side), and C_D = 0 identically — keep it; it anchors the curve
      .withColumn("cusum", expr("d_days * cum - k * n_total"))
      // DECIMAL(38,0) intermediates (the house ppm pattern): cusum is
      // bounded by d_days·n_total, so abs(cusum)·10⁶ exceeds 64 bits
      // long before the scaladoc's 100 TB scale — Spark would wrap
      // silently where DuckDB raises. DIV returns BIGINT.
      .withColumn("strength_ppm",
        expr("""CAST(CAST(abs(cusum) AS DECIMAL(38,0)) * 1000000
               |  DIV (CAST(d_days AS DECIMAL(38,0)) * n_total)
               |  AS BIGINT)""".stripMargin))
      .withColumn("is_changepoint",
        col("strength_ppm") === max("strength_ppm").over(wall) &&
          col("day") === min(when(col("strength_ppm") ===
            max("strength_ppm").over(wall), col("day"))).over(wall))
      .select(col("day"), col("n_events"), col("cusum"),
        col("strength_ppm"), col("is_changepoint"))
  }

  def ksDrift(spark: SparkSession, sfDir: String): DataFrame =
    ksDriftOf(Tables.events(spark, sfDir))

  /** v9 — exact two-sample KOLMOGOROV–SMIRNOV drift per event type: the
    * sup-norm CDF distance between the older and newer half of the
    * corpus (v4's mid-epoch split), computed on the exact value grain
    * (cents) with NO binning — the classic distribution-shift test v4's
    * fixed histogram approximates, and the one that catches a shift v4's
    * 10 coarse bins can hide (mass moving within a bin). For step CDFs
    * the supremum is attained at an observed value, so evaluating
    * |F_old − F_new| at every distinct (type, cent) point is exact; each
    * CDF term floors to ppm BEFORE the difference, keeping the whole
    * statistic 64-bit integer and engine-identical.
    *
    * Shape: one corpus scan into a (type, cent) count frame; cumulative
    * and total windows ride that DISTINCT-VALUE-grain frame (bounded by
    * the cents domain — thousands of rows per type, a statistics-sized
    * sort, which is why the test is stated on quantized cents rather
    * than raw doubles). Types with an empty half are dropped: a
    * one-sided KS is undefined, not zero.
    */
  private[ext] def ksDriftOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), unix_micros(col("ts")).as("us"),
      expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
    val mid = ev.agg(min("us").as("lo"), max("us").as("hi"))
      .selectExpr("(lo + hi) DIV 2 AS mid_us")
    val counts = ev.crossJoin(broadcast(mid)) // one-row frame
      .groupBy(col("event_type").as("key"), col("v"))
      .agg(sum(when(col("us") < col("mid_us"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("us") >= col("mid_us"), 1L).otherwise(0L)).as("n_b"))
    ksStatOn(counts)
      .select(col("key").as("event_type"), col("n_a").as("n_old"),
        col("n_b").as("n_new"), col("ks_ppm"), col("drifted"))
  }

  /** THE KS engine, factored over a combined `(key, v, n_a, n_b)` count
    * relation — the batch v9 splits one corpus into halves to build it;
    * the streaming monitor ([[graft.streaming.KsStream]]) full-outer-
    * joins a LIVE count store against a frozen reference, then runs the
    * identical statistic — one definition, so live alarms and the batch
    * audit can never disagree on arithmetic.
    */
  private[graft] def ksStatOn(counts: DataFrame): DataFrame = {
    val wcum = Window.partitionBy("key").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy("key")
    counts
      .withColumn("cum_a", sum("n_a").over(wcum))
      .withColumn("cum_b", sum("n_b").over(wcum))
      .withColumn("t_a", sum("n_a").over(wall))
      .withColumn("t_b", sum("n_b").over(wall))
      .filter(col("t_a") > 0 && col("t_b") > 0)
      .groupBy(col("key"))
      // cum·10⁶ brushes the long range at ~10¹² rows per key — the ppm
      // multiply rides DECIMAL(38,0) (house pattern); DIV returns BIGINT
      // so the difference/abs/max stay 64-bit.
      .agg(max("t_a").as("n_a"), max("t_b").as("n_b"),
        max(abs(expr("CAST(cum_a AS DECIMAL(38,0)) * 1000000 DIV t_a") -
          expr("CAST(cum_b AS DECIMAL(38,0)) * 1000000 DIV t_b")))
          .as("ks_ppm"))
      .withColumn("drifted", col("ks_ppm") > 50000L)
  }

  /** v5 — CATEGORICAL SHARE DRIFT: per (week, event_type), the type's
    * share within the week vs its share over the whole corpus, as an
    * exact ppm delta — the event-mix monitor ("errors doubled this
    * week") on the calendar grain dashboards use. Weeks are epoch-µs
    * integer weeks (`us div 7d`), not calendar weeks: identical in both
    * engines, no session-locale semantics.
    *
    * Shape: ONE scan aggregates to (week, type) counts; week totals,
    * type totals, and the grand total are WINDOW sums over that small
    * frame (weeks × types rows). Separate `wt.groupBy(...)` aggregates
    * joined back would each recompute the subtree from the corpus —
    * Spark plans DataFrame reuse by subtree, not by reference — turning
    * one logical scan into four physical ones (measured); the window
    * shape pins the corpus to exactly one scan, with the window
    * shuffles moving only the dashboard-sized frame.
    */
  def shareDrift(spark: SparkSession, sfDir: String): DataFrame =
    shareDriftOf(Tables.events(spark, sfDir))

  /** v5 over an arbitrary `(ts TIMESTAMP, event_type STRING)` frame —
    * injectable for the randomized property spec.
    */
  private[ext] def shareDriftOf(events: DataFrame): DataFrame = {
    val WeekUs = 604800000000L
    val wt = events
      .selectExpr(s"unix_micros(ts) DIV $WeekUs AS week", "event_type")
      .groupBy("week", "event_type").agg(count(lit(1)).as("n"))
    wt.withColumn("week_total", sum("n").over(Window.partitionBy("week")))
      .withColumn("type_total", sum("n").over(Window.partitionBy("event_type")))
      .withColumn("grand_total", sum("n").over(Window.partitionBy()))
      .select(col("week"), col("event_type"), col("n"),
        ppm("n", "week_total").as("week_share_ppm"),
        ppm("type_total", "grand_total").as("overall_share_ppm"))
      .withColumn("delta_ppm",
        abs(col("week_share_ppm") - col("overall_share_ppm")))
  }

  /** Benford first-digit expectation, exact ppm: `round(log10(1+1/d) ·
    * 10⁶)` precomputed as LITERALS — the law's probabilities are
    * irrational, and evaluating `log10` at query time would put libm in
    * the comparison path (the house rule: no transcendental calls in
    * ranked/compared values). Both engines read the same nine
    * constants.
    */
  private[ext] val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** v6 — BENFORD FIRST-DIGIT AUDIT over `o_totalprice`: observed vs
    * expected leading-digit distribution in exact ppm — the classic
    * fabricated-data / broken-generator screen (a price column produced
    * by a uniform RNG, a truncated export, or a copy-paste fill lights
    * up instantly; organically-grown multiplicative amounts track the
    * law). The verdict is per-digit deltas, not a libm chi-square: the
    * thresholding policy belongs to the consumer.
    *
    * The digit is extracted INTEGERLY (price → exact cents long →
    * leading decimal digit via string head): no float logs, identical
    * in both engines. One scan, a 9-group aggregate, window-sum total.
    */
  def benfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val expected = spark.createDataFrame(BenfordPpm.map {
      case (d, p) => (d.toLong, p)
    }).toDF("digit", "expected_ppm")
    Tables.orders(spark, sfDir)
      .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0L)
      .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(Window.partitionBy()))
      .join(broadcast(expected), Seq("digit"))
      .select(col("digit"), col("n"),
        ppm("n", "total").as("observed_ppm"), col("expected_ppm"))
      .withColumn("delta_ppm", abs(col("observed_ppm") - col("expected_ppm")))
  }

  /** v7 — FUNCTIONAL-DEPENDENCY AUDIT: for each declared FD candidate
    * `LHS → RHS`, how many LHS groups exist and how many are VIOLATED
    * (carry more than one distinct RHS value) — the profiling question
    * "does this column determine that one, and how badly not" (Deequ's
    * FD constraint; schema-inference pipelines run the same scan). The
    * candidates are chosen to produce a measured verdict mix: none of
    * them is a DDL fact.
    *
    * Shape: the four tables project to tagged (fd, LHS, RHS) string
    * pairs and UNION BEFORE any aggregation, so the whole audit is one
    * groupBy(fd, LHS) distinct-count plus one fd-grain rollup — 3
    * shuffle stages total. The first formulation aggregated each FD to
    * its one-row verdict and unioned the verdicts: same values, but 4
    * independent global aggregates = ~12 AQE stage materializations
    * whose sequential driver syncs cost 2.2 s against this shape's
    * 0.9 s at sf0.1 (measured; the four sub-queries alone sum to 0.9 s).
    * Violation rate in exact ppm of groups.
    */
  def fdAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def pairs(name: String, df: DataFrame, lhs: String, rhs: String): DataFrame =
      df.select(lit(name).as("fd"), col(lhs).cast("string").as("__l"),
        col(rhs).cast("string").as("__r"))
    pairs("documents: source->lang",
        Tables.documents(spark, sfDir), "source", "lang")
      .unionByName(pairs("orders: o_custkey->o_orderpriority",
        Tables.orders(spark, sfDir), "o_custkey", "o_orderpriority"))
      .unionByName(pairs("lineitem: l_orderkey->l_linestatus",
        Tables.lineitem(spark, sfDir), "l_orderkey", "l_linestatus"))
      .unionByName(pairs("customer: c_nationkey->c_mktsegment",
        Tables.customer(spark, sfDir), "c_nationkey", "c_mktsegment"))
      // EXPLICIT pre-aggregation on the full (fd, __l, __r) tuple — the
      // r15 fix for the r14 regression. The r14 form repartitioned by
      // (fd, __l) below groupBy+count_distinct; because the injected
      // exchange already satisfied the aggregate's ClusteredDistribution,
      // Spark planned a COMPLETE aggregate with no partial phase, so all
      // 1.3M raw tagged rows crossed an AQE-exempt 32-way exchange
      // (driver: 2.93 s → 11.48 s @32). Stating the distinct reduction
      // as its own groupBy restores two-phase aggregation: the CPU-dense
      // string-hash dedup runs MAP-SIDE inside the scan stage at full
      // scan parallelism, the exchange carries only distinct tuples, and
      // the downstream count/rollup merges are cheap even when AQE
      // coalesces them. count(__r) over the deduped tuples ≡
      // count_distinct(__r): each surviving (fd, __l, __r) is unique and
      // count(col) skips the NULL-__r group exactly as count_distinct
      // ignores NULLs.
      .groupBy("fd", "__l", "__r").agg(count(lit(1)).as("__dup"))
      .groupBy("fd", "__l").agg(count(col("__r")).as("nd"))
      .groupBy("fd").agg(count(lit(1)).as("n_groups"),
        sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_violating"))
      .select(col("fd"), col("n_groups"), col("n_violating"),
        ppm("n_violating", "n_groups").as("violation_ppm"))
  }

  /** v8 anomaly policy: a day is anomalous when its absolute deviation
    * from the median daily volume exceeds this many MADs, stated in ppm
    * of a MAD (3.5 MADs — the conventional robust-outlier cutoff). The
    * score is deliberately in MAD units, NOT the "modified z-score"
    * (which multiplies by the normal-consistency constant 0.6745 — an
    * irrational factor that would put a float in the compared value);
    * the threshold is declared in the same units, so the policy is
    * identical information.
    */
  private[graft] val VolumeAnomalyPpm = 3500000L

  /** v8 — DAILY-VOLUME ANOMALY via exact MAD: per event-time day, the
    * event count and its robust deviation score `|n − median| / MAD` in
    * exact ppm — the volume monitor that catches a stuck producer, a
    * replayed backlog, or a partial day without being dragged by the
    * very outliers it hunts (mean/stddev break down exactly when the
    * feed misbehaves; the median/MAD pair does not).
    *
    * Exactness without floats: medians are carried DOUBLED as the sum
    * of the two middle order statistics (`lo = (cnt+1) DIV 2`,
    * `hi = cnt DIV 2 + 1`; odd counts pick the same rank twice), so
    * `median_x2 = n@lo + n@hi` is an exact integer in both engines;
    * per-day deviation `dev_x2 = |2·n − median_x2|` is twice the true
    * deviation, `mad_x4 = dev_x2@lo + dev_x2@hi` is four times the true
    * MAD, and `score_ppm = dev_x2 · 2·10⁶ DIV max(mad_x4, 1)` cancels
    * the doubling exactly (DECIMAL multiply-then-DIV, the house
    * arithmetic).
    *
    * Shape: ONE corpus scan partial-aggregates to day counts (map-side
    * combined — the shuffled state is one long per day per partition);
    * everything after lives on the day-grain frame as window functions
    * over a SINGLE chain — no aggregate-and-join-back, which Spark
    * would replan as a second corpus scan (the v4/v5 lesson). The
    * single-partition windows hold one row per calendar day — bounded
    * by the clock (a decade ≈ 3.7k rows), not the corpus, so the shape
    * survives 100 TB unchanged.
    */
  def volumeAnomaly(spark: SparkSession, sfDir: String): DataFrame =
    volumeAnomalyOf(Tables.events(spark, sfDir))

  /** v8 over an arbitrary `(ts TIMESTAMP)` frame — injectable for the
    * randomized property spec.
    */
  private[graft] def volumeAnomalyOf(events: DataFrame): DataFrame = {
    val DayUs = 86400000000L
    scoreDayCounts(events
      .selectExpr(s"unix_micros(ts) DIV $DayUs AS day")
      .groupBy("day").agg(count(lit(1)).as("n_events")))
  }

  /** v8's scoring over an already-aggregated `(day LONG, n_events LONG)`
    * frame — the arithmetic half of the monitor, shared with the
    * streaming twin ([[graft.streaming.VolumeStream]]): the live path
    * maintains the day counts as watermarked state and calls THIS on the
    * maintained store, so the batch audit and the live monitor cannot
    * score differently.
    */
  private[graft] def scoreDayCounts(days: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    def med2Of(v: String, rn: String): Column =
      sum(when(col(rn) === expr("(cnt + 1) DIV 2"), col(v)).otherwise(0L)).over(all) +
        sum(when(col(rn) === expr("cnt DIV 2 + 1"), col(v)).otherwise(0L)).over(all)
    days
      .withColumn("cnt", count(lit(1)).over(all))
      // ties on n_events are broken by day for a deterministic PLAN; the
      // value AT a rank is tie-order-independent, so the oracle's
      // untie-broken row_number selects the same integers
      .withColumn("rn", row_number().over(Window.orderBy("n_events", "day")))
      .withColumn("median_x2", med2Of("n_events", "rn"))
      .withColumn("dev_x2", abs(lit(2L) * col("n_events") - col("median_x2")))
      .withColumn("rn2", row_number().over(Window.orderBy("dev_x2", "day")))
      .withColumn("mad_x4", med2Of("dev_x2", "rn2"))
      .withColumn("score_ppm", expr(
        "CAST(CAST(dev_x2 AS DECIMAL(38,0)) * 2000000 " +
          "DIV CAST(greatest(mad_x4, 1) AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("anomalous", col("score_ppm") > VolumeAnomalyPpm)
      .select("day", "n_events", "median_x2", "dev_x2", "mad_x4",
        "score_ppm", "anomalous")
  }

  val queries: Map[String, Q] = Map(
    "v8_volume_anomaly" -> (volumeAnomaly _),
    "v6_benford_audit" -> (benfordAudit _),
    "v7_fd_audit" -> (fdAudit _),
    "v1_expectation_suite" -> (expectationSuite _),
    "v2_referential_integrity" -> (referentialIntegrity _),
    "v3_uniqueness_profile" -> (uniquenessProfile _),
    "v4_value_drift" -> (valueDrift _),
    "v9_ks_drift" -> (ksDrift _),
    "v10_changepoint" -> (changepoint _),
    "v5_share_drift" -> (shareDrift _)
  )

  val oracle: Map[String, String] = Map(
    "v8_volume_anomaly" ->
      s"""WITH d AS (
         |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1),
         |r AS (
         |  SELECT day, n_events,
         |    row_number() OVER (ORDER BY n_events) AS rn,
         |    count(*) OVER () AS cnt
         |  FROM d),
         |med AS (
         |  SELECT CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN n_events ELSE 0 END)
         |    + sum(CASE WHEN rn = cnt // 2 + 1 THEN n_events ELSE 0 END) AS BIGINT) AS m2
         |  FROM r),
         |dev AS (
         |  SELECT day, n_events, m2 AS median_x2,
         |    abs(2 * n_events - m2) AS dev_x2
         |  FROM d CROSS JOIN med),
         |r2 AS (
         |  SELECT day, n_events, median_x2, dev_x2,
         |    row_number() OVER (ORDER BY dev_x2) AS rn,
         |    count(*) OVER () AS cnt
         |  FROM dev),
         |mad AS (
         |  SELECT CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN dev_x2 ELSE 0 END)
         |    + sum(CASE WHEN rn = cnt // 2 + 1 THEN dev_x2 ELSE 0 END) AS BIGINT) AS m4
         |  FROM r2)
         |SELECT day, n_events, median_x2, dev_x2, m4 AS mad_x4,
         |  CAST(CAST(dev_x2 AS HUGEINT) * 2000000 // greatest(m4, 1) AS BIGINT) AS score_ppm,
         |  CAST(CAST(dev_x2 AS HUGEINT) * 2000000 // greatest(m4, 1) AS BIGINT)
         |    > $VolumeAnomalyPpm AS anomalous
         |FROM dev CROSS JOIN mad""".stripMargin,
    "v6_benford_audit" -> {
      val expected = BenfordPpm.map { case (d, p) => s"($d, ${p})" }.mkString(", ")
      s"""WITH digits AS (
         |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM orders WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
         |obs AS (
         |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1),
         |t AS (SELECT sum(n) AS total FROM obs),
         |exp_t(digit, expected_ppm) AS (VALUES $expected)
         |SELECT o.digit, o.n,
         |  CAST(CAST(o.n AS HUGEINT) * 1000000 // t.total AS BIGINT) AS observed_ppm,
         |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
         |  abs(CAST(CAST(o.n AS HUGEINT) * 1000000 // t.total AS BIGINT)
         |    - e.expected_ppm) AS delta_ppm
         |FROM obs o CROSS JOIN t JOIN exp_t e ON o.digit = e.digit""".stripMargin
    },
    "v7_fd_audit" ->
      """WITH
        |f1 AS (
        |  SELECT CAST(source AS VARCHAR) AS l, CAST(lang AS VARCHAR) AS r
        |  FROM documents),
        |f2 AS (
        |  SELECT CAST(o_custkey AS VARCHAR) AS l, CAST(o_orderpriority AS VARCHAR) AS r
        |  FROM orders),
        |f3 AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS l, CAST(l_linestatus AS VARCHAR) AS r
        |  FROM lineitem),
        |f4 AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS l, CAST(c_mktsegment AS VARCHAR) AS r
        |  FROM customer),
        |g1 AS (SELECT l, count(DISTINCT r) AS nd FROM f1 GROUP BY l),
        |g2 AS (SELECT l, count(DISTINCT r) AS nd FROM f2 GROUP BY l),
        |g3 AS (SELECT l, count(DISTINCT r) AS nd FROM f3 GROUP BY l),
        |g4 AS (SELECT l, count(DISTINCT r) AS nd FROM f4 GROUP BY l)
        |SELECT 'documents: source->lang' AS fd,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT) AS n_violating,
        |  CAST(CAST(count(*) FILTER (WHERE nd > 1) AS HUGEINT) * 1000000
        |    // count(*) AS BIGINT) AS violation_ppm
        |FROM g1
        |UNION ALL
        |SELECT 'orders: o_custkey->o_orderpriority', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT),
        |  CAST(CAST(count(*) FILTER (WHERE nd > 1) AS HUGEINT) * 1000000
        |    // count(*) AS BIGINT)
        |FROM g2
        |UNION ALL
        |SELECT 'lineitem: l_orderkey->l_linestatus', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT),
        |  CAST(CAST(count(*) FILTER (WHERE nd > 1) AS HUGEINT) * 1000000
        |    // count(*) AS BIGINT)
        |FROM g3
        |UNION ALL
        |SELECT 'customer: c_nationkey->c_mktsegment', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE nd > 1) AS BIGINT),
        |  CAST(CAST(count(*) FILTER (WHERE nd > 1) AS HUGEINT) * 1000000
        |    // count(*) AS BIGINT)
        |FROM g4""".stripMargin,
    "v1_expectation_suite" ->
      s"""WITH ev AS (
         |  SELECT count(*) AS n, count(props) AS nn_props,
         |    count(DISTINCT event_id) AS u_event,
         |    count(DISTINCT user_id) AS u_user,
         |    count(*) FILTER (WHERE value >= 0 AND value < 500) AS in_range,
         |    count(*) FILTER (WHERE value < 100) AS lt100,
         |    count(*) FILTER (WHERE event_type IN ('click','error','purchase','signup','view')) AS type_ok
         |  FROM events),
         |li AS (
         |  SELECT count(*) AS n,
         |    count(*) FILTER (WHERE l_discount >= 0 AND l_discount <= 0.1) AS disc_ok,
         |    count(*) FILTER (WHERE l_quantity >= 1 AND l_quantity <= 50) AS qty_ok
         |  FROM lineitem),
         |ord AS (
         |  SELECT count(*) AS n,
         |    count(*) FILTER (WHERE o_orderstatus IN ('O','F','P')) AS st_ok,
         |    count(*) FILTER (WHERE o_totalprice > 0) AS tp_pos
         |  FROM orders),
         |doc AS (
         |  SELECT count(*) AS n,
         |    count(*) FILTER (WHERE n_chars = length(text)) AS nc_ok,
         |    count(*) FILTER (WHERE lang IN ('en','de','fr','es','zh')) AS lang_ok
         |  FROM documents),
         |m AS (
         |  SELECT 'completeness_events_props' AS constraint_name,
         |    ${opp("nn_props", "n")} AS metric_ppm, $Ppm AS threshold_ppm FROM ev
         |  UNION ALL SELECT 'uniqueness_events_event_id', ${opp("u_event", "n")}, $Ppm FROM ev
         |  UNION ALL SELECT 'uniqueness_events_user_id', ${opp("u_user", "n")}, 900000 FROM ev
         |  UNION ALL SELECT 'compliance_events_value_range', ${opp("in_range", "n")}, $Ppm FROM ev
         |  UNION ALL SELECT 'compliance_events_value_lt100', ${opp("lt100", "n")}, 500000 FROM ev
         |  UNION ALL SELECT 'accepted_events_type', ${opp("type_ok", "n")}, $Ppm FROM ev
         |  UNION ALL SELECT 'compliance_lineitem_discount', ${opp("disc_ok", "n")}, $Ppm FROM li
         |  UNION ALL SELECT 'compliance_lineitem_quantity', ${opp("qty_ok", "n")}, $Ppm FROM li
         |  UNION ALL SELECT 'accepted_orders_status', ${opp("st_ok", "n")}, $Ppm FROM ord
         |  UNION ALL SELECT 'compliance_orders_totalprice_pos', ${opp("tp_pos", "n")}, $Ppm FROM ord
         |  UNION ALL SELECT 'consistency_documents_nchars', ${opp("nc_ok", "n")}, $Ppm FROM doc
         |  UNION ALL SELECT 'accepted_documents_lang', ${opp("lang_ok", "n")}, $Ppm FROM doc)
         |SELECT constraint_name, metric_ppm, CAST(threshold_ppm AS BIGINT) AS threshold_ppm,
         |  metric_ppm >= threshold_ppm AS passed FROM m""".stripMargin,
    "v2_referential_integrity" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |  CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  CAST(count(*) AS BIGINT), CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  CAST(count(*) AS BIGINT), CAST(count(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
        |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  CAST(count(*) AS BIGINT), CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        |  CAST(count(*) AS BIGINT), CAST(count(*) FILTER (WHERE nn.n_nationkey IS NULL) AS BIGINT)
        |FROM customer c LEFT JOIN nation nn ON c.c_nationkey = nn.n_nationkey""".stripMargin,
    "v3_uniqueness_profile" ->
      """SELECT 'events' AS relation, 'event_id' AS key_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_keys,
        |  CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_surplus
        |FROM events
        |UNION ALL
        |SELECT 'events', 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT user_id) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'orders', 'o_orderkey', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'customer', 'c_custkey', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT c_custkey) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'documents', 'doc_id', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT doc_id) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'lineitem', 'l_orderkey,l_linenumber', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |FROM lineitem""".stripMargin,
    "v10_changepoint" ->
      """WITH daily AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, n_events,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
        |    CAST(sum(n_events) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(count(*) OVER () AS BIGINT) AS d_days,
        |    CAST(sum(n_events) OVER () AS BIGINT) AS n_total
        |  FROM daily),
        |c AS (
        |  SELECT day, n_events,
        |    d_days * cum - k * n_total AS cusum,
        |    CAST(CAST(abs(d_days * cum - k * n_total) AS HUGEINT) * 1000000
        |      // (CAST(d_days AS HUGEINT) * n_total) AS BIGINT)
        |      AS strength_ppm
        |  FROM w),
        |m AS (SELECT max(strength_ppm) AS mx FROM c),
        |cp AS (SELECT min(day) AS cp_day FROM c, m WHERE strength_ppm = mx)
        |SELECT day, n_events, cusum, strength_ppm,
        |  day = cp_day AS is_changepoint
        |FROM c, cp""".stripMargin,
    "v9_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
        |c AS (
        |  SELECT event_type, v,
        |    CAST(sum(CASE WHEN us < mid_us THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_old,
        |    CAST(sum(CASE WHEN us >= mid_us THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new
        |  FROM ev CROSS JOIN mid GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, v,
        |    CAST(sum(n_old) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_old,
        |    CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_new,
        |    CAST(sum(n_old) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS t_old,
        |    CAST(sum(n_new) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS t_new
        |  FROM c),
        |agg AS (
        |  SELECT event_type, max(t_old) AS n_old, max(t_new) AS n_new,
        |    CAST(max(abs(CAST(cum_old AS HUGEINT) * 1000000 // t_old
        |      - CAST(cum_new AS HUGEINT) * 1000000 // t_new)) AS BIGINT)
        |      AS ks_ppm
        |  FROM w WHERE t_old > 0 AND t_new > 0 GROUP BY 1)
        |SELECT event_type, n_old, n_new, ks_ppm, ks_ppm > 50000 AS drifted
        |FROM agg""".stripMargin,
    "v4_value_drift" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
        |counts AS (
        |  SELECT CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bin,
        |    CAST(count(*) FILTER (WHERE us < mid_us) AS BIGINT) AS n_old,
        |    CAST(count(*) FILTER (WHERE us >= mid_us) AS BIGINT) AS n_new
        |  FROM ev CROSS JOIN mid GROUP BY 1),
        |tot AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new FROM counts)
        |SELECT bin, n_old, n_new,
        |  CAST(CAST(n_old AS HUGEINT) * 1000000 // t_old AS BIGINT) AS share_old_ppm,
        |  CAST(CAST(n_new AS HUGEINT) * 1000000 // t_new AS BIGINT) AS share_new_ppm,
        |  abs(CAST(CAST(n_old AS HUGEINT) * 1000000 // t_old AS BIGINT)
        |    - CAST(CAST(n_new AS HUGEINT) * 1000000 // t_new AS BIGINT)) AS delta_ppm
        |FROM counts CROSS JOIN tot""".stripMargin,
    "v5_share_drift" ->
      """WITH wt AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |pw AS (SELECT week, sum(n) AS week_total FROM wt GROUP BY 1),
        |pt AS (SELECT event_type, sum(n) AS type_total FROM wt GROUP BY 1),
        |g AS (SELECT sum(n) AS grand_total FROM wt)
        |SELECT wt.week, wt.event_type, wt.n,
        |  CAST(CAST(wt.n AS HUGEINT) * 1000000 // pw.week_total AS BIGINT) AS week_share_ppm,
        |  CAST(CAST(pt.type_total AS HUGEINT) * 1000000 // g.grand_total AS BIGINT) AS overall_share_ppm,
        |  abs(CAST(CAST(wt.n AS HUGEINT) * 1000000 // pw.week_total AS BIGINT)
        |    - CAST(CAST(pt.type_total AS HUGEINT) * 1000000 // g.grand_total AS BIGINT)) AS delta_ppm
        |FROM wt JOIN pw USING (week) JOIN pt USING (event_type) CROSS JOIN g""".stripMargin
  )

  /** DuckDB-side exact ppm (HUGEINT multiply then floor-div). */
  private def opp(num: String, den: String): String =
    s"CAST(CAST($num AS HUGEINT) * $Ppm // $den AS BIGINT)"
}
