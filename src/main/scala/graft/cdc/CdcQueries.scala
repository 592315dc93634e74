package graft.cdc

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verifiable queries for the CDC operator set (SURVEY.md §2
  * O1-O13). Each entry has matching DuckDB oracle SQL in [[oracle]];
  * column names are aligned between the Spark plan and the SQL because the
  * driver's comparator sorts columns by name before hashing.
  *
  * The testdata `events` table plays the change stream: `event_id` = seq
  * (Kafka offset / WAL LSN), `user_id` = key, `event_type` = op
  * (`error` → delete, `signup` → insert, rest → update).
  */
object CdcQueries {

  type Q = (SparkSession, String) => DataFrame

  /** O1 — CDC source scan: the raw change feed normalized to the internal
    * event model (seq, key, op, payload). Pure projection; no shuffle.
    */
  def cdcScan(spark: SparkSession, sfDir: String): DataFrame =
    CdcModel.fromEvents(Tables.events(spark, sfDir))

  /** O2 — insert writer: the generated inserts, `RETURNING`-style. */
  def insertWriter(spark: SparkSession, sfDir: String): DataFrame =
    Producer.events(spark).filter(col("op") === "c")

  /** O3 — update writer: generated point updates of `phone` by key. */
  def updateWriter(spark: SparkSession, sfDir: String): DataFrame =
    Producer.events(spark).filter(col("op") === "u")
      .select(col("seq"), col("key"), col("phone"))

  /** O4 — delete writer: generated deletes, `RETURNING id`. */
  def deleteWriter(spark: SparkSession, sfDir: String): DataFrame =
    Producer.events(spark).filter(col("op") === "d")
      .select(col("seq"), col("key"))

  /** O5 — envelope unwrap: project the post-image for upserts, null
    * payload for deletes (`ExtractNewRecordState` analog).
    */
  def unwrapQ(spark: SparkSession, sfDir: String): DataFrame =
    CdcModel.fromEvents(Tables.events(spark, sfDir)).select(
      col("seq"), col("key"), col("op"),
      when(col("op") === "d", lit(null).cast("double")).otherwise(col("value")).as("value"),
      when(col("op") === "d", lit(null).cast("string")).otherwise(col("props")).as("props"))

  /** O6 — delete rewrite: deletes surface as records carrying the key
    * (`delete.handling.mode=rewrite` analog), not as absences.
    */
  def deleteRewrite(spark: SparkSession, sfDir: String): DataFrame =
    CdcModel.fromEvents(Tables.events(spark, sfDir))
      .filter(col("op") === "d")
      .select(col("seq"), col("key"), col("op"), col("ts"))

  /** O7 — key extraction (`ValueToKey` SMT): Kafka key := row key, as a
    * string, alongside the record. Write-side shape.
    */
  def keyExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("user_id").cast("string").as("kafka_key"),
      col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** O8 — JSON round-trip: serialize a record to a JSON wire string with
    * deterministic field order, then extract fields back out — the
    * JsonConverter-both-sides analog. Concatenation (not to_json) keeps
    * the bytes identical between Spark and the DuckDB oracle.
    */
  def jsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val wired = Tables.events(spark, sfDir).select(
      col("event_id"),
      concat(lit("{\"id\":"), col("user_id").cast("string"),
        lit(",\"k\":"), get_json_object(col("props"), "$.k"), lit("}")).as("wire"))
    wired.select(
      col("event_id"), col("wire"),
      get_json_object(col("wire"), "$.id").cast("long").as("id"),
      get_json_object(col("wire"), "$.k").cast("int").as("k"))
  }

  /** O9 — op branch: the consumer's three-way dispatch
    * (tombstone / delete / upsert) as a branch count.
    */
  def opBranch(spark: SparkSession, sfDir: String): DataFrame =
    CdcModel.fromEvents(Tables.events(spark, sfDir))
      .withColumn("branch",
        when(col("props").isNull, "tombstone")
          .when(col("op") === "d", "delete")
          .otherwise("upsert"))
      .groupBy("branch").agg(count(lit(1)).as("n"))

  /** O10 — the flagship materialization: latest non-deleted row per key. */
  def materialize(spark: SparkSession, sfDir: String): DataFrame =
    Materialize.customerView(Tables.events(spark, sfDir))

  /** O11 — schema DDL / ensure-exists: the declared sink mapping as data
    * (`ensure_index` analog, `consumer_to_opensearch.py:8-34`). Constant —
    * the single source of truth the reference declared three times.
    */
  def schemaDdl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    CdcModel.customerSchema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("col_name", "col_type", "is_nullable")
  }

  /** O12 — limit-1 peek from the earliest offset (`peek.py:7-25`). */
  def peek(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .orderBy(col("event_id")).limit(1)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** O13 — at-least-once redelivery made exactly-once: duplicate a slice
    * of the stream (consumer-group replay analog), then dedup by offset.
    * `dropDuplicates("event_id")` is safe because redelivered records are
    * byte-identical — same guarantee the reference leans on
    * (`consumer_to_opensearch.py:59-62` + idempotent upsert).
    */
  def redeliveryDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    ev.union(ev.filter(col("event_id") % 10 === 0))
      .dropDuplicates("event_id")
  }

  /** The O10 view AS OF `cutoff` (an ISO local date-time), rebuilt from
    * the events before it: the event log IS the history, so any past
    * state is a filter away. The cutoff compares the RAW stored
    * TIMESTAMP_NTZ column against an NTZ literal, before the canonical
    * TIMESTAMP cast, so it reaches the parquet scan as a pushed filter
    * and the rebuild reads only the prefix's rowgroups — a predicate on
    * the cast column could never push. `payloadCols` prunes as in
    * [[Materialize.customerView]].
    */
  def customerViewAsof(spark: SparkSession, sfDir: String, cutoff: String,
      payloadCols: Seq[String] = Materialize.CustomerPayload): DataFrame =
    Materialize.customerView(Tables.eventsRaw(spark, sfDir)
      .filter(col("ts") < lit(java.time.LocalDateTime.parse(cutoff)))
      .withColumn("ts", col("ts").cast("timestamp")), payloadCols)

  /** O14 — snapshot-as-of (time travel): the O10 view at a past instant,
    * [[customerViewAsof]] (the batch counterpart of
    * [[graft.ext.Temporal.scd2History]], which materializes ALL states
    * as intervals).
    */
  def snapshotAsof(spark: SparkSession, sfDir: String): DataFrame =
    customerViewAsof(spark, sfDir, "2024-01-10T00:00:00")

  /** O15 — schema enforcement + dead-letter routing: the wire is parsed
    * with `from_json` against the declared schema; records that fail to
    * parse surface with a `dlq` status and a null payload instead of
    * crashing the pipeline or silently vanishing (the reference's
    * schema-less consumer would throw on malformed JSON,
    * `consumer_to_opensearch.py:60`). Every 13th event's wire is
    * deliberately corrupted to exercise the path; at scale the dlq
    * branch writes to a quarantine sink for replay.
    *
    * Validity = the corrupt-record column is null. PERMISSIVE
    * `from_json` yields a null-FIELDED row for malformed input (not a
    * null struct), so testing a data field would misroute legitimately
    * null/missing fields; the corrupt-record column is the actual parse
    * signal — `{"k": null}` stays `ok`, only unparseable wire goes to
    * the dead letter.
    */
  def dlqRoute(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k INT, _corrupt STRING")
    val opts = Map("columnNameOfCorruptRecord" -> "_corrupt")
    val wired = Tables.events(spark, sfDir).select(
      col("event_id"),
      when(col("event_id") % 13 === 0, concat(lit("{broken"), col("props")))
        .otherwise(col("props")).as("wire"))
    wired.select(
      col("event_id"),
      from_json(col("wire"), schema, opts).as("parsed"))
      .select(col("event_id"),
        when(col("parsed._corrupt").isNotNull, "dlq").otherwise("ok").as("status"),
        col("parsed.k").as("k"))
  }

  /** O16 — changelog compaction: rewrite the event log keeping only the
    * last `keep` versions per key — Kafka log compaction generalized
    * from keep-latest (that limit is exactly O10's materialization) to
    * keep-N, the bounded-history retention a CDC store actually runs so
    * the log's size tracks the live-key set, not all history. Plans as
    * WindowGroupLimit: each partition discards beyond-k rows BEFORE the
    * exchange, so the shuffle carries at most k rows per key — at 100 TB
    * the compaction writes amplify by retained versions, never by
    * history length.
    */
  def logCompact(spark: SparkSession, sfDir: String, keep: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= keep)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
  }

  /** O17 — incremental view maintenance: the dashboard aggregate (live
    * keys per latest event type — Q1's shape) maintained from a CDC
    * delta instead of recomputed. A running system stores the base view
    * and its aggregate; when a delta batch arrives it touches ONLY the
    * affected keys: retract their old contributions, re-materialize just
    * those keys over the log, re-add the new contributions, and fold the
    * signed deltas into the stored aggregate. At 100 TB this is the
    * difference between shuffling the live-key set per refresh and
    * shuffling the delta's key set — the whole point of capturing
    * changes rather than snapshots (the reference's pipeline exists to
    * avoid re-reading the source table; this extends the same economy to
    * the serving aggregate). The oracle is the FULL recompute, so the
    * hash match proves maintenance ≡ recomputation.
    */
  def incrementalAgg(spark: SparkSession, sfDir: String,
      cutoff: Long = 8000): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val base = ev.filter(col("event_id") <= cutoff)
    val delta = ev.filter(col("event_id") > cutoff)
    // the stored state of the running system: base view + its aggregate
    // (localCheckpoint = the local stand-in for the stored table)
    val v0 = Materialize.customerView(base, Seq("event_type")).localCheckpoint()
    val a0 = v0.groupBy("event_type").agg(count(lit(1)).as("d"))
    val keys = delta.select("user_id").distinct()
    val retract = v0.join(keys, Seq("user_id"), "left_semi")
      .groupBy("event_type").agg((count(lit(1)) * lit(-1L)).as("d"))
    val readd = Materialize
      .customerView(ev.join(keys, Seq("user_id"), "left_semi"), Seq("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("d"))
    a0.unionByName(retract).unionByName(readd)
      .groupBy("event_type").agg(sum("d").as("n_keys"))
      .filter(col("n_keys") > 0)
  }

  /** O18 — the reference's SKIPPED bonus, built: secure data sharing.
    * The challenge provisions a `cdc-sharing` topic it never uses
    * (`terraform/main.tf:75-92`) and a `classification IN
    * ('public','private')` CHECK whose whole purpose is share gating
    * (`setup_cdc.pgsql:7`, `README.md:6`). The share view an external
    * audience receives applies, over the materialized state — never the
    * raw log:
    *   - a ROW policy: only shareable classes pass (here: the
    *     `click`/`view` interaction types play `public`);
    *   - key PSEUDONYMIZATION: the stable keyed hash replaces the key,
    *     so the audience can join their own share-side data but cannot
    *     recover ids;
    *   - GENERALIZATION of quasi-identifiers: timestamps to day,
    *     values floored to integers.
    * All three are scan-level projections/filters — the gate costs
    * nothing at scale and composes with any downstream query.
    */
  def shareGate(spark: SparkSession, sfDir: String): DataFrame =
    shareGateOf(Materialize.customerView(Tables.events(spark, sfDir)))

  /** The o18 gate over an arbitrary materialized view frame — shared
    * verbatim by the batch query above and the STREAMING publish sink
    * ([[graft.streaming.StreamApply.shareGateSink]]), so both paths
    * apply byte-identical policy (a drifted copy would let the stream
    * publish what the batch gate redacts).
    */
  private[graft] def shareGateOf(view: DataFrame): DataFrame =
    view.filter(sharePasses).select(shareProjection: _*)

  /** The row policy: which interaction types are shareable. */
  private[graft] def sharePasses =
    col("event_type").isin("click", "view")

  /** Pseudonymization + generalization, as named columns. */
  private[graft] def shareProjection: Seq[org.apache.spark.sql.Column] = Seq(
    graft.ext.Portable.tokenHash(col("user_id").cast("string")).as("user_token"),
    col("event_type"),
    date_trunc("day", col("ts")).as("day"),
    floor(col("value")).cast("long").as("value_floor"))

  /** o26 — SHARE MANIFEST: the verification artifact that completes the
    * sharing story (reference: topic `cdc-sharing` provisioned for the
    * skipped "secure data sharing" bonus, `terraform/main.tf:75-92`).
    * o18 decides WHAT leaves (gate + pseudonymize); the manifest is how
    * the RECIPIENT proves what arrived is exactly what was published:
    * per user-token shard, the row count and an additive checksum — the
    * sum of a portable per-row hash over the shared columns. Additive
    * means ORDER-INDEPENDENT and MERGEABLE: partial sums per file/
    * partition combine by addition (map-side combine IS the
    * verification at scale), and a consumer recomputes the same numbers
    * from the received parquet with no coordination. Any dropped,
    * duplicated, or altered row moves some shard's (count, checksum).
    *
    * Arithmetic: row hash < 2^31, so a plain long sum is exact to ~4·10⁹
    * rows per shard (switch the sum to DECIMAL(38,0) past that). Day
    * enters the hash as epoch-µs, not a rendered timestamp — engine
    * string formats diverge; integers don't.
    */
  def shareManifest(spark: SparkSession, sfDir: String): DataFrame =
    shareManifestOf(shareGate(spark, sfDir))

  /** The manifest over an arbitrary SHARED frame (o18's output shape) —
    * shared by the batch query and any publish path that wants to stamp
    * its outgoing batch.
    */
  private[graft] def shareManifestOf(shared: DataFrame): DataFrame =
    shared
      .select(
        graft.ext.Portable.tokenHash(concat_ws("|",
          col("user_token").cast("string"),
          col("event_type"),
          unix_micros(col("day")).cast("string"),
          col("value_floor").cast("string"))).as("rh"),
        (col("user_token") % 16).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum("rh").as("checksum"))

  /** O19 — additive schema evolution on the wire: Debezium emits the
    * NEW shape the moment the source table gains a column, while the
    * log's history keeps the old shape forever — so a consumer must
    * read BOTH with one schema. The Spark answer is the lakehouse one:
    * parse with the LATEST (widest) schema and let absent fields
    * surface as nulls (the old records' default), never rewriting
    * history and never branching the pipeline per generation. Here
    * every third event carries the evolved wire (an added `region`
    * field); one `from_json` against the wide schema handles both, and
    * the oracle hash-match proves old-generation rows come out with
    * exactly-null evolution columns.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val gen2 = col("event_id") % 3 === 0
    val wired = Tables.events(spark, sfDir).select(
      col("event_id"),
      when(gen2,
        concat(lit("{\"k\":"), get_json_object(col("props"), "$.k"),
          lit(",\"region\":\"r"), (col("user_id") % 4).cast("string"), lit("\"}")))
        .otherwise(concat(lit("{\"k\":"),
          get_json_object(col("props"), "$.k"), lit("}"))).as("wire"))
    val wide = org.apache.spark.sql.types.StructType
      .fromDDL("k INT, region STRING")
    wired
      .select(col("event_id"), from_json(col("wire"), wide).as("p"))
      .select(col("event_id"), col("p.k").as("k"), col("p.region").as("region"),
        when(col("p.region").isNotNull, 2).otherwise(1)
          .cast("int").as("schema_gen"))
  }

  /** O20 — field-level change audit + no-op update suppression: for
    * every event with a predecessor on its key, diff the record against
    * that predecessor and emit WHICH fields changed; events whose
    * payload is byte-identical to the previous version (redeliveries,
    * no-op writes) drop out entirely. Debezium computes exactly this
    * diff to build `before`/`after` images; downstream, suppressing
    * no-op updates is what keeps a 100 TB CDC pipeline's write
    * amplification proportional to real change, not to upstream write
    * traffic. One window over the key partition — the diff never
    * re-reads history, and the comparison is null-safe (`<=>` here,
    * `IS DISTINCT FROM` in the oracle) so null→value and value→null
    * transitions count as changes.
    */
  def changedColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    val diffs = Seq("event_type", "value", "props")
    val ev = Tables.events(spark, sfDir)
      .withColumn("p_seq", lag("event_id", 1).over(w))
    val withPrev = diffs.foldLeft(ev)((d, c) =>
      d.withColumn(s"p_$c", lag(c, 1).over(w)))
    val changed = diffs.map(c => when(!(col(c) <=> col(s"p_$c")), c))
    val nChanged = diffs.map(c => (!(col(c) <=> col(s"p_$c"))).cast("long"))
      .reduce(_ + _)
    withPrev
      .filter(col("p_seq").isNotNull) // first version has no predecessor
      .withColumn("changed_cols", concat_ws(",", changed: _*))
      .withColumn("n_changed", nChanged)
      .filter(col("n_changed") > 0) // no-op suppression
      .select(col("event_id").as("seq"), col("user_id").as("key"),
        col("changed_cols"), col("n_changed"))
  }

  /** o21 — snapshot DIFF between two time-travel points: which keys were
    * added, removed, or re-versioned between the t1 and t2 views of the
    * changelog — the table-history operator (Delta/Iceberg `DESCRIBE
    * HISTORY` + CDF diff) the reference's OpenSearch index cannot answer
    * at all (it holds only the latest state; the Kafka log holds the
    * history — `terraform/main.tf:61` retains 1 GB of it for exactly this
    * kind of replay).
    *
    * Shape: two cutoff-filtered materializations (each cutoff pushes into
    * the scan as an NTZ predicate, rowgroup-prunable — see
    * [[customerViewAsof]]) feeding one FULL OUTER join on the key. Both sides
    * hash-partition on `user_id` for their latest-per-key window, and the
    * join reuses that co-partitioning — at 100 TB: two pruned scans, two
    * narrow shuffles, no extra exchange for the join.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val s1 = customerViewAsof(spark, sfDir, "2024-01-10T00:00:00")
      .select(col("user_id"), col("event_id").as("old_seq"))
    val s2 = customerViewAsof(spark, sfDir, "2024-01-20T00:00:00")
      .select(col("user_id"), col("event_id").as("new_seq"))
    s1.join(s2, Seq("user_id"), "full_outer")
      .withColumn("change",
        when(col("old_seq").isNull, "added")
          .when(col("new_seq").isNull, "removed")
          .when(col("old_seq") =!= col("new_seq"), "changed"))
      .filter(col("change").isNotNull) // unchanged keys drop out
      .select(col("user_id"), col("change"), col("old_seq"), col("new_seq"))
  }

  /** o23 — REPLICATION-LAG / staleness audit: how far behind the stream
    * head each key's latest event sits, bucketed into hour bands — the
    * per-key freshness histogram a CDC operator watches (the reference
    * assumes freshness from Kafka's consumer lag metric; an engine that
    * materializes per-key state can measure it from the data). The
    * stream-head watermark is a one-row global aggregate joined back as
    * a broadcast literal (never a per-row re-aggregation); lag math is
    * exact integer MICROS (the column's stored precision) — the per-key
    * max and the global max ride one shuffle on user_id + one tiny
    * rollup.
    */
  def replicationLag(spark: SparkSession, sfDir: String): DataFrame = {
    val perKey = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(max(unix_micros(col("ts"))).as("key_ts"))
    val head = perKey.agg(max("key_ts").as("head_ts"))
    perKey.join(broadcast(head))
      // integer DIV, never `/`: long `/` promotes to double, and a
      // quotient landing on an hour boundary can round to x.9999…,
      // flooring into the wrong band vs the oracle's exact `//`
      .withColumn("lag_hours",
        expr("(head_ts - key_ts) DIV 3600000000"))
      .groupBy("lag_hours")
      .agg(count(lit(1)).as("n_keys"))
  }

  /** o22 — ARRIVAL-ORDER AUDIT: per key, how often event time runs
    * BACKWARD relative to apply order (seq), and the worst skew — the
    * operational "is my CDC feed reordering?" dashboard. The reference
    * leans on a single partition for per-key total order
    * (`terraform/main.tf:79`); once an engine carries an explicit seq,
    * arrival-vs-event-time inversions become measurable instead of
    * assumed away. One lag window over the key-partitioned stream (the
    * same single shuffle as o20), then a per-key rollup; skew stays in
    * exact integer microseconds on both engines.
    */
  def orderAudit(spark: SparkSession, sfDir: String): DataFrame =
    orderAuditFrom(Tables.events(spark, sfDir))

  /** Core of o22 over any (user_id, event_id, ts) frame — split out so the
    * unit test can feed a synthetic stream with KNOWN inversions
    * (`OrderAuditSpec`): the registry testdata happens to contain zero
    * arrival-order inversions, so the audit emits a health row for every
    * key WITH AT LEAST TWO EVENTS (n_inversions >= 0; a single-event key
    * has no ordered step to audit and emits nothing) rather than
    * filtering to inverted keys only — a filtered form would make the
    * oracle comparison empty-vs-empty and prove nothing about the lag
    * window.
    */
  def orderAuditFrom(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
    events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("p_ts", lag("ts", 1).over(w))
      .filter(col("p_ts").isNotNull)
      .withColumn("skew_us",
        unix_micros(col("p_ts")) - unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_steps"),
        sum(when(col("skew_us") > 0, 1L).otherwise(0L)).as("n_inversions"),
        greatest(max("skew_us"), lit(0L)).as("max_skew_us"))
  }

  /** o24 — KEY-MIGRATION audit: when a row's business key changes,
    * logical replication emits delete(old_key) + insert(new_key) with
    * the same payload close together in the log — the classic
    * "UPDATE of a primary key" wire pattern (Debezium documents exactly
    * this decomposition; the reference's consumer would silently leave
    * the old document behind). This audit pairs every delete with the
    * NEAREST following insert carrying an identical payload fingerprint
    * within a bounded seq window, surfacing re-key candidates.
    *
    * Scale shape: candidates join on (payload, seq-block) — the delete
    * side posts under its block and the next (window ≤ one block width),
    * so a HOT payload value never pairs across the whole log: per-block
    * candidate counts are bounded by the window's event budget, the
    * banded-join discipline (x23/d3) applied to the log axis. The
    * nearest-insert argmin is an associative `min(struct(gap, seq,
    * key))` — map-side combinable, one shuffle. Window W = 200 seqs.
    */
  def keyMigration(spark: SparkSession, sfDir: String): DataFrame =
    keyMigrationFrom(Tables.events(spark, sfDir))

  /** Core of o24 over any (event_id, user_id, event_type, props) frame —
    * split out so `KeyMigrationSpec` can prove the pairing on a
    * synthetic log with KNOWN re-keys (window edges, nearest-of-many,
    * same-key exclusion, insert-before-delete).
    */
  def keyMigrationFrom(events: DataFrame): DataFrame = {
    val W = 200L
    val ev = events
      .select(col("event_id"), col("user_id"), col("event_type"), col("props"))
    val dels = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("d_seq"), col("user_id").as("old_key"),
        col("props"),
        explode(array(expr(s"event_id DIV $W"), expr(s"event_id DIV $W + 1")))
          .as("blk"))
    val ins = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("c_seq"), col("user_id").as("new_key"),
        col("props"), expr(s"event_id DIV $W").as("blk"))
    dels.join(ins, Seq("props", "blk"))
      .filter(col("c_seq") > col("d_seq") &&
        col("c_seq") - col("d_seq") <= W &&
        col("old_key") =!= col("new_key"))
      .groupBy(col("d_seq"), col("old_key"))
      .agg(min(struct((col("c_seq") - col("d_seq")).as("gap"),
        col("c_seq"), col("new_key"))).as("best"))
      .select(col("d_seq"), col("old_key"),
        col("best.new_key").as("new_key"),
        col("best.c_seq").as("c_seq"),
        col("best.gap").as("gap"))
  }

  /** o25 — SEQUENCE-GAP audit: per fixed-width seq block, how many
    * offsets inside the observed [min, max] span are MISSING — the
    * "did we lose events?" check a CDC consumer runs against its
    * offset ledger (the reference trusts Kafka's contiguous offsets;
    * an engine auditing a materialized log must measure). Emits every
    * block as a health row (n_missing >= 0, o22's non-vacuity
    * discipline) — the registry testdata is gap-free, and
    * `SeqGapSpec` proves gap detection on a synthetic gapped log.
    *
    * Scale shape: NO global sort and NO global window — blocks
    * aggregate independently (one shuffle on the block id, map-side
    * combinable min/max/count), so a 100 TB log audits at full
    * parallelism. Within a block, missing = span − present, which
    * needs no per-offset materialization at all; distinct-counting
    * guards against redelivered duplicates inflating `present`.
    */
  def seqGaps(spark: SparkSession, sfDir: String): DataFrame =
    seqGapsFrom(Tables.events(spark, sfDir))

  /** Core of o25 over any frame with an `event_id` offset column. */
  def seqGapsFrom(events: DataFrame): DataFrame = {
    val B = 1000L
    events
      .select(col("event_id"), expr(s"event_id DIV $B").as("blk"))
      .groupBy("blk")
      .agg(min("event_id").as("first_seq"),
        max("event_id").as("last_seq"),
        countDistinct("event_id").as("n_present"))
      .withColumn("n_missing",
        col("last_seq") - col("first_seq") + 1L - col("n_present"))
  }

  val queries: Map[String, Q] = Map(
    "o25_seq_gaps" -> (seqGaps _),
    "o24_key_migration" -> (keyMigration _),
    "o23_replication_lag" -> (replicationLag _),
    "o22_order_audit" -> (orderAudit _),
    "o01_cdc_scan" -> (cdcScan _),
    "o02_insert_writer" -> (insertWriter _),
    "o03_update_writer" -> (updateWriter _),
    "o04_delete_writer" -> (deleteWriter _),
    "o05_unwrap" -> (unwrapQ _),
    "o06_delete_rewrite" -> (deleteRewrite _),
    "o07_key_extract" -> (keyExtract _),
    "o08_json_roundtrip" -> (jsonRoundtrip _),
    "o09_op_branch" -> (opBranch _),
    "o10_materialize" -> (materialize _),
    "o11_schema_ddl" -> (schemaDdl _),
    "o12_peek" -> (peek _),
    "o13_redelivery_dedup" -> (redeliveryDedup _),
    "o14_snapshot_asof" -> (snapshotAsof _),
    "o15_dlq_route" -> (dlqRoute _),
    "o16_log_compact" -> ((s, d) => logCompact(s, d)),
    "o17_incremental_agg" -> ((s, d) => incrementalAgg(s, d)),
    "o18_share_gate" -> (shareGate _),
    "o26_share_manifest" -> (shareManifest _),
    "o19_schema_evolution" -> (schemaEvolution _),
    "o20_changed_columns" -> (changedColumns _),
    "o21_snapshot_diff" -> (snapshotDiff _)
  )

  private val opCase =
    """CASE WHEN event_type = 'error' THEN 'd'
      |     WHEN event_type = 'signup' THEN 'c'
      |     ELSE 'u' END""".stripMargin

  val oracle: Map[String, String] = Map(
    "o25_seq_gaps" ->
      """SELECT event_id // 1000 AS blk,
        |  min(event_id) AS first_seq, max(event_id) AS last_seq,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_present,
        |  max(event_id) - min(event_id) + 1
        |    - CAST(count(DISTINCT event_id) AS BIGINT) AS n_missing
        |FROM events
        |GROUP BY 1""".stripMargin,
    // the oracle states the UNBLOCKED definition (all same-payload pairs
    // within the window, nearest insert per delete) — a hash match
    // proves the seq-block banding loses no pair, the same
    // blocking-completeness argument as x23's brute-force oracle
    "o24_key_migration" ->
      """WITH d AS (
        |  SELECT event_id AS d_seq, user_id AS old_key, props
        |  FROM events WHERE event_type = 'error'),
        |c AS (
        |  SELECT event_id AS c_seq, user_id AS new_key, props
        |  FROM events WHERE event_type = 'signup'),
        |cand AS (
        |  SELECT d.d_seq, d.old_key, c.c_seq, c.new_key,
        |    c.c_seq - d.d_seq AS gap,
        |    row_number() OVER (PARTITION BY d.d_seq ORDER BY c.c_seq) AS rk
        |  FROM d JOIN c ON d.props = c.props
        |    AND c.c_seq > d.d_seq AND c.c_seq - d.d_seq <= 200
        |    AND d.old_key <> c.new_key)
        |SELECT d_seq, old_key, new_key, c_seq, gap
        |FROM cand WHERE rk = 1""".stripMargin,
    "o23_replication_lag" ->
      """WITH perkey AS (
        |  SELECT user_id, max(epoch_us(CAST(ts AS TIMESTAMP))) AS key_ts
        |  FROM events GROUP BY user_id),
        |h AS (SELECT max(key_ts) AS head_ts FROM perkey)
        |SELECT (h.head_ts - p.key_ts) // 3600000000 AS lag_hours,
        |  count(*) AS n_keys
        |FROM perkey p CROSS JOIN h
        |GROUP BY 1""".stripMargin,
    "o22_order_audit" ->
      """WITH steps AS (
        |  SELECT user_id,
        |    epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER (
        |      PARTITION BY user_id ORDER BY event_id))
        |      - epoch_us(CAST(ts AS TIMESTAMP)) AS skew_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_steps,
        |  CAST(sum(CASE WHEN skew_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inversions,
        |  greatest(max(skew_us), 0) AS max_skew_us
        |FROM steps WHERE skew_us IS NOT NULL
        |GROUP BY user_id""".stripMargin,
    "o01_cdc_scan" ->
      s"""SELECT event_id AS seq, user_id AS key, $opCase AS op,
         |  CAST(ts AS TIMESTAMP) AS ts, value, props
         |FROM events""".stripMargin,
    "o02_insert_writer" ->
      s"""SELECT * FROM (${Producer.oracleSql}) WHERE op = 'c'""",
    "o03_update_writer" ->
      s"""SELECT seq, key, phone FROM (${Producer.oracleSql}) WHERE op = 'u'""",
    "o04_delete_writer" ->
      s"""SELECT seq, key FROM (${Producer.oracleSql}) WHERE op = 'd'""",
    "o05_unwrap" ->
      s"""SELECT event_id AS seq, user_id AS key, $opCase AS op,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE props END AS props
         |FROM events""".stripMargin,
    "o06_delete_rewrite" ->
      """SELECT event_id AS seq, user_id AS key, 'd' AS op,
        |  CAST(ts AS TIMESTAMP) AS ts
        |FROM events WHERE event_type = 'error'""".stripMargin,
    "o07_key_extract" ->
      """SELECT CAST(user_id AS VARCHAR) AS kafka_key,
        |  event_id, user_id, event_type, value
        |FROM events""".stripMargin,
    "o08_json_roundtrip" ->
      """SELECT event_id, wire,
        |  CAST(json_extract_string(wire, '$.id') AS BIGINT) AS id,
        |  CAST(json_extract_string(wire, '$.k') AS INTEGER) AS k
        |FROM (
        |  SELECT event_id,
        |    '{"id":' || CAST(user_id AS VARCHAR) || ',"k":'
        |      || json_extract_string(props, '$.k') || '}' AS wire
        |  FROM events)""".stripMargin,
    "o09_op_branch" ->
      s"""SELECT CASE WHEN props IS NULL THEN 'tombstone'
         |            WHEN event_type = 'error' THEN 'delete'
         |            ELSE 'upsert' END AS branch,
         |  count(*) AS n
         |FROM events GROUP BY 1""".stripMargin,
    "o10_materialize" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value, props
        |FROM (
        |  SELECT user_id, event_id, ts, event_type, value, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "o11_schema_ddl" ->
      """SELECT * FROM (VALUES
        |  ('id', 'int', false),
        |  ('full_name', 'string', false),
        |  ('email', 'string', false),
        |  ('phone', 'string', true),
        |  ('classification', 'string', false),
        |  ('created_at', 'timestamp', true)
        |) AS t(col_name, col_type, is_nullable)""".stripMargin,
    "o12_peek" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id LIMIT 1""".stripMargin,
    "o13_redelivery_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type, value
        |FROM (
        |  SELECT event_id, user_id, event_type, value FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value FROM events
        |  WHERE event_id % 10 = 0)""".stripMargin,
    "o14_snapshot_asof" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value, props
        |FROM (
        |  SELECT user_id, event_id, ts, event_type, value, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
        |) WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    "o15_dlq_route" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 13 = 0 THEN 'dlq' ELSE 'ok' END AS status,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
        |FROM events""".stripMargin,
    "o16_log_compact" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,
    // the oracle is the FULL recompute: hash-match proves the
    // incremental maintenance converges to recomputation
    "o17_incremental_agg" ->
      """SELECT event_type, count(*) AS n_keys
        |FROM (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type""".stripMargin,
    "o26_share_manifest" ->
      s"""WITH shared AS (
         |  SELECT ${graft.ext.Portable.tokenHashSql("CAST(user_id AS VARCHAR)")}
         |      AS user_token,
         |    event_type,
         |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |    CAST(floor(value) AS BIGINT) AS value_floor
         |  FROM (
         |    SELECT user_id, event_type, ts, value,
         |      row_number() OVER (PARTITION BY user_id
         |                         ORDER BY event_id DESC) AS rn
         |    FROM events)
         |  WHERE rn = 1 AND event_type IN ('click', 'view'))
         |SELECT user_token % 16 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(${graft.ext.Portable.tokenHashSql(
              "CAST(user_token AS VARCHAR) || '|' || event_type || '|' || " +
              "CAST(epoch_us(day) AS VARCHAR) || '|' || CAST(value_floor AS VARCHAR)")})
         |    AS BIGINT) AS checksum
         |FROM shared GROUP BY 1""".stripMargin,
    "o18_share_gate" ->
      s"""SELECT ${graft.ext.Portable.tokenHashSql("CAST(user_id AS VARCHAR)")}
         |    AS user_token,
         |  event_type,
         |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         |  CAST(floor(value) AS BIGINT) AS value_floor
         |FROM (
         |  SELECT user_id, event_type, ts, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND event_type IN ('click', 'view')""".stripMargin,
    // values only — the oracle need not re-enact the JSON round-trip;
    // the hash match is what proves the wide-schema parse fills
    // old-generation records with exactly-null evolution columns
    "o19_schema_evolution" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  CASE WHEN event_id % 3 = 0
        |       THEN 'r' || CAST(user_id % 4 AS VARCHAR) END AS region,
        |  CAST(CASE WHEN event_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
        |    AS schema_gen
        |FROM events""".stripMargin,
    "o20_changed_columns" ->
      """SELECT seq, key, changed_cols, n_changed
        |FROM (
        |  SELECT event_id AS seq, user_id AS key,
        |    concat_ws(',',
        |      CASE WHEN event_type IS DISTINCT FROM p_type THEN 'event_type' END,
        |      CASE WHEN value IS DISTINCT FROM p_value THEN 'value' END,
        |      CASE WHEN props IS DISTINCT FROM p_props THEN 'props' END)
        |      AS changed_cols,
        |    CAST(CASE WHEN event_type IS DISTINCT FROM p_type THEN 1 ELSE 0 END
        |       + CASE WHEN value IS DISTINCT FROM p_value THEN 1 ELSE 0 END
        |       + CASE WHEN props IS DISTINCT FROM p_props THEN 1 ELSE 0 END
        |      AS BIGINT) AS n_changed,
        |    p_seq
        |  FROM (
        |    SELECT event_id, user_id, event_type, value, props,
        |      lag(event_id) OVER w AS p_seq,
        |      lag(event_type) OVER w AS p_type,
        |      lag(value) OVER w AS p_value,
        |      lag(props) OVER w AS p_props
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)))
        |WHERE p_seq IS NOT NULL AND n_changed > 0""".stripMargin,
    "o21_snapshot_diff" ->
      """WITH s1 AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events
        |    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00')
        |  WHERE rn = 1 AND event_type <> 'error'),
        |s2 AS (
        |  SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id, event_type,
        |      row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events
        |    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s2.user_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  s1.event_id AS old_seq, s2.event_id AS new_seq
        |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.user_id IS NULL OR s2.user_id IS NULL
        |   OR s1.event_id <> s2.event_id""".stripMargin
  )
}
