package graft.ext

import graft.Tables
import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * approximate-nearest-neighbor with a brute-force baseline and two
  * pruned scale paths.
  *
  *   - s1 brute-force: broadcast the (tiny) query set against the full
  *     vector scan — one pass, cosine in a fused codegen'd native
  *     expression ([[graft.functions.CosineSimilarity]]), per-query top-k
  *     by window rank. At 100 TB this is the exact-recall baseline: cost
  *     is |queries| × |vectors| cosines, embarrassingly parallel, zero
  *     shuffle until the tiny top-k.
  *   - s2 IVF (nprobe=1): vectors are pre-assigned to coarse cells (the
  *     `label` column stands in for a k-means assignment); a query probes
  *     only its own cell. Candidate count drops by ~|cells|×.
  *   - s3 LSH: candidates share a random-hyperplane bucket in any of 4
  *     tables (same OR-construction as [[Dedup.embedNearDup]]); exact
  *     cosine + top-k only within the candidate set.
  *
  * The cosine value used for ranking is the raw double; rounding happens
  * only at output. Ranks tie-break on neighbor id, so results are
  * deterministic and hash-match the DuckDB oracle.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val nQueries = 8

  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))

  private def topkOut(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 6).as("cos"))
  }

  /** s1 — exact brute-force top-5: the recall=1 baseline. */
  def bruteTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    topkOut(scored, 5)
  }

  /** s2 — IVF with nprobe=1: probe only the query's own coarse cell. */
  def ivfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("label"))
    val scored = e.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    topkOut(scored, 3)
  }

  /** s3 — hyperplane-LSH: candidates share a bucket in ≥1 of 4 tables. */
  def lshTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val bucketed = e.select(col("vec_id"), col("v"),
        explode(array((0 until 4).map(t =>
          struct(lit(t).as("tbl"), Dedup.bucket(col("v"), t).as("bkt"))): _*)).as("b"))
      .select(col("vec_id"), col("b.tbl"), col("b.bkt"))
    val qb = bucketed.filter(col("vec_id") < nQueries)
      .select(col("tbl"), col("bkt"), col("vec_id").as("query_id"))
    val cand = bucketed.join(broadcast(qb), Seq("tbl", "bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id")).distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("nv"), col("qv")).as("cos_raw"))
    topkOut(scored, 3)
  }

  /** s4 — IVF cell centroids: mean vector per coarse cell, the k-means
    * E-step output that s2's cell assignment stands on. Posexplode to
    * (label, dim, value) rows, aggregate per (label, dim). Values are
    * fixed-point quantized before summing so the result is independent
    * of partition/arrival order — a double sum would drift run to run
    * and break both the oracle and reproducibility at scale. Output is
    * rows, not vectors: (label, dim, centroid), scalar-comparable.
    */
  def ivfCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centroidRowsOn(Tables.embeddings(spark, sfDir))

  private def centroidRowsOn(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      // Fixed-point accumulation: floor-quantize to 1e-7, sum longs.
      // Decimal casts are NOT ulp-portable (DuckDB rounds via a scaled
      // double multiply, Spark via exact BigDecimal — they disagreed on
      // 1 value in 32k); floor(v*1e7) is the same double op on both
      // engines and integer sums are exact and order-independent. Also
      // the right accumulator shape at 100 TB.
      .select(col("label"), col("dim"),
        floor(col("v").cast("double") * 1e7).cast("long").as("q"))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("q")).cast("double") / 1e7 / count(lit(1))).as("centroid"))

  /** s5 — IVF with nprobe=2: probe the query's own cell PLUS the nearest
    * other cell by centroid cosine (centroids from [[ivfCentroids]] —
    * this closes the s4→s2 loop). Because the own cell is always probed,
    * s5's candidate set is a superset of s2's, so recall against the
    * exact (brute-force) answer can only improve — the monotonicity
    * `SimilaritySpec` asserts. The centroid frame and the probed-cell
    * frame are |cells| and 2×|queries| rows — genuinely small, the
    * correct broadcast sides; the vector scan stays unshuffled until the
    * per-cell candidate join, exactly as s2.
    */
  /** Centroid VECTORS: s4's (label, dim, centroid) rows reassembled in
    * dim order — fixed-point means are exact doubles, so the vectors
    * (and any cell ranking built on them) are bit-identical to the
    * oracle's. |cells| rows — the one genuinely-small frame in the ANN
    * family.
    */
  /** The corpus-path centroid frame is a shared frame (r14 opt): five
    * registry queries (s5, s8, s13, s15–s17) each rebuilt the identical
    * posexplode → two-aggregate → reassemble pipeline (3–4 sequential
    * AQE stages per query for a |cells|-row result). Lazy-checkpointed
    * like the posting frames; cleared per bench pass. The injectable
    * `...On` variants keep building from their argument — specs drive
    * synthetic corpora through them.
    */
  private def centroidVectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.shared(spark, "ivf_centroids", sfDir)(
      centroidVectorsOn(Tables.embeddings(spark, sfDir)).localCheckpoint(false))

  private def centroidVectorsOn(emb: DataFrame): DataFrame =
    centroidRowsOn(emb)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("cv"))

  def ivfNprobeTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val cents = centroidVectors(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("label").as("qlabel"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("label"))
    val nearestOther = q.crossJoin(broadcast(cents))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("qv"), col("label"),
        cosineSim(col("qv"), col("cv")).as("cs"))
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("qv"), col("label"))
    val cells = q.select(col("query_id"), col("qv"), col("qlabel").as("label"))
      .unionByName(nearestOther)
    val scored = e.join(broadcast(cells), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    topkOut(scored, 3)
  }

  /** s15 tenant count: distinct values of the metadata filter column. */
  private[ext] val Tenants = 4L

  /** s15 — FILTERED ANN: top-3 SAME-TENANT neighbors through the s5
    * nprobe=2 probe — the metadata-constrained vector search every RAG
    * serving layer runs (restrict by license class / collection /
    * language, then rank by similarity). `tenant = H(vec_id) mod 4`
    * stands in for that metadata column exactly the way `label` stands
    * in for the k-means cell assignment.
    *
    * The strategy is SINGLE-STAGE filtered search: the tenant predicate
    * evaluates INSIDE candidate generation (on the cell-joined scan,
    * before any cosine is computed or any candidate materializes) — not
    * post-filtering an unfiltered top-k, which at selectivity 1/T
    * returns ~k/T survivors and silently starves recall; and not
    * pre-filtering into a separate index, which would fragment the cell
    * table per tenant. At 100 TB the cost is the same cell-probe scan
    * s5 pays, with 3/4 of candidates dropped before the scoring
    * projection.
    *
    * WIDEN-ON-SHORTFALL is part of the read path (r13, promoted from
    * the s16 eval where it was proven): a query whose nprobe=2 probe
    * yields fewer than k same-tenant candidates re-probes at nprobe=4
    * (own + [[WidenedOtherCells]] nearest other cells); every other
    * query keeps the narrow probe, so the served candidate set is a
    * per-query superset of the narrow one (`SimilaritySpec` asserts
    * both the superset property and a starved-tenant recovery through
    * THIS operator). The widen decision re-derives in the oracle SQL
    * exactly as s16's does. At scale the widened re-probe touches only
    * the shortfall tail, not the corpus.
    */
  def filteredTopk(spark: SparkSession, sfDir: String): DataFrame =
    topkOut(filteredArms(Tables.embeddings(spark, sfDir),
      Some(centroidVectors(spark, sfDir))).candW, 3)

  /** s15 over an arbitrary embeddings-shaped frame — injectable so the
    * starved-tenant spec can drive the widen branch through the SERVING
    * operator itself, not just the s16 eval.
    */
  private[ext] def filteredTopkOn(embRaw: DataFrame): DataFrame =
    topkOut(filteredArms(embRaw).candW, 3)

  /** s16 widened probe width: own cell + 3 nearest others (nprobe=4). */
  private[ext] val WidenedOtherCells = 3

  /** s16 — FILTERED-ANN RECALL EVAL with WIDEN-ON-SHORTFALL: s11's
    * twin for the s15 path. s15's honest contract is that a query whose
    * nprobe=2 probe set holds no same-tenant vector silently drops —
    * this operator is the serving layer's answer to that: per query,
    * recall@3 of the s15 probe against the exact brute-force FILTERED
    * truth (top-3 among same-tenant vectors corpus-wide), plus a
    * widened arm that re-probes at nprobe=4 (own + 3 nearest other
    * cells) exactly when the nprobe=2 candidate set came up short
    * (`n_cand2 < k`). Non-short queries keep their nprobe=2 probe in
    * the widened arm, so the widened candidate set is a per-query
    * SUPERSET of the narrow one and `recallw_ppm ≥ recall2_ppm` holds
    * row-by-row — the monotonicity `SimilaritySpec` asserts.
    *
    * Recall is integer ppm (hits · 10⁶ DIV k) over the FILTERED truth
    * set — measuring against unfiltered truth would punish the index
    * for tenants the predicate excludes. Scale shape: the truth arm is
    * the one |queries|·|corpus| scan (the price of ground truth; the
    * query set is a sample, as in s11); both probe arms are
    * cell-join-bounded like s15, the shortfall detector is a
    * |queries|-row aggregate, and the widen decision re-probes ONLY
    * the short queries — at production selectivity that is the tail,
    * not the corpus. Everything downstream of the scans joins
    * |queries|·k-row frames, driver-dashboard sized.
    */
  def filteredRecallEval(spark: SparkSession, sfDir: String): DataFrame =
    filteredRecallEvalOn(Tables.embeddings(spark, sfDir),
      Some(centroidVectors(spark, sfDir)))

  /** s16 over an arbitrary embeddings-shaped frame `(vec_id, embedding,
    * label)` — injectable so the spec can craft a corpus where the
    * nprobe=2 probe provably starves a tenant (forcing the widen branch,
    * which the real sf0.001 corpus may never exercise) and assert the
    * widened arm actually recovers the starved neighbors.
    */
  /** The shared s15/s16 widen machinery over an embeddings-shaped
    * frame: the tenanted corpus `e`, the query frame `q`, the narrow
    * nprobe=2 candidates `candA`, the per-query `shortfall` decision
    * (`n_cand2 < k` → widened), and the served candidate set `candW`
    * (narrow probe for full queries, nprobe=4 for short ones — a
    * per-query superset of `candA` by construction). s15 serves
    * `topk(candW)`; s16 scores both arms against brute filtered truth.
    */
  private final case class FilteredArms(e: DataFrame, q: DataFrame,
      candA: DataFrame, shortfall: DataFrame, candW: DataFrame)

  private def filteredArms(embRaw: DataFrame,
      centsOpt: Option[DataFrame] = None): FilteredArms = {
    import Portable.tokenHash
    val e = embRaw
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
      .withColumn("tenant", tokenHash(col("vec_id").cast("string")) % Tenants)
    val cents = centsOpt.getOrElse(centroidVectorsOn(embRaw))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"), col("tenant").as("qtenant"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("label"))
    // rk=0 is the query's own cell; rk=1..3 the nearest other cells in
    // centroid-cosine order — the narrow (s15 nprobe=2) probe reads
    // rk<=1, the widened arm rk<=3 for short queries only
    val ranked = q.crossJoin(broadcast(cents))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("qv"), col("qtenant"), col("label"),
        cosineSim(col("qv"), col("cv")).as("cs"))
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= WidenedOtherCells)
      .select(col("query_id"), col("qv"), col("qtenant"), col("label"), col("rk"))
    val cellsAll = q.select(col("query_id"), col("qv"), col("qtenant"),
        col("qlabel").as("label"), lit(0).as("rk"))
      .unionByName(ranked)
    def candidates(cells: DataFrame): DataFrame =
      e.join(broadcast(cells), Seq("label"))
        .filter(col("tenant") === col("qtenant") &&
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosineSim(col("v"), col("qv")).as("cos_raw"))
    val candA = candidates(cellsAll.filter(col("rk") <= 1))
    val shortfall = q.select("query_id")
      .join(candA.groupBy("query_id").agg(count(lit(1)).as("n")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n"), lit(0L)).as("n_cand2"))
      .withColumn("widened", col("n_cand2") < 3)
    val cellsW = cellsAll
      .join(broadcast(shortfall.select("query_id", "widened")), Seq("query_id"))
      .filter(col("rk") <= when(col("widened"), WidenedOtherCells).otherwise(1))
      .select("query_id", "qv", "qtenant", "label")
    FilteredArms(e, q, candA, shortfall, candidates(cellsW))
  }

  private def top3Of(c: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("neighbor_id"))
    c.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
  }

  private[ext] def filteredRecallEvalOn(embRaw: DataFrame,
      centsOpt: Option[DataFrame] = None): DataFrame = {
    val arms = filteredArms(embRaw, centsOpt)
    val truth = arms.e.crossJoin(broadcast(arms.q))
      .filter(col("tenant") === col("qtenant") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    val shortfall = arms.shortfall
    top3Of(truth)
      .join(top3Of(arms.candA).withColumn("in2", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .join(top3Of(arms.candW).withColumn("inw", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("in2"), lit(0L))).as("hits_nprobe2"),
        sum(coalesce(col("inw"), lit(0L))).as("hits_widened"))
      .join(shortfall, Seq("query_id"))
      .select(col("query_id"), col("k"), col("n_cand2"), col("widened"),
        col("hits_nprobe2"), col("hits_widened"),
        expr("hits_nprobe2 * 1000000 DIV k").as("recall2_ppm"),
        expr("hits_widened * 1000000 DIV k").as("recallw_ppm"))
  }

  /** s6 — scalar-quantized retrieve + exact rerank: the two-stage shape
    * every production ANN serves. Stage 1 scores ALL vectors against the
    * query with an INTEGER dot product over per-dim quantized codes
    * (floor(x·64) — at 100 TB the coarse pass reads an int8-packed
    * projection, an 8× IO cut vs the float vectors, and integer MACs
    * vectorize) and keeps a 16-deep shortlist per query; stage 2 re-reads
    * full vectors ONLY for the shortlist and reranks by exact cosine.
    * Everything is deterministic: integer scores are exact in both
    * engines, ties break on neighbor id, and the rerank is the same
    * ordered-fold cosine as s1 — so the oracle hash-matches despite the
    * two-stage approximation.
    */
  def sqRerankTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
      .withColumn("qz", transform(col("v"), x => floor(x * 64).cast("long")))
      // referenced by the query side, the coarse scan, and the rerank join
      .localCheckpoint(false)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qz").as("qqz"), col("v").as("qv"))
    val coarse = e.crossJoin(broadcast(q.select(col("query_id"), col("qqz"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("qz"), col("qqz"), (a, b) => a * b),
          lit(0L), _ + _).as("iscore"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("neighbor_id"))
    val shortlist = coarse.withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= 16)
      .select("query_id", "neighbor_id")
    val scored = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("nv"), col("qv")).as("cos_raw"))
    topkOut(scored, 3)
  }

  /** s8 — kNN GRAPH construction (batch ANN self-join): every vector's
    * top-3 neighbors, not a fixed query set's. This is the operator the
    * s1–s7 family feeds at training-data scale: SemDeDup-style semantic
    * dedup, diversity sampling, and graph-based curation all start from
    * a per-document neighbor list over the whole corpus.
    *
    * Shape: IVF blocking with nprobe=2 on the QUERY side. Every vector
    * probes its own coarse cell plus the nearest other cell by centroid
    * cosine (the same fixed-point centroids as s4/s5), so the pair space
    * is Σ|cell|·|probes into cell| — never n². Both sides of the scoring
    * join are corpus-sized, so it is a SHUFFLE hash join co-partitioned
    * on the cell id; the only broadcast is the |cells|-row centroid
    * frame. Per-query top-k is a WindowGroupLimit: per-partition heaps,
    * no global sort. The quantizer granularity is AUTOMATED ([[CellN0]]):
    * cells split along hyperplane-sign bits as the corpus doubles, so
    * per-cell occupancy — and the Σ|cell|² scoring term — stays constant
    * instead of growing with N (the fixed-nlist form measured exp 1.71
    * across a decade in the round-6 sweep). At 100 TB the remaining dial
    * is nprobe; the join/limit shape is unchanged.
    */
  /** s9 — RANGE (radius) search: every corpus vector within cosine ≥ τ
    * of each query — the "all sufficiently similar" API next to the
    * top-k one (recommendation candidate pools, near-dup audits at a
    * chosen threshold). Brute-exact like s1: the tiny query set
    * broadcasts, one fused-codegen cosine pass over the scan, the
    * threshold filter runs ON the scan so only qualifying (query,
    * neighbor) rows ever shuffle — output cost follows the RESULT size,
    * not the corpus. The threshold compares the RAW double — both
    * engines fold the 64 dims in the same index order, so the boundary
    * is deterministic (d6's discipline); rounding only at output. At
    * 100 TB the recall<1 scale path is the same filter inside s3's
    * OR-bucketed candidates (or d6's self-join form for corpus×corpus).
    */
  def rangeSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    // barrierFilter keeps the threshold ABOVE the scoring projection —
    // pushed into the cross-join condition, the 64-dim cosine would
    // re-evaluate per candidate pair (condition + output), exactly the
    // double-evaluation hazard d3/d6 guard against.
    Portable.barrierFilter(scored, col("cos_raw") >= RangeTau)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  private[ext] val RangeTau = 0.25

  /** Neighborhood depth for s14's margin normalizer. */
  private val MarginK = 4

  /** s14 — margin-based alignment mining (the bitext-mining scorer): the
    * even-id half of the corpus seeks its best odd-id counterpart, scored
    * not by raw cosine but by the RATIO MARGIN — cosine divided by the
    * mean of both endpoints' top-k neighborhoods — the standard fix for
    * hub vectors that sit close to everything and would win every raw-
    * cosine retrieval. A pair is MINED only when its margin clears 1.0
    * (strictly better than the neighborhoods it sits in).
    *
    * Candidates are IVF-cell-coblocked (same ADAPTIVE cell — `label`
    * plus s8's occupancy-driven sub-cell bits, 0 bits at test scale so
    * the cell is exactly the label, one more per corpus doubling past
    * [[CellN0]]), opposite parity — so the pair frame is Σ|cell_A|·
    * |cell_B| with |cell| held ≈ constant, never |A|·|B| (label-only
    * blocking re-grows Σ|cell|² linearly with the corpus and measured
    * exp 1.16 on the decade sweep; the split restores ~linear). Forward
    * and backward top-k stats and the final per-query argmax are bounded
    * windows over that same frame, which materializes once and feeds all
    * three consumers. Arithmetic is integer end-to-end past the one
    * cosine: each cosine floor-quantizes to micro units BEFORE any sum
    * (double sums are addend-order-dependent; long sums are not), and
    * the margin is one 64-bit division
    * `2e6·c·n_f·n_b DIV (Σ_f·n_b + Σ_b·n_f)` — exact in both engines,
    * no libm.
    */
  def bitextMargin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val e0 = vecs(spark, sfDir)
    val nv = e0.agg(count(lit(1)).as("n_vecs"))
    val e = e0.crossJoin(broadcast(nv)) // one-row frame: correct broadcast
      .select(col("vec_id"), col("v"), col("label"),
        subSig(col("v")).bitwiseAND(splitMask(col("n_vecs"))).as("subcell"))
    val a = e.filter(col("vec_id") % 2 === 0)
      .select(col("label"), col("subcell"),
        col("vec_id").as("query_id"), col("v").as("qv"))
    val b = e.filter(col("vec_id") % 2 === 1)
      .select(col("label"), col("subcell"),
        col("vec_id").as("neighbor_id"), col("v").as("nv"))
    val cand = a.join(b, Seq("label", "subcell"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosineSim(col("nv"), col("qv")) * lit(1000000.0))
          .cast("long").as("cmic"))
      .filter(col("cmic") > 0)
      .localCheckpoint(false) // feeds fwd stats, bwd stats, and the margin join
    val fwd = cand
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cmic").desc, col("neighbor_id"))))
      .filter(col("rk") <= MarginK)
      .groupBy("query_id")
      .agg(count(lit(1)).as("nf"), sum("cmic").as("sumf"))
    val bwd = cand
      .withColumn("rk", row_number().over(Window.partitionBy("neighbor_id")
        .orderBy(col("cmic").desc, col("query_id"))))
      .filter(col("rk") <= MarginK)
      .groupBy("neighbor_id")
      .agg(count(lit(1)).as("nb"), sum("cmic").as("sumb"))
    val m = cand
      .join(fwd, Seq("query_id"))
      .join(bwd, Seq("neighbor_id"))
      .withColumn("margin_micro",
        expr("2000000 * cmic * nf * nb DIV (sumf * nb + sumb * nf)"))
    m.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("margin_micro").desc, col("neighbor_id"))))
      .filter(col("rank") === 1 && col("margin_micro") >= 1000000L)
      .select(col("query_id"), col("neighbor_id"),
        col("cmic").as("cos_micro"), col("margin_micro"))
  }

  /** Occupancy dial for s8's ADAPTIVE IVF cell count (the d6 rule applied
    * to the coarse quantizer): with ≤ [[CellN0]] vectors the cells are
    * exactly the data's label column; every corpus doubling past it
    * splits each label cell in two along one more hyperplane-sign bit
    * (up to 8 bits = 256 sub-cells per label), holding expected per-cell
    * occupancy — and with it the Σ|cell|² scoring-join term the round-6
    * sweep measured at exp 1.71 under a FIXED nlist — constant. nlist ∝ N
    * with |cell| ≈ const is the standard IVF production sizing.
    */
  private[graft] val CellN0 = 2000L

  /** Sub-cell bit mask for a corpus of `n` vectors, as a portable integer
    * expression (no libm log): 0 bits at test scale — so every historical
    * result is bit-identical — plus one per doubling past [[CellN0]],
    * capped at 8. The oracle evaluates the identical comparison chain
    * from its own count.
    */
  private[graft] def splitMask(n: Column): Column =
    element_at(
      array(Seq(0L, 1L, 3L, 7L, 15L, 31L, 63L, 127L, 255L).map(lit(_)): _*),
      lit(1) + (1 to 8).map(k =>
        when(n > CellN0 * (1L << (k - 1)), 1).otherwise(0)).reduce(_ + _))

  /** 8-bit hyperplane-sign signature used for the sub-cell split: the
    * same shared plane family as d6/s7, evaluated on the full 64-dim
    * vector. A query probes the sub-cell carrying ITS OWN signature in
    * both probed labels — nearby vectors share sign bits, which is the
    * LSH recall argument; the masked width keeps the split recall-free
    * at test scale.
    */
  private[graft] def subSig(v: Column): Column =
    (0 until 8).map { p =>
      when(graft.functions.DotProduct.dotProduct(v,
        array(Dedup.planes(p).map(x => lit(x.toDouble)): _*)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  def knnJoin(spark: SparkSession, sfDir: String): DataFrame =
    knnJoinOn(Tables.embeddings(spark, sfDir),
      Some(centroidVectors(spark, sfDir)))

  /** s8's ADAPTIVE CELL ASSIGNMENT, factored out of [[knnJoinOn]]:
    * `(vec_id, v, label, subcell)` for an arbitrary
    * `(vec_id, embedding, label)` frame — the coarse-quantizer state of
    * the IVF index. Split out so the STREAMING index maintainer
    * ([[graft.streaming.AnnStream]]) can prove its live cell table equals
    * this batch definition at every ingest prefix — one definition, so
    * the live ANN index and the batch s8 join can never disagree on
    * which cell a vector lives in. The one-row count frame driving the
    * adaptive cell width is the only broadcast.
    */
  private[graft] def cellAssignOn(emb: DataFrame): DataFrame = {
    val e0 = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"), col("label"))
    val nv = e0.agg(count(lit(1)).as("n_vecs"))
    e0.crossJoin(broadcast(nv))
      .select(col("vec_id"), col("v"), col("label"),
        subSig(col("v")).bitwiseAND(splitMask(col("n_vecs"))).as("subcell"))
  }

  /** The s8 pipeline over an arbitrary `(vec_id, embedding, label)`
    * frame — split out (d6's `buildEmbedNearDupOn` discipline) so
    * `AdaptiveCellSpec` can drive the adaptive cell split past its
    * [[CellN0]] threshold on a synthetic corpus the testdata alone
    * can't reach.
    */
  private[ext] def knnJoinOn(emb: DataFrame,
      centsOpt: Option[DataFrame] = None): DataFrame = {
    val cents = centsOpt.getOrElse(centroidVectorsOn(emb))
    val e = cellAssignOn(emb)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("label"))
    val own = e.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("label"), col("subcell"))
    val nearestOther = e
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("label").as("qlabel"), col("subcell"))
      .crossJoin(broadcast(cents))
      .filter(col("label") =!= col("qlabel"))
      .select(col("query_id"), col("qv"), col("label"), col("subcell"),
        cosineSim(col("qv"), col("cv")).as("cs"))
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("qv"), col("label"), col("subcell"))
    val probes = own.unionByName(nearestOther)
    // shuffle join co-partitioned on the (label, sub-cell) cell id
    val scored = e.join(probes, Seq("label", "subcell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("v"), col("qv")).as("cos_raw"))
    topkOut(scored, 3)
  }

  // ---- s7: product quantization -----------------------------------------

  private val M = 8          // subspaces
  private val SubDim = 8     // dims per subspace (64 = M × SubDim)
  private val CodePlanes = 4 // 4 sign bits → 16 codes per subspace

  /** Subspace code: 4-bit sign pattern of the subvector against the
    * shared hyperplane family ([[Dedup.planes]], sliced to the
    * subspace's dims) — the deterministic stand-in for a per-subspace
    * k-means assignment, exactly as s2's `label` stands in for the
    * coarse quantizer.
    */
  private def codeOf(v: Column, m: Int): Column =
    (0 until CodePlanes).map { p =>
      val plane = array(Dedup.planes(p)
        .slice(m * SubDim, (m + 1) * SubDim).map(x => lit(x.toDouble)): _*)
      when(graft.functions.DotProduct.dotProduct(
        slice(v, m * SubDim + 1, SubDim), plane) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** s7 — product quantization with asymmetric-distance scoring + exact
    * rerank: the IVF-PQ memory model. Each vector is stored as M=8
    * 4-bit codes (4 bytes/vector — a 64× cut vs the float vector, the
    * whole point at 100 TB: the coarse scan reads codes, never floats);
    * per query, an ADC TABLE of |M|×16 partial dot products against the
    * code centroids is precomputed (1 024 rows — broadcast), so scoring
    * a vector is M integer table lookups + an integer sum, shuffled only
    * by the map-side-combined (query, vector) aggregation. A 64-deep
    * shortlist then reranks by exact cosine over re-fetched vectors —
    * deeper than s6's 16 because 4-bit sign codes rank coarsely; the
    * rerank budget is the dial that buys recall back, which is exactly
    * how production PQ deployments run (rerank hundreds per query).
    *
    * Every ranking quantity is an exact integer: codebook centroids are
    * fixed-point means (s4's trick), ADC partials quantize per TERM
    * before summing (an 8-term double sum would be addition-order-
    * dependent and break the oracle), and the final rerank is the same
    * deterministic cosine as s1.
    */
  def pqRerankTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = vecs(spark, sfDir)
      .select(col("vec_id"), col("v"),
        array((0 until M).map(m => codeOf(col("v"), m)): _*).as("codes"))
      // referenced by the code rows, the codebook build, the query side,
      // and the rerank joins — materialize the encode pass once
      .localCheckpoint(false)
    val encRows = enc.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("m", "code")))
    // codebook: fixed-point mean subvector per (subspace, code, subdim)
    val codebook = enc
      .select(col("codes"), posexplode(col("v")).as(Seq("dim", "value")))
      .select(expr(s"dim DIV $SubDim").as("m"), expr(s"dim % $SubDim").as("sd"),
        expr(s"codes[dim DIV $SubDim]").as("code"),
        floor(col("value") * 1e7).cast("long").as("q"))
      .groupBy("m", "sd", "code")
      .agg((sum(col("q")).cast("double") / 1e7 / count(lit(1))).as("centroid"))
    val q = enc.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val qDims = q.select(col("query_id"), posexplode(col("qv")).as(Seq("dim", "qval")))
      .select(col("query_id"), expr(s"dim DIV $SubDim").as("m"),
        expr(s"dim % $SubDim").as("sd"), col("qval"))
    // ADC table: per (query, subspace, code) the quantized partial dot —
    // per-TERM fixed-point so the 8-term sum is an exact long
    val adc = qDims.join(broadcast(codebook), Seq("m", "sd"))
      .select(col("query_id"), col("m"), col("code"),
        floor(col("qval") * col("centroid") * 1e7).cast("long").as("t"))
      .groupBy("query_id", "m", "code")
      .agg(sum("t").as("partial"))
    val scored = encRows.join(broadcast(adc), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("partial").as("iscore"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("vec_id"))
    val shortlist = scored.withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= 64)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val reranked = shortlist
      .join(enc.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("nv"), col("qv")).as("cos_raw"))
    topkOut(reranked, 3)
  }

  /** s10 — one EXACT Lloyd reassignment step (the k-means E-step that
    * SemDeDup-style semantic dedup and IVF index maintenance both sit
    * on): every vector moves to its nearest current centroid. The whole
    * step runs in integer arithmetic so the argmin is engine-portable:
    * vectors floor-quantize to a 1e-7 grid (s4's discipline), centroids
    * are the INTEGER-DIVIDED per-dim means (`S div n` — Spark's `div`
    * and DuckDB's `//` both truncate toward zero, verified on negative
    * operands), and the squared distance `Σ(q_d − c_d)²` stays in longs
    * (|q| ≤ 1e7, 64 dims → ≤ 3e16 ≪ 2⁶³). A double-valued distance
    * would make ties and last-ulp orderings engine-dependent — the same
    * argmin instability the IVF family's fixed-point centroids exist to
    * kill. Plan shape at 100 TB: centroids are k×64 rows — a genuinely
    * FIXED-size broadcast (k never scales with corpus) — so the
    * assignment is one scan of the vector table, no shuffle at all; the
    * new-label histogram is a k-row aggregate. The driver-visible
    * output keeps one row per vector (vec_id, old/new label, moved,
    * exact integer distance) — the frame a full k-means loop would feed
    * back into s4.
    */
  def kmeansStep(spark: SparkSession, sfDir: String): DataFrame = {
    val quant = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT))")
          .as("qv"))
    // integer centroids: per-(label, dim) long sums, truncated division
    val cents = quant
      .select(col("label").as("clabel"), posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("clabel"), col("dim"))
      .agg(expr("sum(q) div count(1)").as("cq"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cq")))),
        s => s.getField("cq")).as("cv"))
    quant.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        expr("aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("dist"))
      .groupBy(col("vec_id"), col("label"))
      // lexicographic struct min = nearest centroid, ties to lowest label
      .agg(min(struct(col("dist"), col("clabel"))).as("best"))
      .select(col("vec_id"), col("label").as("old_label"),
        col("best.clabel").cast("int").as("new_label"),
        (col("best.clabel") =!= col("label")).as("moved"),
        col("best.dist").as("dist_sq_q"))
  }

  /** s11 — ANN RECALL EVALUATION: per query, recall@3 of the two IVF
    * configurations (s2 nprobe=1, s5 nprobe=2) against the exact
    * brute-force top-3 — the eval loop every production ANN index ships
    * with (you don't deploy an approximate index without measuring what
    * it misses). Because s5's candidate set is a superset of s2's (the
    * own cell is always probed), `recall2 ≥ recall1` per query — the
    * monotonicity `SimilaritySpec` asserts on this very output.
    *
    * Recall is integer ppm (`hits · 10⁶ DIV k`), so the comparison is
    * bit-stable across engines (the same no-libm discipline as w3/d19).
    * Scale shape: the COST is the three upstream searches (the brute
    * baseline is the expensive one — |queries| × |vectors| cosines, the
    * price of ground truth; at 100 TB the query set is a sample, which
    * `nQueries` already models); the eval itself joins three
    * |queries|·k-row frames — driver-dashboard sized, broadcast by AQE.
    */
  def recallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val brute = bruteTopk(spark, sfDir).filter(col("rank") <= 3)
      .select("query_id", "neighbor_id")
    val i1 = ivfTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in1"))
    val i2 = ivfNprobeTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in2"))
    brute
      .join(i1, Seq("query_id", "neighbor_id"), "left")
      .join(i2, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("in1"), lit(0L))).as("hits_nprobe1"),
        sum(coalesce(col("in2"), lit(0L))).as("hits_nprobe2"))
      .select(col("query_id"), col("k"), col("hits_nprobe1"), col("hits_nprobe2"),
        expr("hits_nprobe1 * 1000000 DIV k").as("recall1_ppm"),
        expr("hits_nprobe2 * 1000000 DIV k").as("recall2_ppm"))
  }

  private val MmrPool = 20
  private val MmrK = 5

  /** s12 — MMR-DIVERSIFIED top-k (maximal marginal relevance, λ = 1/2):
    * greedy re-ranking of a relevance-ordered candidate pool so the
    * returned set trades relevance against redundancy — the selector a
    * RAG serving path or a diversity-constrained curation pass runs
    * AFTER retrieval ("don't hand the model five near-identical
    * passages"). Step 1 takes the most relevant candidate; each later
    * step takes `argmax (rel − max_sim_to_selected)/2` over the
    * remainder, ties on neighbor id.
    *
    * λ is exactly 1/2 so the score stays a plain IEEE average of two
    * cosines — no irrational weight in the comparison path; both
    * engines evaluate the identical expression over identical doubles.
    *
    * Scale shape: MMR is POST-retrieval — the pool is top-[[MmrPool]]
    * per query (from the exact scan here, from s2/s5's IVF shortlist in
    * a production path), so everything past the retrieval scan touches
    * queries · pool rows, independent of corpus size. The pool
    * selection stays in Catalyst (the distributed part); the greedy
    * selection itself is SEQUENTIAL BY DEFINITION (step i needs step
    * i−1's pick), so it runs per query group in `flatMapGroups` over
    * the 20-row pool — one shuffle keyed on query_id, pool² cosines
    * inside the group. A first cut unrolled the five steps as joined
    * DataFrame stages instead: ~15 dashboard-sized stages whose
    * scheduling overhead alone cost ~5 s at EVERY SF — per-group
    * sequential logic is exactly the case the (d)-tier group operator
    * exists for. The in-group cosine accumulates in index order —
    * bit-identical to [[graft.functions.CosineSimilarity]], which the
    * oracle hash-match then pins.
    */
  def mmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wp = Window.partitionBy("query_id").orderBy(col("rel").desc, col("cid"))
    val pool = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cid"), col("v"),
        cosineSim(col("v"), col("qv")).as("rel"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= MmrPool)
      .select("query_id", "cid", "v", "rel")
    val selected = pool.as[(Long, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // candidates in (rel desc, cid) order — step 1's argmax is head
        val cands = it.toArray.sortBy(c => (-c._4, c._2))
        val vs = cands.map(_._3.toArray)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val sel = scala.collection.mutable.ArrayBuffer(0)
        val out = scala.collection.mutable.ArrayBuffer(
          (qid, cands(0)._2, 1L, cands(0)._4))
        while (sel.length < MmrK && sel.length < cands.length) {
          var best = -1; var bestScore = Double.NegativeInfinity
          for (i <- cands.indices if !sel.contains(i)) {
            var maxsim = Double.NegativeInfinity
            for (j <- sel) { val s = cos(vs(i), vs(j)); if (s > maxsim) maxsim = s }
            val score = (cands(i)._4 - maxsim) / 2
            // argmax with the row_number tie rule: score desc, cid asc
            if (score > bestScore ||
                (score == bestScore && best >= 0 && cands(i)._2 < cands(best)._2)) {
              best = i; bestScore = score
            }
          }
          sel += best
          out += ((qid, cands(best)._2, sel.length.toLong, bestScore))
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "step", "mmr_raw")
    selected.select(col("query_id"), col("neighbor_id"), col("step"),
      round(col("mmr_raw"), 6).as("mmr"))
  }

  /** s13 rerank budget: deeper than s6's 16 (PQ codes rank coarsely,
    * s7's argument) but shallower than s7's 64 — the probed cells hold
    * ~2/|cells| of the corpus, so the shortlist competes among fewer
    * candidates.
    */
  private val IvfPqShortlist = 32

  /** s13 — IVF-PQ FUSED query: the full production ANN read path (FAISS's
    * IndexIVFPQ) assembled from the family's proven parts — s5's probe
    * selection (own coarse cell + nearest other by fixed-point centroid
    * cosine), s7's asymmetric-distance PQ scoring (per-query ADC table of
    * integer partial dot products, M table lookups + an integer sum per
    * candidate), and s1's exact cosine rerank over a
    * [[IvfPqShortlist]]-deep shortlist. The composition is the point: s2
    * measures the coarse quantizer alone, s7 measures PQ over the WHOLE
    * corpus — this is what a serving system actually executes, scanning
    * codes for the probed cells only.
    *
    * Scale: candidate volume is Σ|probed cell| · 4 bytes of codes (the
    * 64× storage cut where it matters — the scan), the ADC and cell
    * frames broadcast at queries×M×16 and queries×nprobe rows, and the
    * per-query top-k is a window over probed-cells-sized groups. The
    * nprobe dial and the adaptive cell split (s8) govern 100 TB recall
    * and cost; the join shape is unchanged.
    */
  def ivfPqTopk(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopkImpl(spark, sfDir, filtered = false)

  /** s17 — FILTERED IVF-PQ: the s13 fused read path with s15's tenant
    * predicate — the production serving shape in full (quantized coarse
    * scoring AND a metadata constraint, composed). The tenant filter
    * evaluates on the cell-joined scan BEFORE the codes explode and
    * before any ADC partial is summed — single-stage filtered search at
    * the cheapest possible point: a candidate the predicate excludes
    * never costs even its integer lookups, and the 16-deep shortlist is
    * all same-tenant so the filter can't starve the rerank the way
    * post-filtering would. Widen-on-shortfall is part of this read path
    * too (r13, same rule as s15): the narrow-probe candidate count is
    * taken BEFORE the code explosion, and only short queries re-probe
    * at nprobe=4 — so a starved tenant gets neighbors at the cost of
    * one extra cell join for the tail, never a corpus rescan.
    */
  def filteredIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopkImpl(spark, sfDir, filtered = true)

  private def ivfPqTopkImpl(spark: SparkSession, sfDir: String,
      filtered: Boolean): DataFrame = {
    import Portable.tokenHash
    val encBase = vecs(spark, sfDir)
      .select(col("vec_id"), col("label"), col("v"),
        array((0 until M).map(m => codeOf(col("v"), m)): _*).as("codes"))
    val enc = (if (filtered)
        encBase.withColumn("tenant",
          tokenHash(col("vec_id").cast("string")) % Tenants)
      else encBase)
      // referenced by the codebook build, the query side, the candidate
      // scan, and the rerank join — materialize the encode pass once
      .localCheckpoint(false)
    val codebook = enc
      .select(col("codes"), posexplode(col("v")).as(Seq("dim", "value")))
      .select(expr(s"dim DIV $SubDim").as("m"), expr(s"dim % $SubDim").as("sd"),
        expr(s"codes[dim DIV $SubDim]").as("code"),
        floor(col("value") * 1e7).cast("long").as("q"))
      .groupBy("m", "sd", "code")
      .agg((sum(col("q")).cast("double") / 1e7 / count(lit(1))).as("centroid"))
    val qCols = Seq(col("vec_id").as("query_id"), col("v").as("qv"),
      col("label").as("qlabel")) ++
      (if (filtered) Seq(col("tenant").as("qtenant")) else Seq.empty)
    val q = enc.filter(col("vec_id") < nQueries).select(qCols: _*)
    val cents = centroidVectors(spark, sfDir)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("label"))
    val tenantCols =
      if (filtered) Seq(col("qtenant")) else Seq.empty[Column]
    // s13 probes exactly nprobe=2 (rk=1); s17 ranks the widened cell
    // set up front (rk<=WidenedOtherCells) so its widen-on-shortfall
    // can re-probe short queries without re-ranking centroids
    val maxRk = if (filtered) WidenedOtherCells else 1
    val rankedOther = q.crossJoin(broadcast(cents)) // |cells|-row frame
      .filter(col("label") =!= col("qlabel"))
      .select(Seq(col("query_id"), col("label"),
        cosineSim(col("qv"), col("cv")).as("cs")) ++ tenantCols: _*)
      .withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= maxRk)
      .select(Seq(col("query_id"), col("label"), col("rk")) ++ tenantCols: _*)
    val cellsAll = q.select(Seq(col("query_id"),
        col("qlabel").as("label"), lit(0).as("rk")) ++ tenantCols: _*)
      .unionByName(rankedOther)
    val cells =
      if (!filtered) cellsAll.drop("rk")
      else {
        // WIDEN-ON-SHORTFALL in the fused path (r13, same decision rule
        // as s15/s16): count same-tenant candidates in the NARROW probe
        // BEFORE the codes explode — one pass over the cell-joined scan,
        // no ADC work — and re-probe at nprobe=4 exactly the queries
        // with fewer than k candidates. The served candidate set is a
        // per-query superset of the narrow one.
        val narrow = cellsAll.filter(col("rk") <= 1)
        val nCand = enc.join(broadcast(narrow), Seq("label"))
          .filter(col("tenant") === col("qtenant") &&
            col("vec_id") =!= col("query_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n"))
        val shortfall = q.select("query_id")
          .join(nCand, Seq("query_id"), "left")
          .select(col("query_id"),
            (coalesce(col("n"), lit(0L)) < 3).as("widened"))
        cellsAll
          .join(broadcast(shortfall), Seq("query_id"))
          .filter(col("rk") <=
            when(col("widened"), WidenedOtherCells).otherwise(1))
          .drop("rk", "widened")
      }
    val qDims = q.select(col("query_id"), posexplode(col("qv")).as(Seq("dim", "qval")))
      .select(col("query_id"), expr(s"dim DIV $SubDim").as("m"),
        expr(s"dim % $SubDim").as("sd"), col("qval"))
    val adc = qDims.join(broadcast(codebook), Seq("m", "sd"))
      .select(col("query_id"), col("m"), col("code"),
        floor(col("qval") * col("centroid") * 1e7).cast("long").as("t"))
      .groupBy("query_id", "m", "code")
      .agg(sum("t").as("partial"))
    // the fused scan: codes of the probed cells only; with the tenant
    // predicate (s17) evaluated HERE, before the codes even explode
    val cand = enc.join(broadcast(cells), Seq("label"))
      .filter(col("vec_id") =!= col("query_id") &&
        (if (filtered) col("tenant") === col("qtenant") else lit(true)))
      .select(col("query_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
    val scored = cand.join(broadcast(adc), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("partial").as("iscore"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("iscore").desc, col("vec_id"))
    val shortlist = scored.withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= IvfPqShortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val reranked = shortlist
      .join(enc.select(col("vec_id").as("neighbor_id"), col("v").as("nv")),
        Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("nv"), col("qv")).as("cos_raw"))
    topkOut(reranked, 3)
  }

  val queries: Map[String, Q] = Map(
    "s13_ivf_pq" -> (ivfPqTopk _),
    "s17_filtered_ivf_pq" -> (filteredIvfPq _),
    "s12_mmr_diversify" -> (mmrDiversify _),
    "s10_kmeans_step" -> (kmeansStep _),
    "s11_recall_eval" -> (recallEval _),
    "s1_brute_topk" -> (bruteTopk _),
    "s2_ivf_topk" -> (ivfTopk _),
    "s3_lsh_topk" -> (lshTopk _),
    "s4_ivf_centroids" -> (ivfCentroids _),
    "s5_ivf_nprobe" -> (ivfNprobeTopk _),
    "s15_filtered_topk" -> (filteredTopk _),
    "s16_filtered_recall" -> (filteredRecallEval _),
    "s6_sq_rerank" -> (sqRerankTopk _),
    "s7_pq_rerank" -> (pqRerankTopk _),
    "s8_knn_join" -> (knnJoin _),
    "s9_range_search" -> (rangeSearch _),
    "s14_bitext_margin" -> (bitextMargin _)
  )

  /** s7's subspace-code expression, DuckDB side (lists are 1-based). */
  private def codeSql(m: Int): String =
    (0 until CodePlanes).map { p =>
      val lits = Dedup.planes(p).slice(m * SubDim, (m + 1) * SubDim)
        .map(x => s"$x.0").mkString("[", ",", "]") + "::DOUBLE[]"
      s"(CASE WHEN list_dot_product(v[${m * SubDim + 1}:${m * SubDim + SubDim}], $lits) > 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val cosSql =
    "(list_dot_product(e.v, q.qv) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))))"

  /** s8's sub-cell signature, DuckDB side: same 8 planes, same sign
    * comparisons, same bit weights as [[subSig]].
    */
  private val subSigSql: String =
    (0 until 8).map { p =>
      s"(CASE WHEN list_dot_product(v, ${Dedup.planesSqlLits(p)}) > 0 " +
        s"THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** s8's adaptive cell mask, DuckDB side: identical comparison chain to
    * [[splitMask]], indexing the same (1-based) mask list.
    */
  private val splitMaskSql: String = {
    val idx = (1 to 8).map(k =>
      s"(CASE WHEN n_vecs > ${CellN0 * (1L << (k - 1))} THEN 1 ELSE 0 END)")
      .mkString("1 + ", " + ", "")
    s"(list_value(CAST(0 AS BIGINT), 1, 3, 7, 15, 31, 63, 127, 255)[$idx])"
  }

  private def topkSql(scoredCte: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       |  round(cos_raw, 6) AS cos
       |FROM (
       |  SELECT query_id, neighbor_id, cos_raw,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos_raw DESC, neighbor_id) AS rank
       |  FROM ($scoredCte))
       |WHERE rank <= $k""".stripMargin

  /** The shared s15/s16 oracle CTE chain — the SQL twin of
    * [[filteredArms]]: tenanted corpus → centroids → queries → ranked
    * cells (rk 0..3) → narrow candidates → shortfall decision → widened
    * cells → served candidates. s15 serves top-3 of `cand_w`; s16
    * scores `cand_a` and `cand_w` against brute filtered truth. One
    * definition, so the widen rule can never drift between the serving
    * oracle and the eval oracle.
    */
  private lazy val filteredArmsSqlCtes: String =
    s"""ev AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    ${Portable.tokenHashSql("CAST(vec_id AS VARCHAR)")} % $Tenants
       |      AS tenant
       |  FROM embeddings),
       |cents AS (
       |  SELECT label, list(centroid ORDER BY dim) AS cv FROM (
       |    SELECT label, CAST(t.i AS INTEGER) AS dim,
       |      CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
       |        / 10000000.0 / count(*) AS centroid
       |    FROM embeddings, range(64) t(i)
       |    GROUP BY label, t.i)
       |  GROUP BY label),
       |q AS (
       |  SELECT vec_id AS query_id, v AS qv, label AS qlabel, tenant AS qtenant
       |  FROM ev WHERE vec_id < $nQueries),
       |ranked AS (
       |  SELECT query_id, qv, qtenant, label, rk FROM (
       |    SELECT q.query_id, q.qv, q.qtenant, c.label,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        (list_dot_product(q.qv, c.cv) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
       |        c.label) AS rk
       |    FROM q JOIN cents c ON c.label <> q.qlabel)
       |  WHERE rk <= $WidenedOtherCells),
       |cells_all AS (
       |  SELECT query_id, qv, qtenant, qlabel AS label, 0 AS rk FROM q
       |  UNION ALL
       |  SELECT query_id, qv, qtenant, label, rk FROM ranked),
       |cand_a AS (
       |  SELECT ca.query_id, e.vec_id AS neighbor_id,
       |    (list_dot_product(e.v, ca.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(ca.qv, ca.qv)))) AS cos_raw
       |  FROM cells_all ca JOIN ev e
       |    ON e.label = ca.label AND e.tenant = ca.qtenant
       |      AND e.vec_id <> ca.query_id
       |  WHERE ca.rk <= 1),
       |shortfall AS (
       |  SELECT q.query_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_cand2,
       |    COALESCE(c.n, 0) < 3 AS widened
       |  FROM q LEFT JOIN (
       |    SELECT query_id, count(*) AS n FROM cand_a GROUP BY query_id) c
       |    ON c.query_id = q.query_id),
       |cells_w AS (
       |  SELECT ca.query_id, ca.qv, ca.qtenant, ca.label
       |  FROM cells_all ca JOIN shortfall s ON s.query_id = ca.query_id
       |  WHERE ca.rk <= CASE WHEN s.widened THEN $WidenedOtherCells ELSE 1 END),
       |cand_w AS (
       |  SELECT cw.query_id, e.vec_id AS neighbor_id,
       |    (list_dot_product(e.v, cw.qv) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cw.qv, cw.qv)))) AS cos_raw
       |  FROM cells_w cw JOIN ev e
       |    ON e.label = cw.label AND e.tenant = cw.qtenant
       |      AND e.vec_id <> cw.query_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // s5's probe selection + s7's ADC scoring + s1's exact rerank,
    // composed over the probed cells only
    "s13_ivf_pq" -> ivfPqSql(filtered = false),
    "s17_filtered_ivf_pq" -> ivfPqSql(filtered = true),
    "s14_bitext_margin" -> s14Sql) ++ oracleRest

  /** s13/s17's shared fused-path SQL — the tenant column, the qtenant
    * projection, and the candidate-scan predicate appear iff filtered.
    */
  private def ivfPqSql(filtered: Boolean): String = {
    val tenantCol = if (filtered)
      s""",
         |    ${Portable.tokenHashSql("CAST(vec_id AS VARCHAR)")} % $Tenants
         |      AS tenant""".stripMargin
    else ""
    val qTenant = if (filtered) ", tenant AS qtenant" else ""
    val cellTenant = if (filtered) ", qtenant" else ""
    val noTenant = if (filtered) ", q.qtenant" else ""
    val candCond = if (filtered) "\n    AND e.tenant = cells.qtenant" else ""
    // s13 probes exactly nprobe=2; s17 ranks rk<=WidenedOtherCells and
    // re-derives the widen-on-shortfall decision (narrow same-tenant
    // candidate count before the code explosion), mirroring the Scala
    // read path CTE for CTE
    val cellsCtes =
      if (!filtered)
        s"""nearest_other AS (
           |  SELECT query_id, label$cellTenant FROM (
           |    SELECT q.query_id, c.label$noTenant,
           |      row_number() OVER (PARTITION BY q.query_id ORDER BY
           |        (list_dot_product(q.qv, c.cv) /
           |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
           |        c.label) AS rk
           |    FROM q JOIN cents c ON c.label <> q.qlabel)
           |  WHERE rk = 1),
           |cells AS (
           |  SELECT query_id, qlabel AS label$cellTenant FROM q
           |  UNION ALL
           |  SELECT query_id, label$cellTenant FROM nearest_other)""".stripMargin
      else
        s"""ranked AS (
           |  SELECT query_id, label, rk$cellTenant FROM (
           |    SELECT q.query_id, c.label$noTenant,
           |      row_number() OVER (PARTITION BY q.query_id ORDER BY
           |        (list_dot_product(q.qv, c.cv) /
           |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
           |        c.label) AS rk
           |    FROM q JOIN cents c ON c.label <> q.qlabel)
           |  WHERE rk <= $WidenedOtherCells),
           |cells_all AS (
           |  SELECT query_id, qlabel AS label, 0 AS rk$cellTenant FROM q
           |  UNION ALL
           |  SELECT query_id, label, rk$cellTenant FROM ranked),
           |shortfall AS (
           |  SELECT q.query_id, COALESCE(c.n, 0) < 3 AS widened
           |  FROM q LEFT JOIN (
           |    SELECT ca.query_id, count(*) AS n
           |    FROM cells_all ca JOIN enc e
           |      ON e.label = ca.label AND e.tenant = ca.qtenant
           |        AND e.vec_id <> ca.query_id
           |    WHERE ca.rk <= 1
           |    GROUP BY ca.query_id) c ON c.query_id = q.query_id),
           |cells AS (
           |  SELECT ca.query_id, ca.label$cellTenant
           |  FROM cells_all ca JOIN shortfall s ON s.query_id = ca.query_id
           |  WHERE ca.rk <= CASE WHEN s.widened THEN $WidenedOtherCells ELSE 1 END)""".stripMargin
    topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v$tenantCol
         |  FROM embeddings),
         |enc AS (
         |  SELECT vec_id, label, v${if (filtered) ", tenant" else ""},
         |    [${(0 until M).map(codeSql).mkString(",\n     ")}] AS codes
         |  FROM ev),
         |cents AS (
         |  SELECT label, list(centroid ORDER BY dim) AS cv FROM (
         |    SELECT label, CAST(t.i AS INTEGER) AS dim,
         |      CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
         |        / 10000000.0 / count(*) AS centroid
         |    FROM embeddings, range(64) t(i)
         |    GROUP BY label, t.i)
         |  GROUP BY label),
         |q AS (
         |  SELECT vec_id AS query_id, v AS qv, label AS qlabel$qTenant
         |  FROM ev WHERE vec_id < $nQueries),
         |$cellsCtes,
         |dims AS (
         |  SELECT t.i // $SubDim AS m, t.i % $SubDim AS sd,
         |    codes[t.i // $SubDim + 1] AS code,
         |    CAST(floor(v[t.i + 1] * 10000000.0) AS BIGINT) AS qq
         |  FROM enc, range(64) t(i)),
         |codebook AS (
         |  SELECT m, sd, code,
         |    CAST(sum(qq) AS DOUBLE) / 10000000.0 / count(*) AS centroid
         |  FROM dims GROUP BY m, sd, code),
         |qd AS (
         |  SELECT query_id, t.i // $SubDim AS m, t.i % $SubDim AS sd,
         |    qv[t.i + 1] AS qval
         |  FROM q, range(64) t(i)),
         |adc AS (
         |  SELECT query_id, m, code,
         |    CAST(sum(CAST(floor(qval * centroid * 10000000.0) AS BIGINT)) AS BIGINT)
         |      AS partial
         |  FROM qd JOIN codebook USING (m, sd)
         |  GROUP BY query_id, m, code),
         |cand AS (
         |  SELECT cells.query_id, e.vec_id, t.m AS m, e.codes[t.m + 1] AS code
         |  FROM cells JOIN enc e ON e.label = cells.label
         |    AND e.vec_id <> cells.query_id$candCond
         |  CROSS JOIN range($M) t(m)),
         |sc AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(sum(partial) AS BIGINT) AS iscore
         |  FROM cand JOIN adc USING (query_id, m, code)
         |  GROUP BY cand.query_id, cand.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY iscore DESC, vec_id) AS crk
         |    FROM sc) WHERE crk <= $IvfPqShortlist)
         |SELECT short.query_id, short.neighbor_id, $cosSql AS cos_raw
         |FROM short JOIN ev e ON e.vec_id = short.neighbor_id
         |           JOIN q ON q.query_id = short.query_id""".stripMargin, 3)
  }

  private lazy val s14Sql: String =
      s"""WITH ev0 AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |nvv AS (SELECT count(*) AS n_vecs FROM embeddings),
         |ev AS (
         |  SELECT vec_id, label, v, $subSigSql & $splitMaskSql AS subcell
         |  FROM ev0 CROSS JOIN nvv),
         |pos AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, cmic FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |      CAST(floor($cosSql * 1000000.0) AS BIGINT) AS cmic
         |    FROM ev e JOIN (SELECT vec_id, label, subcell, v AS qv FROM ev
         |                    WHERE vec_id % 2 = 0) q
         |      ON e.label = q.label AND e.subcell = q.subcell
         |    WHERE e.vec_id % 2 = 1)
         |  WHERE cmic > 0),
         |fwd AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS nf,
         |    CAST(sum(cmic) AS BIGINT) AS sumf
         |  FROM (SELECT query_id, cmic,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY cmic DESC, neighbor_id) AS rk
         |        FROM pos)
         |  WHERE rk <= $MarginK GROUP BY query_id),
         |bwd AS (
         |  SELECT neighbor_id, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(cmic) AS BIGINT) AS sumb
         |  FROM (SELECT neighbor_id, cmic,
         |          row_number() OVER (PARTITION BY neighbor_id
         |                             ORDER BY cmic DESC, query_id) AS rk
         |        FROM pos)
         |  WHERE rk <= $MarginK GROUP BY neighbor_id),
         |m AS (
         |  SELECT p.query_id, p.neighbor_id, p.cmic,
         |    (2000000 * p.cmic * nf * nb) // (sumf * nb + sumb * nf)
         |      AS margin_micro
         |  FROM pos p JOIN fwd USING (query_id) JOIN bwd USING (neighbor_id))
         |SELECT query_id, neighbor_id, cmic AS cos_micro, margin_micro
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY margin_micro DESC, neighbor_id) AS rank FROM m)
         |WHERE rank = 1 AND margin_micro >= 1000000""".stripMargin

  private lazy val oracleRest: Map[String, String] = Map(
    "s9_range_search" ->
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  round($cosSql, 6) AS cos
         |FROM ev e CROSS JOIN (SELECT vec_id, v AS qv FROM ev
         |                      WHERE vec_id < $nQueries) q
         |WHERE e.vec_id <> q.vec_id AND $cosSql >= $RangeTau""".stripMargin,
    "s1_brute_topk" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, $cosSql AS cos_raw
         |FROM ev e CROSS JOIN (SELECT vec_id, v AS qv FROM ev WHERE vec_id < $nQueries) q
         |WHERE e.vec_id <> q.vec_id""".stripMargin, 5),
    "s2_ivf_topk" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, $cosSql AS cos_raw
         |FROM ev e JOIN (SELECT vec_id, label, v AS qv FROM ev WHERE vec_id < $nQueries) q
         |  ON e.label = q.label AND e.vec_id <> q.vec_id""".stripMargin, 3),
    "s3_lsh_topk" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |bucketed AS (
         |  ${(0 until 4).map(t =>
             s"SELECT vec_id, $t AS tbl, ${Dedup.bucketSql("v", t)} AS bkt FROM ev")
             .mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM bucketed c JOIN bucketed q
         |    ON c.tbl = q.tbl AND c.bkt = q.bkt
         |  WHERE q.vec_id < $nQueries AND c.vec_id <> q.vec_id)
         |SELECT cand.query_id, cand.neighbor_id, $cosSql AS cos_raw
         |FROM cand JOIN ev e ON e.vec_id = cand.neighbor_id
         |          JOIN (SELECT vec_id, v AS qv FROM ev) q ON q.vec_id = cand.query_id""".stripMargin, 3),
    "s10_kmeans_step" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, label, t.i AS dim, qv[t.i + 1] AS qd
        |  FROM q, range(64) t(i)),
        |c AS (
        |  SELECT label AS clabel, dim,
        |    CAST(sum(qd) AS BIGINT) // CAST(count(*) AS BIGINT) AS cq
        |  FROM e GROUP BY label, dim),
        |cv AS (SELECT clabel, list(cq ORDER BY dim) AS cv FROM c GROUP BY clabel),
        |d AS (
        |  SELECT q.vec_id, q.label, cv.clabel,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS dist
        |  FROM q CROSS JOIN cv),
        |best AS (
        |  SELECT vec_id, label, clabel, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rk
        |  FROM d)
        |SELECT vec_id, label AS old_label, CAST(clabel AS INTEGER) AS new_label,
        |  clabel <> label AS moved, dist AS dist_sq_q
        |FROM best WHERE rk = 1""".stripMargin,
    "s4_ivf_centroids" ->
      """SELECT label, CAST(t.i AS INTEGER) AS dim,
        |  CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
        |    / 10000000.0 / count(*) AS centroid
        |FROM embeddings, range(64) t(i)
        |GROUP BY label, t.i""".stripMargin,
    "s5_ivf_nprobe" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cents AS (
         |  SELECT label, list(centroid ORDER BY dim) AS cv FROM (
         |    SELECT label, CAST(t.i AS INTEGER) AS dim,
         |      CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
         |        / 10000000.0 / count(*) AS centroid
         |    FROM embeddings, range(64) t(i)
         |    GROUP BY label, t.i)
         |  GROUP BY label),
         |q AS (
         |  SELECT vec_id AS query_id, v AS qv, label AS qlabel
         |  FROM ev WHERE vec_id < $nQueries),
         |nearest_other AS (
         |  SELECT query_id, qv, label FROM (
         |    SELECT q.query_id, q.qv, c.label,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (list_dot_product(q.qv, c.cv) /
         |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
         |        c.label) AS rk
         |    FROM q JOIN cents c ON c.label <> q.qlabel)
         |  WHERE rk = 1),
         |cells AS (
         |  SELECT query_id, qv, qlabel AS label FROM q
         |  UNION ALL
         |  SELECT query_id, qv, label FROM nearest_other)
         |SELECT cells.query_id, e.vec_id AS neighbor_id,
         |  (list_dot_product(e.v, cells.qv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cells.qv, cells.qv)))) AS cos_raw
         |FROM cells JOIN ev e
         |  ON e.label = cells.label AND e.vec_id <> cells.query_id""".stripMargin, 3),
    // s16: the s15 CTEs (ev-with-tenant / cents / q / ranked probe
    // cells) re-derived end-to-end — both arms, the shortfall
    // detector, the widened probe set, and the filtered brute truth
    // are all restated in SQL, so the oracle pins the widen DECISION
    // as well as the recall arithmetic
    "s16_filtered_recall" ->
      s"""WITH $filteredArmsSqlCtes,
         |top_a AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_raw DESC, neighbor_id) AS rank
         |    FROM cand_a) WHERE rank <= 3),
         |top_w AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_raw DESC, neighbor_id) AS rank
         |    FROM cand_w) WHERE rank <= 3),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (list_dot_product(e.v, q.qv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))) DESC,
         |        e.vec_id) AS rank
         |    FROM ev e JOIN q
         |      ON e.tenant = q.qtenant AND e.vec_id <> q.query_id)
         |  WHERE rank <= 3),
         |perq AS (
         |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_nprobe2,
         |    CAST(sum(CASE WHEN w.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_widened
         |  FROM truth t
         |  LEFT JOIN top_a a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  LEFT JOIN top_w w ON w.query_id = t.query_id AND w.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id)
         |SELECT p.query_id, p.k, s.n_cand2, s.widened,
         |  p.hits_nprobe2, p.hits_widened,
         |  CAST((p.hits_nprobe2 * 1000000) // p.k AS BIGINT) AS recall2_ppm,
         |  CAST((p.hits_widened * 1000000) // p.k AS BIGINT) AS recallw_ppm
         |FROM perq p JOIN shortfall s ON s.query_id = p.query_id""".stripMargin,
    "s15_filtered_topk" -> topkSql(
      s"""WITH $filteredArmsSqlCtes
         |SELECT query_id, neighbor_id, cos_raw FROM cand_w""".stripMargin, 3),
    "s6_sq_rerank" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |qz AS (
         |  SELECT vec_id, v,
         |    list_transform(v, x -> CAST(floor(x * 64) AS BIGINT)) AS qz
         |  FROM ev),
         |q AS (SELECT vec_id AS query_id, v AS qv, qz AS qqz
         |      FROM qz WHERE vec_id < $nQueries),
         |coarse AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, e.v AS nv, q.qv,
         |    list_sum(list_transform(range(1, 65), i -> e.qz[i] * q.qqz[i])) AS iscore
         |  FROM qz e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id, nv, qv FROM (
         |    SELECT query_id, neighbor_id, nv, qv,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY iscore DESC, neighbor_id) AS crk
         |    FROM coarse) WHERE crk <= 16)
         |SELECT query_id, neighbor_id,
         |  (list_dot_product(nv, qv) /
         |    (sqrt(list_dot_product(nv, nv)) * sqrt(list_dot_product(qv, qv)))) AS cos_raw
         |FROM short""".stripMargin, 3),
    "s8_knn_join" -> topkSql(
      s"""WITH ev0 AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |nv AS (SELECT count(*) AS n_vecs FROM embeddings),
         |ev AS (
         |  SELECT vec_id, label, v, $subSigSql & $splitMaskSql AS subcell
         |  FROM ev0 CROSS JOIN nv),
         |cents AS (
         |  SELECT label, list(centroid ORDER BY dim) AS cv FROM (
         |    SELECT label, CAST(t.i AS INTEGER) AS dim,
         |      CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
         |        / 10000000.0 / count(*) AS centroid
         |    FROM embeddings, range(64) t(i)
         |    GROUP BY label, t.i)
         |  GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel, subcell FROM ev),
         |nearest_other AS (
         |  SELECT query_id, qv, label, subcell FROM (
         |    SELECT q.query_id, q.qv, c.label, q.subcell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (list_dot_product(q.qv, c.cv) /
         |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
         |        c.label) AS rk
         |    FROM q JOIN cents c ON c.label <> q.qlabel)
         |  WHERE rk = 1),
         |cells AS (
         |  SELECT query_id, qv, qlabel AS label, subcell FROM q
         |  UNION ALL
         |  SELECT query_id, qv, label, subcell FROM nearest_other)
         |SELECT cells.query_id, e.vec_id AS neighbor_id,
         |  (list_dot_product(e.v, cells.qv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cells.qv, cells.qv)))) AS cos_raw
         |FROM cells JOIN ev e
         |  ON e.label = cells.label AND e.subcell = cells.subcell
         |  AND e.vec_id <> cells.query_id""".stripMargin, 3),
    "s7_pq_rerank" -> topkSql(
      s"""WITH ev AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |enc AS (
         |  SELECT vec_id, v,
         |    [${(0 until M).map(codeSql).mkString(",\n     ")}] AS codes
         |  FROM ev),
         |encr AS (
         |  SELECT vec_id, t.m AS m, codes[t.m + 1] AS code
         |  FROM enc, range($M) t(m)),
         |dims AS (
         |  SELECT t.i // $SubDim AS m, t.i % $SubDim AS sd,
         |    codes[t.i // $SubDim + 1] AS code,
         |    CAST(floor(v[t.i + 1] * 10000000.0) AS BIGINT) AS q
         |  FROM enc, range(64) t(i)),
         |codebook AS (
         |  SELECT m, sd, code,
         |    CAST(sum(q) AS DOUBLE) / 10000000.0 / count(*) AS centroid
         |  FROM dims GROUP BY m, sd, code),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < $nQueries),
         |qd AS (
         |  SELECT query_id, t.i // $SubDim AS m, t.i % $SubDim AS sd,
         |    qv[t.i + 1] AS qval
         |  FROM q, range(64) t(i)),
         |adc AS (
         |  SELECT query_id, m, code,
         |    CAST(sum(CAST(floor(qval * centroid * 10000000.0) AS BIGINT)) AS BIGINT)
         |      AS partial
         |  FROM qd JOIN codebook USING (m, sd)
         |  GROUP BY query_id, m, code),
         |sc AS (
         |  SELECT adc.query_id, encr.vec_id,
         |    CAST(sum(partial) AS BIGINT) AS iscore
         |  FROM encr JOIN adc USING (m, code)
         |  WHERE encr.vec_id <> adc.query_id
         |  GROUP BY adc.query_id, encr.vec_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY iscore DESC, vec_id) AS crk
         |    FROM sc) WHERE crk <= 64)
         |SELECT short.query_id, short.neighbor_id, $cosSql AS cos_raw
         |FROM short JOIN ev e ON e.vec_id = short.neighbor_id
         |           JOIN q ON q.query_id = short.query_id""".stripMargin, 3),
    // s12: the same greedy chain as the Spark side, UNROLLED — sel1 is
    // the per-query relevance argmax; each later selall_i extends the
    // selected set with the (rel − maxsim)/2 argmax over the remainder.
    // DuckDB's recursive CTE can only see the previous iteration, so
    // the accumulating selected set is spelled out per step instead.
    "s12_mmr_diversify" -> {
      val poolSql =
        s"""ev AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < $nQueries),
           |pool AS (
           |  SELECT query_id, cid, v, rel FROM (
           |    SELECT q.query_id, e.vec_id AS cid, e.v, $cosSql AS rel,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY $cosSql DESC, e.vec_id) AS rn
           |    FROM ev e CROSS JOIN q WHERE e.vec_id <> q.query_id)
           |  WHERE rn <= $MmrPool),
           |pairs AS (
           |  SELECT p1.query_id, p1.cid AS a, p2.cid AS b,
           |    (list_dot_product(p1.v, p2.v) /
           |      (sqrt(list_dot_product(p1.v, p1.v)) * sqrt(list_dot_product(p2.v, p2.v)))) AS sim
           |  FROM pool p1 JOIN pool p2 USING (query_id) WHERE p1.cid <> p2.cid),
           |sel1 AS (
           |  SELECT query_id, cid, 1 AS step, rel AS mmr_raw FROM (
           |    SELECT query_id, cid, rel,
           |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS rn
           |    FROM pool) WHERE rn = 1),
           |selall1 AS (SELECT * FROM sel1)""".stripMargin
      val steps = (2 to MmrK).map { i =>
        s"""sel$i AS (
           |  SELECT query_id, cid, $i AS step, score AS mmr_raw FROM (
           |    SELECT c.query_id, c.cid, (c.rel - m.maxsim) / 2 AS score,
           |      row_number() OVER (PARTITION BY c.query_id
           |        ORDER BY (c.rel - m.maxsim) / 2 DESC, c.cid) AS rn
           |    FROM pool c
           |    JOIN (SELECT pr.query_id, pr.a, max(pr.sim) AS maxsim
           |          FROM pairs pr JOIN selall${i - 1} s
           |            ON pr.query_id = s.query_id AND pr.b = s.cid
           |          GROUP BY pr.query_id, pr.a) m
           |      ON m.query_id = c.query_id AND m.a = c.cid
           |    WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} s
           |                      WHERE s.query_id = c.query_id AND s.cid = c.cid))
           |  WHERE rn = 1),
           |selall$i AS (SELECT * FROM selall${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH $poolSql,
         |$steps
         |SELECT query_id, cid AS neighbor_id, CAST(step AS BIGINT) AS step,
         |  round(mmr_raw, 6) AS mmr
         |FROM selall$MmrK""".stripMargin
    },
    // s11: same ev/q/cents/cells CTEs as s1/s2/s5 (the family's SQL
    // mirrors), reduced to id sets and joined into per-query hit counts
    "s11_recall_eval" ->
      s"""WITH ev AS (
         |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlabel
         |      FROM ev WHERE vec_id < $nQueries),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY (list_dot_product(e.v, q.qv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))) DESC,
         |        e.vec_id) AS rank
         |    FROM ev e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= 3),
         |ivf1 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY (list_dot_product(e.v, q.qv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))) DESC,
         |        e.vec_id) AS rank
         |    FROM ev e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id)
         |  WHERE rank <= 3),
         |cents AS (
         |  SELECT label, list(centroid ORDER BY dim) AS cv FROM (
         |    SELECT label, CAST(t.i AS INTEGER) AS dim,
         |      CAST(sum(CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000000.0) AS BIGINT)) AS DOUBLE)
         |        / 10000000.0 / count(*) AS centroid
         |    FROM embeddings, range(64) t(i)
         |    GROUP BY label, t.i)
         |  GROUP BY label),
         |nearest_other AS (
         |  SELECT query_id, qv, label FROM (
         |    SELECT q.query_id, q.qv, c.label,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        (list_dot_product(q.qv, c.cv) /
         |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))) DESC,
         |        c.label) AS rk
         |    FROM q JOIN cents c ON c.label <> q.qlabel)
         |  WHERE rk = 1),
         |cells AS (
         |  SELECT query_id, qv, qlabel AS label FROM q
         |  UNION ALL
         |  SELECT query_id, qv, label FROM nearest_other),
         |ivf2 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT cells.query_id, e.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY cells.query_id
         |        ORDER BY (list_dot_product(e.v, cells.qv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cells.qv, cells.qv)))) DESC,
         |        e.vec_id) AS rank
         |    FROM cells JOIN ev e ON e.label = cells.label AND e.vec_id <> cells.query_id)
         |  WHERE rank <= 3)
         |SELECT b.query_id,
         |  CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(CASE WHEN i1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_nprobe1,
         |  CAST(sum(CASE WHEN i2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_nprobe2,
         |  CAST((CAST(sum(CASE WHEN i1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS recall1_ppm,
         |  CAST((CAST(sum(CASE WHEN i2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS recall2_ppm
         |FROM brute b
         |LEFT JOIN ivf1 i1 ON i1.query_id = b.query_id AND i1.neighbor_id = b.neighbor_id
         |LEFT JOIN ivf2 i2 ON i2.query_id = b.query_id AND i2.neighbor_id = b.neighbor_id
         |GROUP BY b.query_id""".stripMargin
  )
}
