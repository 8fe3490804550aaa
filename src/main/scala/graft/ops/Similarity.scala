package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Expressions.float_vector_dot
import graft.plans.Materialize.CheckpointOps

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale playbook:
  *  - brute-force top-k: exact, O(probes x corpus) — correct baseline and
  *    the oracle for recall measurement. Probes are broadcast (small side)
  *    so the corpus never shuffles.
  *  - LSH-bucketed (random hyperplanes): corpus is signed once (narrow),
  *    probes meet only their bucket — the 100 TB path, recall tunable via
  *    signature bits / multi-probe.
  *
  * Dot products run through the codegen'd [[graft.functions.Expressions.FloatVectorDot]]
  * — sequential left-to-right double accumulation, deterministic and
  * oracle-reproducible. Norms are computed once per row on each side of
  * the join, never per pair.
  */
object Similarity {

  /** Sequential double-precision dot product of two float vectors. */
  def dot(a: Column, b: Column): Column = float_vector_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact top-k cosine neighbors for each probe. Probes (small) are
    * broadcast against the corpus; ranking uses the *rounded* score plus
    * id as tie-break so results are stable across engines and FP orders.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
      norm(col(vecCol)).as("cand_norm"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      norm(col(vecCol)).as("probe_norm"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("score", round(
        dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "cand_id", "score", "rank")
  }

  /** Top principal direction of the embedding second-moment matrix by
    * integer power iteration — the PCA-whitening / dominant-axis
    * primitive, formulated engine-exact end to end. One distributed
    * pass builds the d×d Gram matrix over micro-quantized vectors
    * ([[graft.functions.Aggregators.GramMatrix]]: fixed d² longs of
    * map-side-combinable state — the corpus is never exploded into
    * pair terms). The matrix itself is bounded metadata (d² longs,
    * the IVF-codebook treatment), so the iteration runs as a driver
    * tight loop of exact integer steps: w = (G div 10⁹)·v, then
    * v' = w div max(1, max|w| div 10⁶) — truncating 64-bit arithmetic
    * only, so an SQL oracle unrolling the same rounds is bit-identical
    * (both engines truncate toward zero; the div-10⁹ pre-scale keeps
    * every product inside BIGINT). Uncentered by design (documented:
    * the dominant axis of raw mass; center upstream if you need the
    * covariance eigenvector). Start vector = 10⁶·1s. Returns
    * (i, v_scaled): the direction at max-component scale 10⁶, sign
    * fixed by the iteration itself.
    */
  def topPrincipalDirection(embs: DataFrame, idCol: String, vecCol: String,
                            dim: Int, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = embs.sparkSession
    val gram = udaf(new graft.functions.Aggregators.GramMatrix(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val g = embs
      .select(graft.functions.Expressions.quantize_micro(col(vecCol)).as("vq"))
      .agg(gram(col("vq")).as("g"))
      .head().getSeq[Long](0).toArray
    val gs = g.map(_ / 1000000000L)
    var v = Array.fill(dim)(1000000L)
    for (_ <- 1 to iterations) {
      val w = Array.tabulate(dim) { i =>
        var s = 0L
        var j = 0
        while (j < dim) { s += gs(i * dim + j) * v(j); j += 1 }
        s
      }
      val mx = w.map(math.abs).max
      val tau = math.max(1L, mx / 1000000L)
      v = w.map(_ / tau)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toSeq.toDF("i", "v_scaled")
  }

  /** Sign-bit binary quantization code of an embedding: ceil(dim/32)
    * packed 32-bit words (bit = 1 iff the component is >= 0), via the
    * codegen'd [[graft.functions.Expressions.SignBitsPacked]]. 1 bit
    * per dimension — a 64-dim float vector becomes two longs, 32x
    * narrower than the embedding, which is the shuffle/broadcast width
    * a 100 TB candidate stage actually moves.
    */
  def signCode(vec: Column, dim: Int): Column = {
    require(dim >= 1, "dim must be >= 1")
    array((0 until (dim + 31) / 32)
      .map(w => graft.functions.Expressions.sign_bits_packed(vec, w * 32)): _*)
  }

  /** Binary-quantized ANN: Hamming-distance candidate generation over
    * packed sign codes, then exact cosine re-ranking of the C survivors
    * — the asymmetric two-stage search (compressed codes prune, floats
    * decide) that PQ/ADC applies with codebooks, done here with the
    * zero-training 1-bit code. The candidate stage compares two longs
    * per pair (codegen'd popcount via
    * [[graft.functions.Expressions.HammingPacked]]) instead of a
    * 64-float dot product; the exact cosine runs only on
    * `candidates`-per-probe rows. Probes broadcast like
    * [[bruteForceTopK]] (small probe set contract); at corpus x corpus
    * scale the code table is what multi-index-hashing buckets would
    * partition — the codes, never the floats, are the moved bytes.
    * Both window stages use rounded-score/id tie-breaks so the row set
    * is engine-exact; `hamming` rides along for recall audits.
    */
  def binaryHammingTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                        vecCol: String, dim: Int, k: Int,
                        candidates: Int = 20): DataFrame = {
    require(candidates >= k, "candidate pool must be at least k")
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
      norm(col(vecCol)).as("cand_norm"), signCode(col(vecCol), dim).as("cand_sig"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      norm(col(vecCol)).as("probe_norm"), signCode(col(vecCol), dim).as("probe_sig"))
    val cand = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("hamming",
        graft.functions.Expressions.hamming_packed(col("probe_sig"), col("cand_sig")))
    val wh = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("cand_id"))
    val pool = cand.withColumn("hrank", row_number().over(wh))
      .filter(col("hrank") <= candidates)
    val rescored = pool.withColumn("score", round(
      dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "cand_id", "hamming", "score", "rank")
  }

  /** Per-dimension feature profile of an embedding column: count,
    * positive count, min, max per dim (1-based) — the normalization /
    * clipping bounds a feature-scaling stage needs. One posexplode +
    * grouped aggregation; only order-INDEPENDENT aggregates (counts and
    * extremes — never float sums) so the result is engine-exact at any
    * partitioning.
    */
  def dimStats(embs: DataFrame, vecCol: String): DataFrame =
    embs.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        count(when(col("v") > 0, 1)).as("n_pos"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))

  /** Symmetric int8 quantization profile of an embedding column: per
    * vector, scale = max|x| / 127 and q_i = floor(x_i / scale + 0.5)
    * (half-up via floor — explicit, so both engines agree; banker's
    * `round` differs between them). All-zero vectors quantize to zeros
    * via the nullif(scale, 0) guard. Emitted as per-vector stats (sum /
    * min / max / saturation count) rather than the int8 array itself:
    * integer aggregates compare engine-exactly, and at 100 TB the stats
    * are the validation artifact while the arrays stay columnar.
    */
  def quantizeInt8Stats(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val qArr = """transform(v, x -> CAST(coalesce(
                    floor(CAST(x AS DOUBLE) / nullif(scale, 0.0) + 0.5D),
                    0.0) AS BIGINT))"""
    embs
      .select(col(idCol), col(vecCol).as("v"),
        expr("CAST(array_max(transform(v, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)")
          .as("max_abs"))
      .withColumn("scale",
        coalesce(nullif(col("max_abs"), lit(0.0)) / lit(127.0), lit(0.0)))
      .select(col(idCol), col("scale"),
        expr(s"aggregate($qArr, CAST(0 AS BIGINT), (acc, q) -> acc + q)").as("q_sum"),
        expr(s"array_min($qArr)").as("q_min"),
        expr(s"array_max($qArr)").as("q_max"),
        expr(s"size(filter($qArr, q -> abs(q) >= 127))").cast("long").as("n_saturated"))
  }

  // ---- IVF (inverted-file) index ----

  /** Micro-unit quantization of a float vector: round half-up each
    * coordinate to an integer count of 1e-6 units. Every op (float→double
    * cast, one multiply, one add, floor) is a single IEEE-exact step, so
    * any engine computes the identical integers — the foundation that
    * makes the whole Lloyd loop below engine-reproducible. Runs through
    * the codegen'd [[graft.functions.Expressions.QuantizeMicro]] (same
    * IEEE steps as the HOF `transform` form, no interpreted lambda).
    */
  private def quantized(vec: Column): Column =
    graft.functions.Expressions.quantize_micro(vec)

  /** Argmin cell id for a micro-unit vector against an integer codebook:
    * squared L2 distance in pure BIGINT arithmetic (order-independent,
    * overflow-safe: |coord| ≤ ~1e7 ⇒ per-dim square ≤ 1e14, ×64 dims
    * ≪ 2^63). First-match ties = lowest cell wins. One allocation-free
    * codegen'd loop ([[graft.functions.Expressions.NearestCellQ]]) — the
    * HOF zip_with/aggregate form evaluated interpreted per (row × cell)
    * and dominated the operator's cost.
    */
  private def nearestCellQ(vq: Column, centroids: Array[Array[Long]]): Column =
    graft.functions.Expressions.nearest_cell_q(vq, centroids)

  /** Train a tiny IVF codebook in scaled-integer space over an
    * already-quantized (`__id`, `vq`) table: deterministic init
    * (lowest-id vectors), `iters` Lloyd rounds where assignment is
    * integer squared-L2 argmin and the update is per-dimension integer
    * mean (BIGINT sum, truncating division — both order-independent),
    * so the resulting codebook is bit-identical on any engine and
    * partitioning — the `pagerank_scaled` treatment applied to k-means.
    * Empty cells keep their previous centroid. The codebook is
    * driver-held model state (kCells x dim longs — bytes, not data),
    * the standard IVF shape: training touches the corpus `iters` times,
    * each round one narrow assignment pass + one (cell, dim)-keyed
    * integer mean. Callers pass the one materialized quantized corpus
    * they also use for the final assignment.
    */
  private def trainIvfQuantized(vq: DataFrame, kCells: Int,
                                iters: Int): Array[Array[Long]] = {
    var centroids: Array[Array[Long]] = vq
      .orderBy(col("__id")).limit(kCells)
      .select(col("vq")).collect()
      .map(_.getSeq[Long](0).toArray)
    for (_ <- 0 until iters) {
      val assigned = vq.select(col("vq"),
        nearestCellQ(col("vq"), centroids).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("vq")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val updated = centroids.map(_.clone())
      // truncating Long division — matches SQL integer `//`/`div` exactly
      means.foreach(r =>
        updated(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3))
      centroids = updated
    }
    centroids
  }

  /** ANN via IVF: corpus assigned to its nearest cell once; each probe
    * visits only its `nProbe` closest cells and re-ranks exactly inside
    * them. Recall grows with nProbe; brute force is the recall oracle.
    * Cell geometry runs entirely in the quantized-integer space of
    * [[trainIvfQuantized]] (ties on distance break to the lowest cell), so the
    * candidate sets — and with the rounded-score re-rank, the full
    * result — are engine-exact and DuckDB-oracle-checkable.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
              k: Int, kCells: Int = 16, nProbe: Int = 3): DataFrame = {
    // one materialized pass carries everything training and assignment
    // need (vectors, norms, quantized coords): the Lloyd rounds and the
    // final cell assignment all read this in-memory table instead of
    // re-scanning and re-quantizing the source per round (NOTE:
    // localCheckpoint truncates lineage — a lost block fails the job)
    val prepared = corpus.select(col(idCol).as("__id"), col(vecCol).as("cand_vec"),
        norm(col(vecCol)).as("cand_norm"), quantized(col(vecCol)).as("vq"))
      .checkpointAt("Similarity.ivfServe.prepared")
    val centroids = trainIvfQuantized(prepared, kCells, iters = 2)
    val c = prepared.select(col("__id").as("cand_id"), col("cand_vec"),
      col("cand_norm"), nearestCellQ(col("vq"), centroids).as("cell"))
    // probe side: nProbe nearest cells by (integer dist, cell) through
    // the codegen'd selection loop (NearestCellsQ — same (dist, cell)
    // order as the struct-sort HOF it replaced, which interpreted a
    // lambda per (row × cell) and dominated the probe at corpus scale)
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
        norm(col(vecCol)).as("probe_norm"), quantized(col(vecCol)).as("__pq"))
      .select(col("probe_id"), col("probe_vec"), col("probe_norm"),
        explode(graft.functions.Expressions.nearest_cells_q(
          col("__pq"), centroids, nProbe)).as("cell"))
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("score", round(
        dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "cand_id", "score", "rank")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means, then pruning
    * near-duplicates WITHIN each cluster only — the trick that turns an
    * O(n^2) all-pairs cosine sweep into sum-over-cells of |cell|^2,
    * with kCells the knob that bounds cell size at any corpus scale
    * (kCells grows with n, cell population stays ~n/kCells).
    *
    * Engine-exact end to end: clustering is the scaled-integer Lloyd
    * of [[trainIvfQuantized]] (BIGINT arithmetic, deterministic init, ties to
    * the lowest cell), so cell membership is bit-identical on any
    * engine; the prune rule is declarative — a vector is dropped when
    * its rounded cosine to ANY lower-id member of its cell reaches
    * `tau` (keep-lowest-id, the deterministic stand-in for SemDeDup's
    * keep-one-per-epsilon-ball) — so the kept/dropped verdicts are a
    * simple EXISTS any SQL engine replays. Emits the full verdict
    * table (vec_id, cell, kept), not just survivors, so the caller can
    * audit prune rate per cell.
    *
    * Plan shape: one bounded self-join on the cell key (co-partitions
    * both sides, quadratic confined to a cell — the
    * [[knnGraphBlocked]] bound), one semi-join back. No broadcast of
    * the corpus, no all-pairs, no window sort.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    kCells: Int, tau: Double, iters: Int = 2): DataFrame = {
    // one materialized pass feeds training, assignment, and scoring
    // (NOTE: localCheckpoint truncates lineage — a lost block fails the
    // job and the caller must retry)
    val prepared = embs.select(col(idCol).as("__id"), col(vecCol).as("__vec"),
        norm(col(vecCol)).as("__norm"), quantized(col(vecCol)).as("vq"))
      .checkpointAt("Similarity.ivfIndex.prepared")
    val centroids = trainIvfQuantized(prepared, kCells, iters)
    val assigned = prepared.select(col("__id"), col("__vec"), col("__norm"),
      nearestCellQ(col("vq"), centroids).as("cell"))
    val a = assigned.select(col("cell"), col("__id").as("vec_id"),
      col("__vec").as("__va"), col("__norm").as("__na"))
    val b = assigned.select(col("cell"), col("__id").as("__nb_id"),
      col("__vec").as("__vb"), col("__norm").as("__nb"))
    val dupIds = a.join(b, Seq("cell"))
      .filter(col("__nb_id") < col("vec_id"))
      .withColumn("__score", round(
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("__score") >= tau)
      .select(col("vec_id"))
    assigned.select(col("__id").as("vec_id"), col("cell"))
      .join(dupIds.distinct().withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("__dup").isNull.as("kept"))
  }

  private def subVec(s: Int, subDim: Int): Column =
    slice(col("vq"), s * subDim + 1, subDim)

  /** Product quantization (Jégou et al. 2011, TPAMI): split the vector
    * into `m` contiguous subspaces and train an independent `kSub`-cell
    * codebook per subspace — a vector compresses to m small codes
    * (m bytes at kSub<=256), the memory-bound ANN representation at
    * 100 TB (64 float dims -> 8 bytes, 32x). Training is the same
    * scaled-integer Lloyd as [[trainIvfQuantized]] per subspace, FUSED: each
    * round runs ONE job for all m subspaces (per-subspace assignment
    * columns, union'd (sub, cell, pos) integer-mean agg) instead of m
    * sequential trainings — m times fewer driver round trips, identical
    * arithmetic. Deterministic init (lowest-id vectors, shared across
    * subspaces), BIGINT means with truncating division, ties to the
    * lowest cell: bit-identical codebooks on any engine.
    *
    * Returns codebooks(sub)(cell)(dimWithinSub).
    */
  private def trainPqQuantized(prepared: DataFrame, m: Int, subDim: Int,
                               kSub: Int, iters: Int): Array[Array[Array[Long]]] = {
    // one init job seeds every subspace: the kSub lowest-id full vectors,
    // sliced per subspace on the driver (kSub x m x subDim longs — bytes)
    val seed = prepared.orderBy(col("__id")).limit(kSub)
      .select(col("vq")).collect().map(_.getSeq[Long](0).toArray)
    val codebooks: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      seed.map(v => v.slice(s * subDim, s * subDim + subDim)))
    for (_ <- 0 until iters) {
      // ONE fused job: per-subspace assignment + (sub, cell, pos) means
      val perSub = (0 until m).map { s =>
        val vqs = subVec(s, subDim)
        prepared.select(lit(s).as("sub"),
          nearestCellQ(vqs, codebooks(s)).as("cell"),
          posexplode(vqs).as(Seq("pos", "x")))
      }
      val means = perSub.reduce(_ union _)
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      // truncating Long division — matches SQL integer `//` exactly;
      // empty cells keep their previous centroid
      means.foreach(r => codebooks(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
        r.getLong(3) / r.getLong(4))
    }
    codebooks
  }

  /** PQ encoding profile: per vector, the m subspace codes plus the
    * total integer reconstruction error (squared L2 in micro-units
    * between the quantized vector and its per-subspace centroids) — the
    * audit table a PQ index build emits. Codes and error are pure BIGINT
    * arithmetic on the deterministic [[trainPqQuantized]] codebooks, so the whole
    * table is engine-exact. One narrow pass over the corpus after
    * training; nothing shuffles.
    */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, subDim: Int = 8, kSub: Int = 16,
              iters: Int = 2): DataFrame = {
    val prepared = corpus.select(col(idCol).as("vec_id"), quantized(col(vecCol)).as("vq"))
      .checkpointAt("Similarity.pqIndex.prepared")
    val codebooks = trainPqQuantized(prepared.withColumnRenamed("vec_id", "__id")
      .select(col("__id"), col("vq")), m, subDim, kSub, iters)
    val codeCols = (0 until m).map(s =>
      nearestCellQ(subVec(s, subDim), codebooks(s)).as(s"code_$s"))
    val withCodes = prepared.select(col("vec_id") +: col("vq") +: codeCols: _*)
    // reconstruction error: element_at picks the assigned centroid from a
    // literal array-of-arrays, zip_with/aggregate squares the residual —
    // bounded work (m x subDim) per row
    val errCols = (0 until m).map { s =>
      val cents = array(codebooks(s).map(c =>
        array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      val cent = element_at(cents, col(s"code_$s") + 1)
      aggregate(zip_with(subVec(s, subDim), cent, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    }
    withCodes.withColumn("err_q", errCols.reduce(_ + _))
      .drop("vq")
  }

  /** PQ search via asymmetric distance computation (ADC) — the lookup
    * path product quantization exists for: each probe precomputes one
    * small table per subspace (its integer squared-L2 distance to every
    * centroid, kSub entries), and a candidate's distance is then m table
    * lookups summed by its stored codes — no per-pair vector arithmetic
    * at all. At 100 TB the corpus side touches ONLY the m-byte codes
    * (the 32x-compressed representation); the probe tables are
    * broadcast-sized model state (probes x m x kSub longs).
    *
    * All-integer, so the ranking is engine-exact: ties break to the
    * lowest cand_id, selection runs through the bounded-heap
    * [[org.apache.spark.sql.graftbridge.TopKPerKey]] in smallest-first
    * mode (distance, not similarity). Recall vs exact cosine is the PQ
    * approximation trade; the codes' fidelity is audited by [[pqCodes]]'
    * reconstruction error.
    */
  def pqAdcTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int = 8, subDim: Int = 8,
                kSub: Int = 16, iters: Int = 2): DataFrame = {
    val prepared = corpus.select(col(idCol).as("cand_id"), quantized(col(vecCol)).as("vq"))
      .checkpointAt("Similarity.pqServe.prepared")
    val codebooks = trainPqQuantized(
      prepared.select(col("cand_id").as("__id"), col("vq")), m, subDim, kSub, iters)
    val codeCols = (0 until m).map(s =>
      nearestCellQ(subVec(s, subDim), codebooks(s)).as(s"__code_$s"))
    val coded = prepared.select(col("cand_id") +: codeCols: _*)
    val tableCols = (0 until m).map { s =>
      val vqs = subVec(s, subDim)
      array((0 until kSub).map { c =>
        val cent = array(codebooks(s)(c).map(lit).toIndexedSeq: _*)
        aggregate(zip_with(vqs, cent, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }.toIndexedSeq: _*).as(s"__tab_$s")
    }
    val pTab = probes.select(col(idCol).as("probe_id"), quantized(col(vecCol)).as("vq"))
      .select(col("probe_id") +: tableCols: _*)
    val adc = (0 until m).map(s =>
      element_at(col(s"__tab_$s"), col(s"__code_$s") + 1)).reduce(_ + _)
    val scored = coded.join(broadcast(pTab), col("probe_id") =!= col("cand_id"))
      .withColumn("adc_dist", adc)
      .select("probe_id", "cand_id", "adc_dist")
    val top = org.apache.spark.sql.graftbridge.TopKPerKey(
      scored, Seq("probe_id"), "adc_dist", k, smallest = true,
      tieBreakCol = Some("cand_id"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist"), col("cand_id"))
    top.withColumn("rank", row_number().over(w))
      .select("probe_id", "cand_id", "adc_dist", "rank")
  }

  /** Brute-force top-k through the custom bounded-heap operator
    * (graftbridge.TopKPerKey) instead of a window sort: same candidate
    * generation, O(n log k) selection with no per-partition sort buffer.
    * Scores are rounded and ties broken on cand_id exactly like
    * [[bruteForceTopK]], so the output ROW SET matches the window path
    * (only the rank column and row order differ) and is oracle-checkable.
    */
  def bruteForceTopKOperator(corpus: DataFrame, probes: DataFrame, idCol: String,
                             vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
      norm(col(vecCol)).as("cand_norm"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      norm(col(vecCol)).as("probe_norm"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("cand_id"))
      .withColumn("score", round(
        dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
      .select("probe_id", "cand_id", "score")
    org.apache.spark.sql.graftbridge.TopKPerKey(scored, Seq("probe_id"), "score", k,
      tieBreakCol = Some("cand_id"))
  }

  /** Exact kNN graph within blocks: every vector's top-k cosine
    * neighbors among the vectors sharing its `blockCol` value (a
    * quantizer cell, cluster id, language, shard — any blocking key a
    * pipeline computes upstream). The graph a near-dup/diversity stage
    * consumes, built the scalable way: the equi-join on the block key
    * co-partitions both sides (one shuffle, no broadcast of the corpus,
    * no all-pairs), the quadratic is confined to a block — the same
    * bound [[graft.ops.Dedup.embeddingCosinePairs]] relies on — and
    * per-source selection runs through the bounded-heap
    * [[org.apache.spark.sql.graftbridge.TopKPerKey]] operator, never a
    * window sort. Scores are rounded with ties to the smallest
    * neighbor id, so the row set is engine-exact (the
    * `ann_bruteforce_topk` treatment). At 100 TB block sizes are the
    * knob: cap them upstream (split oversized cells) and the join cost
    * is sum over blocks of |block|^2, embarrassingly parallel.
    */
  def knnGraphBlocked(embs: DataFrame, idCol: String, vecCol: String,
                      blockCol: String, k: Int): DataFrame = {
    val src = embs.select(col(blockCol).as("__blk"), col(idCol).as("src_id"),
      col(vecCol).as("src_vec"), norm(col(vecCol)).as("src_norm"))
    val dst = embs.select(col(blockCol).as("__blk_d"), col(idCol).as("dst_id"),
      col(vecCol).as("dst_vec"), norm(col(vecCol)).as("dst_norm"))
    val scored = src.join(dst, col("__blk") === col("__blk_d") &&
        col("src_id") =!= col("dst_id"))
      .withColumn("score", round(
        dot(col("src_vec"), col("dst_vec")) / (col("src_norm") * col("dst_norm")), 6))
      .select("src_id", "dst_id", "score")
    org.apache.spark.sql.graftbridge.TopKPerKey(scored, Seq("src_id"), "score", k,
      tieBreakCol = Some("dst_id"))
  }

  /** Hard-negative mining for contrastive training: for each probe, the
    * top-k most-similar corpus vectors whose `labelCol` DIFFERS from the
    * probe's — the near-boundary negatives a contrastive or metric-
    * learning objective wants, as opposed to easy random negatives.
    * Probes broadcast (small side), the label inequality rides the join
    * condition so same-label candidates never materialize, and per-probe
    * selection runs through the bounded-heap operator. Rounded scores +
    * candidate-id tie-break keep the row set engine-exact.
    */
  def hardNegativesTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                        vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(labelCol).as("__cl"),
      col(vecCol).as("cand_vec"), norm(col(vecCol)).as("cand_norm"))
    val p = probes.select(col(idCol).as("probe_id"), col(labelCol).as("__pl"),
      col(vecCol).as("probe_vec"), norm(col(vecCol)).as("probe_norm"))
    val scored = c.join(broadcast(p),
        col("probe_id") =!= col("cand_id") && col("__pl") =!= col("__cl"))
      .withColumn("score", round(
        dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
      .select("probe_id", "cand_id", "score")
    org.apache.spark.sql.graftbridge.TopKPerKey(scored, Seq("probe_id"), "score", k,
      tieBreakCol = Some("cand_id"))
  }

  /** Per-band (band, bucket) rows for every input row: `bands`
    * independent `bits`-bit hyperplane signatures, seeds offset per band,
    * all computed in one expression pass then position-exploded.
    */
  private def bandBuckets(df: DataFrame, idCol: String, vecCol: String,
                          outId: String, dim: Int, bits: Int, bands: Int): DataFrame =
    df.select(col(idCol).as(outId),
        posexplode(graft.functions.Expressions.hyperplane_signatures(
          col(vecCol), dim, bits, bands)).as(Seq("band", "bucket")))

  /** ANN via multi-band LSH: `bands` independent random-hyperplane
    * signatures; a candidate is any corpus row sharing a (band, bucket)
    * with the probe in ANY band (union across bands — recall compounds per
    * band where a single wide signature only shrinks it). `multiProbe`
    * additionally visits every 1-bit-flip neighbor bucket per band.
    * Candidates are deduped as bare (probe_id, cand_id) pairs before
    * vectors are joined back, so the bucket shuffle carries ids only, and
    * corpus buckets larger than `maxBucket` are dropped entirely (the
    * degenerate-bucket/spam safety valve, same contract as
    * [[Dedup.minhashLshPairs]]). Recall < 1 by design; the bruteForceTopK
    * path is the recall oracle.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, bits: Int = 8,
              bands: Int = 4, maxBucket: Int = 2000,
              multiProbe: Boolean = false): DataFrame =
    lshTopKFrom(
      bandBuckets(corpus, idCol, vecCol, "cand_id", dim, bits, bands),
      corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
        norm(col(vecCol)).as("cand_norm")),
      probes, idCol, vecCol, dim, k, bits, bands, maxBucket, multiProbe)

  /** Shared bucket-probe + re-rank core over an already-available corpus
    * index (freshly signed or read back from a persisted store).
    */
  private def lshTopKFrom(corpusBuckets: DataFrame, corpusVecs: DataFrame,
                          probes: DataFrame, idCol: String, vecCol: String,
                          dim: Int, k: Int, bits: Int, bands: Int,
                          maxBucket: Int, multiProbe: Boolean): DataFrame = {
    // hot-bucket guard: buckets over maxBucket are degenerate regions
    // whose candidates would explode the join — exclude, don't truncate.
    // Aggregate + anti-join, NOT count() OVER (PARTITION BY band,
    // bucket): the window formulation sorted the whole corpus bucket
    // table for a count that needs no order — at 100x corpus scale that
    // per-partition sort is the operator's dominant avoidable cost. The
    // hot list holds only over-cap buckets (tiny by definition), so AQE
    // broadcasts the anti-join; materializing the narrow (id, band,
    // bucket) table keeps the guard's second pass from re-signing the
    // corpus (or re-reading the store). Eager localCheckpoint, NOT
    // persist: there is no safe unpersist point in a lazily-returned
    // plan, and a CacheManager entry would leak per call — checkpoint
    // blocks are ContextCleaner-reclaimed once the caller drops the
    // result. The trade (same as Dedup.duplicateSpans / Curation):
    // lineage is truncated, so losing an executor that held blocks FAILS
    // the job — no replay — and the caller must retry.
    val buckets = corpusBuckets.checkpointAt("Similarity.lshBuckets")
    val hot = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket)
      .select(col("band"), col("bucket"))
    val bounded = buckets.join(hot, Seq("band", "bucket"), "left_anti")
    val pB0 = bandBuckets(probes, idCol, vecCol, "probe_id", dim, bits, bands)
    val pB = if (!multiProbe) pB0 else
      pB0.select(col("probe_id"), col("band"), explode(array(
          (col("bucket") +: (0 until bits).map(i =>
            col("bucket").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    // bucket join + dedup move (probe_id, cand_id) only — never vectors
    val cand = bounded.join(broadcast(pB), Seq("band", "bucket"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select("probe_id", "cand_id").distinct()
    val pVec = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      norm(col(vecCol)).as("probe_norm"))
    val scored = cand.join(corpusVecs, Seq("cand_id")).join(broadcast(pVec), Seq("probe_id"))
      .withColumn("score", round(
        dot(col("probe_vec"), col("cand_vec")) / (col("probe_norm") * col("cand_norm")), 6))
      .select("probe_id", "cand_id", "score")
    // top-k selection through the bounded-heap operator (O(n log k), no
    // per-partition sort of the candidate table); the rank window then
    // touches only the <= k survivors per probe, not every candidate.
    // Same row set as row_number(score desc, cand_id asc) <= k — the
    // heap's tie-break contract — except NULL/NaN scores (zero-norm
    // vectors) are dropped rather than ranked first.
    val top = org.apache.spark.sql.graftbridge.TopKPerKey(
      scored, Seq("probe_id"), "score", k, tieBreakCol = Some("cand_id"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id"))
    top.withColumn("rank", row_number().over(w))
      .select("probe_id", "cand_id", "score", "rank")
  }

  /** Incremental ANN maintenance: sign ONLY the incoming batch and append
    * its vectors + band buckets to a persisted index, idempotently
    * (first-write-wins on id — replayed batches converge). Per batch the
    * work is O(new), never O(corpus): the existing index is not re-read
    * and not re-signed. This is the weekly-ingest shape at 100 TB.
    */
  def appendLshIndex(newVectors: DataFrame, idCol: String, vecCol: String,
                     storeDir: String, dim: Int, bits: Int = 10,
                     bands: Int = 4): Unit = {
    val spark = newVectors.sparkSession
    // version guard: bucket tables built with different hyperplanes
    // (dim/bits/bands/seed) are incomparable — fail, don't mis-probe
    val family = s"hyperplane dim=$dim bits=$bits bands=$bands seed=42"
    graft.operators.Sinks.requireFamily(spark, storeDir, family)
    graft.operators.Sinks.appendDedup(
      newVectors.select(col(idCol).as("cand_id"), col(vecCol).as("cand_vec"),
        norm(col(vecCol)).as("cand_norm")),
      s"$storeDir/vectors", Seq("cand_id"))
    graft.operators.Sinks.appendDedup(
      bandBuckets(newVectors, idCol, vecCol, "cand_id", dim, bits, bands),
      s"$storeDir/buckets", Seq("cand_id", "band"))
    graft.operators.Sinks.stampFamily(spark, storeDir, family)
  }

  /** ANN lookup against the persisted index written by [[appendLshIndex]]:
    * probes are signed fresh; the corpus side is the stored bucket table
    * (narrow: id, band, bucket) and vector table. `bits`/`bands` must
    * match the values the index was built with.
    */
  def lshTopKIndexed(probes: DataFrame, idCol: String, vecCol: String,
                     storeDir: String, dim: Int, k: Int, bits: Int = 10,
                     bands: Int = 4, maxBucket: Int = 2000,
                     multiProbe: Boolean = false): DataFrame = {
    val spark = probes.sparkSession
    // read-side family guard: probing an index built with different
    // hyperplane parameters would silently return near-random buckets
    graft.operators.Sinks.requireFamily(spark, storeDir,
      s"hyperplane dim=$dim bits=$bits bands=$bands seed=42")
    lshTopKFrom(spark.read.parquet(s"$storeDir/buckets"),
      spark.read.parquet(s"$storeDir/vectors"),
      probes, idCol, vecCol, dim, k, bits, bands, maxBucket, multiProbe)
  }

  /** Margin-based bitext/nearest-neighbor mining (Artetxe & Schwenk,
    * ACL 2019 — the CCMatrix/LASER alignment criterion, "distance"
    * margin variant): a source/target pair scores by how much its
    * similarity EXCEEDS the typical similarity of each endpoint's own
    * k-nearest neighborhood,
    *
    *   margin(x, y) = 2k·sim(x, y) − Σ_{z∈NNk(x)} sim(x, z)
    *                              − Σ_{w∈NNk(y)} sim(w, y),
    *
    * which demotes "hub" vectors that are close to everything. Run
    * entirely in micro-unit quantized integer space (the IVF/PQ recipe):
    * sim = Σ q(x)_i·q(y)_i is a pure BIGINT dot, both neighborhood mass
    * terms are integer sums over rank ≤ k windows (ties on the partner
    * id), and the margin is an exact integer — engine-reproducible at
    * every tie. Emits the best (margin, then id) target per source with
    * a strictly positive margin — the mined alignment.
    *
    * Shape at 100 TB: the bipartite `dots` table here is exact over the
    * given frames; at corpus scale it comes from an ANN k′-NN join
    * (ivfTopK / lshTopK with k′ ≥ k) instead, and the window + mass +
    * margin pipeline downstream of `dots` applies UNCHANGED — margin
    * mining only ever reads each endpoint's bounded candidate list. The
    * two neighborhood-mass aggregates are map-side combinable and
    * narrow (one row per distinct endpoint); the re-joins carry no
    * broadcast hint — AQE broadcasts them when the endpoint count is
    * small and shuffles on the id otherwise.
    * Overflow bound: 2k·dot ≤ 2k·d·(5·10^5)² must stay under 2^63 —
    * holds through k ~ 10^4 at d = 64.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val sq = src.select(col(idCol).as("src_id"),
      quantized(col(vecCol)).as("__sv"))
    val tq = tgt.select(col(idCol).as("tgt_id"),
      quantized(col(vecCol)).as("__tv"))
    val dots = sq.crossJoin(broadcast(tq))
      .select(col("src_id"), col("tgt_id"),
        graft.functions.Expressions.long_vector_dot(col("__sv"), col("__tv"))
          .as("dot_q"))
    marginMineFrom(dots, k)
  }

  /** Candidate-bounded margin mining: the [[marginMine]] criterion fed
    * from IVF candidate lists instead of the exact bipartite dot table —
    * the shape that scales. A shared scaled-integer Lloyd codebook
    * (trained over src ∪ tgt, so training is engine-replayable from the
    * union corpus) assigns every target to its ONE nearest cell; each
    * source visits only its `nProbe` nearest cells; pairs are the
    * cell-join of the two — each (src, tgt) pair arises at most once
    * (targets live in exactly one cell), so no dedup pass is needed.
    * Downstream of the candidate table the mass/margin pipeline of
    * [[marginMineFrom]] applies unchanged: neighborhood mass becomes
    * mass over the RETRIEVED neighborhood, exactly the CCMatrix
    * trade-off (margins are relative to what ANN can see).
    *
    * Shape at 100 TB: candidate volume is |S|·nProbe·E[cell size] =
    * |S|·nProbe·(|T|/kCells). A FIXED kCells is therefore NOT a scale
    * contract — hold it constant while both sides grow and the
    * candidate table grows |S|·|T|/kCells, i.e. quadratically (the
    * 100× ledger probe hit exactly this: kCells=8 at 200k vectors
    * computed multi-GB candidate partitions and exhausted local disk).
    * The contract operating point is kCells ~ √(|S|+|T|), which keeps
    * E[cell] ~ √n and the candidate table ~ n^1.5/√n·nProbe — the
    * measured e≈0.83 STRESS row. Pass `kCells <= 0` to derive that
    * point from a cheap count of the (already checkpointed) inputs;
    * an explicit kCells is honored verbatim for oracle-replayable
    * fixed-codebook runs at a KNOWN corpus size. The cell join carries
    * NO broadcast hint: AQE broadcasts the probe side's (src_id,
    * quantized vec, cell) projection when its runtime size is under
    * the threshold, and shuffles both sides on the cell id otherwise —
    * a corpus-sized source can never be forced through the driver. No
    * all-pairs stage exists anywhere.
    */
  def marginMineAnn(src: DataFrame, tgt: DataFrame, idCol: String,
                    vecCol: String, k: Int, kCells: Int = 0,
                    nProbe: Int = 3, iters: Int = 2): DataFrame =
    marginMineFrom(annCandidates(src, tgt, idCol, vecCol, kCells, nProbe, iters), k)

  /** The candidate stage of [[marginMineAnn]], exposed so plan-shape
    * tests can assert the cell join's exchange structure (the mining
    * entry checkpoints this table, which truncates the visible plan).
    * Emits the bounded (src_id, tgt_id, dot_q) pair table.
    */
  private[graft] def annCandidates(src: DataFrame, tgt: DataFrame,
                    idCol: String, vecCol: String, kCells: Int,
                    nProbe: Int, iters: Int): DataFrame = {
    val sq = src.select(col(idCol).as("src_id"),
      quantized(col(vecCol)).as("__sv")).checkpointAt("Similarity.marginMineAnn.src")
    val tq = tgt.select(col(idCol).as("tgt_id"),
      quantized(col(vecCol)).as("__tv")).checkpointAt("Similarity.marginMineAnn.tgt")
    // kCells <= 0: derive the √n operating point (see the scale note on
    // [[marginMineAnn]]) from the checkpointed inputs — two cheap local
    // counts, clamped so tiny corpora still get a real partition fan-out
    // and the codebook table stays driver-bounded
    val kc =
      if (kCells > 0) kCells
      else math.min(4096L, math.max(4L,
        math.sqrt((sq.count() + tq.count()).toDouble).toLong / 2)).toInt
    // train over src ∪ tgt so an oracle can replay the Lloyd loop
    // from the union corpus; ids should be disjoint across sides
    // (a shared id appears twice in the per-cell integer means)
    val union = sq.select(col("src_id").as("__id"), col("__sv").as("vq"))
      .unionByName(tq.select(col("tgt_id").as("__id"), col("__tv").as("vq")))
    val centroids =
      trainIvfQuantized(union.checkpointAt("Similarity.marginMineAnn.codebookUnion"), kc, iters)
    val tCells = tq.select(col("tgt_id"), col("__tv"),
      nearestCellQ(col("__tv"), centroids).as("cell"))
    // probe side mirrors ivfTopK: nProbe nearest cells by (integer
    // dist, cell), equidistant cells to the lowest id, through the
    // codegen'd NearestCellsQ selection loop (the struct-sort HOF it
    // replaced interpreted a lambda per (row × cell))
    val sCells = sq
      .select(col("src_id"), col("__sv"),
        explode(graft.functions.Expressions.nearest_cells_q(
          col("__sv"), centroids, nProbe)).as("cell"))
    // no broadcast hint: sCells is |S|·nProbe rows each carrying a
    // 64-long quantized vector — corpus-sized at bitext scale. AQE
    // picks broadcast only when the runtime size actually permits it.
    tCells.join(sCells, Seq("cell"))
      .select(col("src_id"), col("tgt_id"),
        graft.functions.Expressions.long_vector_dot(col("__sv"), col("__tv"))
          .as("dot_q"))
  }

  /** The margin pipeline downstream of the pair table: takes ANY
    * bounded (src_id, tgt_id, dot_q) candidate table — exact bipartite
    * dots ([[marginMine]]), IVF candidate lists ([[marginMineAnn]]), or
    * an external k′-NN join — and emits the best positive-margin target
    * per source. Reads each endpoint's candidate list three ways (two
    * masses + the margin pass), hence the one materialization.
    */
  def marginMineFrom(dots: DataFrame, k: Int): DataFrame = {
    // materialized once: both mass aggregates AND the final margin pass
    // read the pair table — without the checkpoint the pair-scoring
    // subtree would replay three times in one plan. Bounded by
    // construction (|S|·|T| in the exact entry; the ANN candidate lists
    // at scale).
    // NOTE: localCheckpoint truncates lineage — a lost block fails the
    // job and the caller retries.
    val pairs = dots.checkpointAt("Similarity.marginMine.pairs")
    // neighborhood masses via the O(k)-state TopKSum aggregate —
    // map-side combinable, NO per-group sort (a row_number window would
    // sort every candidate list); value ties at the k boundary sum
    // identically, so this equals the windowed formulation exactly
    val topkSum = udaf(new graft.functions.Aggregators.TopKSum(k))
    val srcMass = pairs.groupBy("src_id")
      .agg(topkSum(col("dot_q")).as("__src_mass"))
    val tgtMass = pairs.groupBy("tgt_id")
      .agg(topkSum(col("dot_q")).as("__tgt_mass"))
    // best (margin, then lowest tgt_id) per source: a single argmax
    // aggregate via MaxByRow — one exchange, again no sort
    // no broadcast hints: the mass tables are one row per distinct
    // endpoint — narrow but corpus-sized at bitext scale. AQE broadcasts
    // them when small, else the joins shuffle on src_id / tgt_id.
    val scored = pairs
      .join(srcMass, "src_id")
      .join(tgtMass, "tgt_id")
      .withColumn("margin_q",
        lit(2L * k) * col("dot_q") - col("__src_mass") - col("__tgt_mass"))
    scored.groupBy("src_id")
      .agg(graft.functions.Expressions.max_by_row(
        struct(col("tgt_id"), col("dot_q"), col("margin_q")),
        col("margin_q"), col("tgt_id")).as("__best"))
      .select(col("src_id"), col("__best.tgt_id").as("tgt_id"),
        col("__best.dot_q").as("dot_q"),
        col("__best.margin_q").as("margin_q"))
      .filter(col("margin_q") > 0)
  }
}
