package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, float[64] vector,
  * label): brute-force cosine top-k as the exact baseline, plus an
  * IVF-style partition-bucketed variant — the scale path where candidate
  * generation is restricted to the probe's coarse cell instead of the whole
  * corpus.
  *
  * Cosine is computed on 1e-6-grid quantized coordinates (exact int64
  * dot/norms, then one IEEE division) so scores are bit-identical across
  * engines — rankings and thresshold cuts cannot flap on float noise.
  * See Dedup.embeddingPairs for the same trick on the near-dup path.
  *
  * 100 TB posture: queries are broadcast (a handful of probe vectors), the
  * corpus side streams — no shuffle at all for the brute-force scan beyond
  * the final per-query top-k (TakeOrdered-style); IVF adds a pre-filter on
  * the coarse cell which in a partitioned layout prunes file scans.
  */
object Similarity {

  /** Quantized vectors with the squared norm precomputed once per row —
    * the norm must not be recomputed per candidate pair.
    *
    * Session-memoized (same discipline as the dedup posting base): every
    * ANN/search/semantic query starts from this parse→quantize→norm pass
    * over `embeddings`, and several run it twice in one pipeline (probe +
    * corpus sides, or approximate + exact-rerank legs), so the base is
    * computed and checkpointed by its [[graft.FrameMemo]] once per
    * (session, corpus). This is the "build the index once" shape a
    * multi-query ANN session has at 100 TB — the quantized corpus is
    * materialized a single time and every index variant derives from it.
    * The kNN family's derived bases are memoized the same way, each keyed
    * by the corpus dir: [[collapsed]], the assignment+vector sides of
    * [[knnJoin]] and [[knnJoinDedup]], and [[knnExpandMembers]]' member
    * map — so a memo-warm kNN query starts no Spark job while it is
    * built. The memo is UNFILTERED and column-complete, so no consumer's
    * pruning/candidate bound changes; a Round10PropertySpec law pins
    * derived == direct plus the memo hit.
    */
  private val quantizedCache = new graft.FrameMemo

  /** The quantization kernel: float coordinate → fixed-point long on the
    * 1e-6 grid. ONE definition shared by the batch base ([[quantized]])
    * and the streaming probe (`VecStream.probeBatch`) so cross-surface
    * parity is by construction, and mirrored verbatim in every oracle's
    * `list_transform(embedding, x -> CAST(floor(... * 1000000.0) ...))`.
    */
  private[graft] def qvExpr(embedding: Column): Column =
    transform(embedding, x => floor(x.cast("double") * 1000000.0).cast("long"))

  private[graft] def quantized(s: SparkSession, dir: String): DataFrame =
    quantizedCache.getOrElseUpdate(s, dir) {
      graft.functions.VectorFunctions.register(s)
      Registry.table(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        qvExpr(col("embedding")).as("qv"),
        // the SQ8 compressed domain rides on the same scan: q8 is NOT
        // derivable from qv (both floor the RAW coordinate on different
        // grids), so leaving it out forced sq8Rerank to replay the whole
        // parse pass — one extra array column here is the cheaper trade
        transform(col("embedding"), x => greatest(lit(-127L),
          least(lit(127L), floor(x.cast("double") * 127.0).cast("long"))))
          .as("q8"))
        .withColumn("nrm",
          call_function("vec_dot_long", col("qv"), col("qv")))
    }

  /** Exact quantized cosine via the codegen'd int64 dot kernel
    * ([[graft.functions.LongArrayDot]]); `na`/`nb` are the precomputed
    * per-row norms. Bit-identical to the oracles' list arithmetic.
    */
  private[ops] def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    call_function("vec_dot_long", a, b).cast("double") /
      (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  private val NumProbes = 10
  private val TopK = 10

  /** Brute-force exact top-10 cosine neighbors for the first 10 vectors.
    * The probe side is broadcast; rank is a per-query window with the
    * neighbor id as tiebreaker.
    */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val probes = corpus.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("qv").as("pq"),
        col("nrm").as("pnrm"))
    val scored = corpus.join(broadcast(probes),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val bruteForceOracle = s"""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** IVF-style approximate top-k: the coarse quantizer is the `label`
    * column (stands in for a k-means cell id); candidates are restricted to
    * the probe's own cell — the classic inverted-file trade: ~1/n_cells of
    * the scan cost, recall limited to same-cell neighbors. Deterministic,
    * so the oracle reproduces it exactly with a cell-equality join.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val probes = corpus.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("label").as("cell"),
        col("qv").as("pq"), col("nrm").as("pnrm"))
    val scored = corpus.join(broadcast(probes),
        col("label") === col("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val ivfOracle = s"""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q p JOIN q c
    ON p.vec_id < $NumProbes AND c.label = p.label AND c.vec_id <> p.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank
"""

  private val NumCells = 16
  private val NumProbeCells = 2

  /** True IVF with multiprobe: a coarse quantizer of [[NumCells]] seed
    * centroids (the first 16 corpus vectors — a deterministic k-means++-style
    * init; [[graft.ops.ChunkingOps.kmeansAssignStep]] is the refinement
    * step) assigns every corpus vector to its nearest cell; each probe
    * searches its [[NumProbeCells]] nearest cells and exact-cosine re-ranks
    * the union. nprobe>1 is what separates a production IVF from the
    * label-bucket sketch in [[ivfTopK]]: recall degrades gracefully at cell
    * boundaries instead of falling off a cliff.
    *
    * All distances are exact int64 (quantized coords), so cell assignment
    * and ranking are bit-deterministic. 100 TB posture: assignment is a
    * map-only pass against broadcast centroids; storing the corpus
    * partitioned by cell turns each probe into a ≤nprobe-partition scan
    * (the candidate join below co-partitions on the cell key).
    */
  def ivfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val cents = corpus.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("centroid_id"), col("qv").as("cv"),
        col("nrm").as("cnrm"))
    val dists = corpus.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        (col("nrm") + col("cnrm") -
          lit(2L) * call_function("vec_dot_long", col("qv"), col("cv")))
          .as("dist2"))
    val byNearest = Window.partitionBy("vec_id")
      .orderBy(col("dist2").asc, col("centroid_id").asc)
    val ranked = dists.withColumn("rk", row_number().over(byNearest))
    val cells = ranked.filter(col("rk") === 1)
      .select(col("vec_id").as("m_vec_id"), col("centroid_id").as("cell"))
    val corpusCells = corpus
      .join(cells, col("vec_id") === col("m_vec_id")).drop("m_vec_id")
    val probeCells = ranked
      .filter(col("vec_id") < NumProbes && col("rk") <= NumProbeCells)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("pcell"))
    val probes = corpus.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("p_vec_id"), col("qv").as("pq"),
        col("nrm").as("pnrm"))
      .join(probeCells, col("p_vec_id") === col("query_id"))
    val scored = corpusCells.join(broadcast(probes),
        col("cell") === col("pcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val ivfMultiprobeOracle = s"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
n AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM q),
c AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cnrm
      FROM n WHERE vec_id < $NumCells),
d AS (
  SELECT v.vec_id, c.centroid_id,
    v.nrm + c.cnrm - 2 * CAST(list_sum(
      list_transform(range(1, 65), k -> v.qv[k] * c.cv[k])) AS BIGINT) AS dist2
  FROM n v, c),
rk AS (
  SELECT vec_id, centroid_id,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, centroid_id ASC) AS rk
  FROM d),
cells AS (SELECT vec_id, centroid_id AS cell FROM rk WHERE rk = 1),
pcells AS (
  SELECT vec_id AS query_id, centroid_id AS pcell
  FROM rk WHERE vec_id < $NumProbes AND rk <= $NumProbeCells),
scored AS (
  SELECT p.vec_id AS query_id, m.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * m.qv[k])) AS DOUBLE)
      / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))) AS cosine
  FROM n p
  JOIN pcells pc ON pc.query_id = p.vec_id
  JOIN cells cl ON cl.cell = pc.pcell
  JOIN n m ON m.vec_id = cl.vec_id AND m.vec_id <> p.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** Random-hyperplane LSH bucketing (8 sign bits against fixed reference
    * vectors = the first 8 corpus vectors): bucket histogram — the blocking
    * structure a 100 TB near-dup/ANN pass would shard by. Deterministic;
    * oracle reproduces the same signs.
    */
  def lshBuckets(s: SparkSession, dir: String): DataFrame =
    bucketed(s, dir).groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")

  private val lshBucketsOracle = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
planes AS (SELECT vec_id AS plane_id, qv AS pv FROM q WHERE vec_id < 8),
bits AS (
  SELECT c.vec_id, p.plane_id,
    CASE WHEN list_sum(list_transform(range(1, 65), k -> c.qv[k] * p.pv[k])) > 0
         THEN 1 ELSE 0 END AS bit
  FROM q c CROSS JOIN planes p),
buckets AS (
  SELECT vec_id,
    CAST(sum(bit * (CAST(1 AS BIGINT) << plane_id)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id)
SELECT bucket, count(*) AS n_vectors FROM buckets
GROUP BY bucket ORDER BY bucket
"""

  /** Per-vector 8-bit hyperplane bucket — the ONE bucket definition
    * (`lshBuckets` aggregates it, `lshTopK` blocks on it). Every vector,
    * including the 8 plane vectors themselves, takes all 8 sign bits: the
    * bucket must be a function of the EMBEDDING alone, so that identical
    * embeddings always share a bucket. (An earlier form excluded each
    * plane vector's own-plane bit via a `vec_id =!= plane_id` join — that
    * made the hash a function of the row id: a plane vector's self-dot is
    * its norm, always positive, so its natural own bit is 1, and forcing
    * it to 0 put plane rows in different buckets than identical non-plane
    * rows, biasing 8 of the 10 recall-audit probes toward neighbors
    * anti-correlated along their own direction.)
    */
  private def bucketed(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val planes = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("plane_id"), col("qv").as("pv"))
    corpus.crossJoin(broadcast(planes))
      .groupBy("vec_id")
      .agg(sum(
        when(call_function("vec_dot_long", col("qv"), col("pv")) > 0,
          pow(lit(2.0), col("plane_id")).cast("long")).otherwise(0L))
        .as("bucket"))
  }

  /** The complete LSH ANN pipeline: hyperplane-bucket blocking + exact
    * re-rank inside the probe's bucket — candidate generation is a
    * co-partitioned equi-join on the bucket key (the 100 TB shape: shard by
    * bucket, search within the shard), then the same exact quantized cosine
    * re-ranks the survivors. Fewer than k neighbors in a sparse bucket is
    * the documented LSH trade (raise planes/probes for recall); the oracle
    * reproduces the trade exactly.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir).join(bucketed(s, dir), "vec_id")
    val probes = corpus.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("bucket").as("pbucket"),
        col("qv").as("pq"), col("nrm").as("pnrm"))
    val scored = corpus.join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val lshTopKOracle = s"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
planes AS (SELECT vec_id AS plane_id, qv AS pv FROM q WHERE vec_id < 8),
buckets AS (
  SELECT c.vec_id,
    CAST(sum(CASE WHEN
        list_sum(list_transform(range(1, 65), k -> c.qv[k] * p.pv[k])) > 0
      THEN (CAST(1 AS BIGINT) << p.plane_id) ELSE 0 END) AS BIGINT) AS bucket
  FROM q c CROSS JOIN planes p
  GROUP BY c.vec_id),
corpus AS (SELECT q.vec_id, qv, bucket FROM q JOIN buckets USING (vec_id)),
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM corpus p JOIN corpus c
    ON p.vec_id < $NumProbes AND c.bucket = p.bucket AND c.vec_id <> p.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** Recall@k of the LSH path measured against the exact brute-force
    * baseline — the approximation-QA metric an ANN deployment tracks
    * continuously: per probe, |LSH∩exact| / |exact|. Pure integer counts
    * with one final division, so even the quality measurement is
    * oracle-exact; at scale the exact side runs on a small audit sample
    * while LSH serves everything.
    */
  /** The one recall aggregation every audit in the family shares: per
    * probe, the exact neighbor count and how many of them the approximate
    * pipeline matched (left-outer join on (query, neighbor), count the
    * hits). Returns (query_id, n_exact, n_common); presentation naming and
    * the final division stay with each audit — their oracles pin the
    * column names. (Was hand-copied five times; `ivfRecall`'s local def
    * proved the shared signature.)
    */
  private def recallCounts(brute: DataFrame, approx: DataFrame): DataFrame = {
    val a = approx.select(col("query_id").as("a_q"),
      col("neighbor_id").as("a_n"))
    brute.join(a, col("query_id") === col("a_q") &&
        col("neighbor_id") === col("a_n"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("a_n").isNotNull, 1L).otherwise(0L)).as("n_common"))
  }

  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = bruteForceTopK(s, dir).select("query_id", "neighbor_id")
    val lsh = lshTopK(s, dir).select("query_id", "neighbor_id")
    val lshCounts = lsh.groupBy("query_id").agg(count(lit(1)).as("n_lsh"))
    recallCounts(brute, lsh)
      .join(lshCounts, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"), col("n_common"),
        (col("n_common").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  private val lshRecallOracle = s"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
planes AS (SELECT vec_id AS plane_id, qv AS pv FROM q WHERE vec_id < 8),
bkt AS (
  SELECT c.vec_id,
    CAST(sum(CASE WHEN
        list_sum(list_transform(range(1, 65), k -> c.qv[k] * p.pv[k])) > 0
      THEN (CAST(1 AS BIGINT) << p.plane_id) ELSE 0 END) AS BIGINT) AS bucket
  FROM q c CROSS JOIN planes p
  GROUP BY c.vec_id),
corpus AS (SELECT q.vec_id, qv, bucket FROM q JOIN bkt USING (vec_id)),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
          / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
          DESC, c.vec_id ASC) AS rank
    FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE rank <= $TopK),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
          / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
          DESC, c.vec_id ASC) AS rank
    FROM corpus p JOIN corpus c
      ON p.vec_id < $NumProbes AND c.bucket = p.bucket AND c.vec_id <> p.vec_id)
  WHERE rank <= $TopK)
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(coalesce((SELECT count(*) FROM lsh l2
                 WHERE l2.query_id = b.query_id), 0) AS BIGINT) AS n_lsh,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lsh l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lsh l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS recall
FROM brute b GROUP BY b.query_id ORDER BY query_id
"""

  private val CandPool = 30 // int8-phase candidates per probe (3× TopK)

  /** Scalar-quantized (int8) two-phase ANN: phase 1 scans the corpus in the
    * COMPRESSED domain — each coordinate clamped to one signed byte
    * (`floor(x·127)` into [-127,127]), the approximate score an exact int64
    * dot of byte values — and keeps the top 3·k candidates per probe;
    * phase 2 reranks only those with the full-precision (1e-6-grid exact)
    * cosine and emits the final top-k.
    *
    * This is the SQ8 architecture every large ANN deployment uses (FAISS
    * `SQ8`, ScaNN's quantized scoring): at 100 TB the compressed corpus is
    * 4× smaller than float32 (64 B/vector), the scan is integer SIMD-able,
    * and the expensive exact math touches only `3k·probes` rows. Both
    * phases are deterministic integer arithmetic, so the oracle reproduces
    * the exact candidate cut AND the final ranking — the quantization loss
    * is *visible* as rank differences vs `ann_brute_topk`, not float noise.
    */
  def sq8Rerank(s: SparkSession, dir: String): DataFrame = {
    val base = quantized(s, dir)
    val corpus = base.select(col("vec_id"), col("qv"), col("nrm"), col("q8"))
    val probes = base.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("qv").as("pq"),
        col("nrm").as("pnrm"), col("q8").as("p8"))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cands = corpus.join(broadcast(probes),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        call_function("vec_dot_long", col("p8"), col("q8")).as("approx"),
        col("pq"), col("pnrm"), col("qv"), col("nrm"))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= CandPool)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  private val sq8RerankOracle = s"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv,
    list_transform(embedding,
      x -> greatest(-127, least(127,
        CAST(floor(CAST(x AS DOUBLE) * 127.0) AS BIGINT)))) AS q8
  FROM embeddings),
cands AS (
  SELECT query_id, neighbor_id, pq, cqv FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      p.qv AS pq, c.qv AS cqv,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        list_sum(list_transform(range(1, 65), k -> p.q8[k] * c.q8[k])) DESC,
        c.vec_id ASC) AS arank
    FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE arank <= $CandPool),
reranked AS (
  SELECT query_id, neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> pq[k] * cqv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(pq, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(cqv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM cands)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM reranked)
WHERE rank <= $TopK ORDER BY query_id, rank
"""

  private val PqM = 8 // subspaces
  private val PqDim = 8 // dims per subspace (8×8 = the 64-dim vectors)
  private val PqK = 16 // codebook entries per subspace

  /** Product-quantization ANN with ADC (asymmetric distance computation) —
    * the third classic compression scheme next to [[sq8Rerank]] (SQ8) and
    * [[ivfMultiprobe]] (IVF): vectors are cut into [[PqM]] subspaces; each
    * subspace has a [[PqK]]-entry codebook (deterministic init: the
    * sub-vectors of the first 16 corpus vectors, the same seeding the IVF
    * coarse quantizer uses); a vector's code is its per-subspace nearest
    * centroid, 4 bits per subspace — 8 codes replace 64 floats (64× smaller
    * than float32). Queries stay UNquantized: each probe precomputes a
    * 16-entry distance table per subspace, and a candidate's approximate
    * distance is the 8-way table-lookup sum — the ADC trick that makes PQ
    * scans memory-bound instead of FLOP-bound. Top [[CandPool]] ADC
    * candidates are then reranked with the exact cosine.
    *
    * Everything is exact int64 (quantized grids): encoding argmins, table
    * entries, and the ADC sums are bit-deterministic, so the oracle
    * replays the exact candidate cut and final ranking — PQ's recall loss
    * vs `ann_brute_topk` is visible as rank differences, never float
    * noise. 100 TB posture: encoding is a map pass against the broadcast
    * codebook; the ADC scan shuffles (query, neighbor) partial sums of
    * the code join, O(corpus·M·probes) narrow rows; exact math touches
    * only `CandPool·probes` vectors.
    */
  def pqAdcRerank(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val (codes, dtab) = pqCodesAndTables(corpus)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    val cands = codes.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pd2").as("adc_d2"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= CandPool)
    exactRerankTopK(corpus, cands)
  }

  /** PQ encoding of the corpus (one code row per (vector, subspace)) and
    * the per-probe ADC distance tables — the two artifacts every PQ scan
    * needs, shared by [[pqAdcRerank]] (full-corpus ADC) and [[ivfPq]]
    * (cell-restricted ADC).
    */
  private def pqCodesAndTables(corpus: DataFrame): (DataFrame, DataFrame) = {
    val subs = corpus.select(col("vec_id"), explode(array((0 until PqM).map {
        m => struct(lit(m).as("sub"),
          slice(col("qv"), m * PqDim + 1, PqDim).as("sv"))
      }: _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
      .withColumn("svn", call_function("vec_dot_long", col("sv"), col("sv")))
    val codebook = subs.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("code"), col("sub"), col("sv").as("cv"),
        col("svn").as("cvn"))
    val wEnc = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2").asc, col("code").asc)
    val codes = subs.join(broadcast(codebook), "sub")
      .select(col("vec_id"), col("sub"), col("code"),
        (col("svn") + col("cvn") -
          lit(2L) * call_function("vec_dot_long", col("sv"), col("cv")))
          .as("d2"))
      .withColumn("rk", row_number().over(wEnc))
      .filter(col("rk") === 1)
      .select("vec_id", "sub", "code")
    val dtab = subs.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sv").as("psv"), col("svn").as("psvn"))
      .join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        (col("psvn") + col("cvn") -
          lit(2L) * call_function("vec_dot_long", col("psv"), col("cv")))
          .as("pd2"))
    (codes, dtab)
  }

  /** Exact-cosine rerank of a `(query_id, neighbor_id)` candidate set to
    * the final top-[[TopK]] listing — the shared tail of every
    * compressed-domain pipeline (SQ8, PQ, IVF+PQ).
    */
  private def exactRerankTopK(corpus: DataFrame, cands: DataFrame): DataFrame = {
    val probes = corpus.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("qv").as("pq"),
        col("nrm").as("pnrm"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("qv"),
        col("nrm")), "neighbor_id")
      .join(broadcast(probes), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The PQ pipeline's shared CTE chain (through exact rerank) — the
    * top-k oracle and the recall oracle both build on it.
    */
  private val pqPipelineCtes = s"""q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
subs AS (
  SELECT vec_id, u.sub,
    qv[u.sub*$PqDim+1 : u.sub*$PqDim+$PqDim] AS sv
  FROM q, (SELECT unnest(range(0, $PqM)) AS sub) u),
subn AS (
  SELECT vec_id, sub, sv,
    CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT) AS svn
  FROM subs),
cb AS (
  SELECT vec_id AS code, sub, sv AS cv, svn AS cvn
  FROM subn WHERE vec_id < $PqK),
enc AS (
  SELECT vec_id, sub, code,
    row_number() OVER (PARTITION BY vec_id, sub ORDER BY
      svn + cvn - 2 * CAST(list_sum(
        list_transform(range(1, ${PqDim + 1}), k -> sv[k] * cv[k]))
        AS BIGINT) ASC,
      code ASC) AS rk
  FROM subn JOIN cb USING (sub)),
codes AS (SELECT vec_id, sub, code FROM enc WHERE rk = 1),
dtab AS (
  SELECT p.vec_id AS query_id, p.sub, cb.code,
    p.svn + cb.cvn - 2 * CAST(list_sum(
      list_transform(range(1, ${PqDim + 1}), k -> p.sv[k] * cb.cv[k]))
      AS BIGINT) AS pd2
  FROM subn p JOIN cb USING (sub)
  WHERE p.vec_id < $NumProbes),
adc AS (
  SELECT d.query_id, c.vec_id AS neighbor_id,
    CAST(sum(d.pd2) AS BIGINT) AS adc_d2
  FROM codes c JOIN dtab d ON d.sub = c.sub AND d.code = c.code
  WHERE c.vec_id <> d.query_id
  GROUP BY 1, 2),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_d2 ASC, neighbor_id ASC) AS arank
    FROM adc)
  WHERE arank <= $CandPool),
reranked AS (
  SELECT ca.query_id, ca.neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k]))
         AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM cands ca
  JOIN q p ON p.vec_id = ca.query_id
  JOIN q c ON c.vec_id = ca.neighbor_id)"""

  private val pqAdcOracle = s"""
WITH $pqPipelineCtes
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM reranked)
WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** Recall@k of the PQ/ADC path vs the exact brute-force baseline — the
    * same approximation-QA metric as [[lshRecall]], for the compressed-
    * domain scan: per probe, |PQ∩exact| / k. Integer counts, one final
    * division; quantifies what 4-bit-per-subspace compression costs in
    * neighbor fidelity, and the measurement itself is oracle-exact.
    */
  def pqRecall(s: SparkSession, dir: String): DataFrame =
    recallCounts(bruteForceTopK(s, dir).select("query_id", "neighbor_id"),
        pqAdcRerank(s, dir))
      .select(col("query_id"), col("n_exact"), col("n_common"),
        (col("n_common").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("query_id")

  private val pqRecallOracle = s"""
WITH $pqPipelineCtes,
pqtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM reranked)
  WHERE rank <= $TopK),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
          / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
          DESC, c.vec_id ASC) AS rank
    FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE rank <= $TopK)
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM pqtop l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM pqtop l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS recall
FROM brute b GROUP BY b.query_id ORDER BY query_id
"""

  // -------------------------------------------------------------- IVF + PQ
  /** The production compound index shape: coarse IVF cell restriction FIRST,
    * then PQ/ADC scoring of only the probed cells' members, then exact
    * rerank of the ADC survivors — [[ivfMultiprobe]]'s candidate pruning
    * composed with [[pqAdcRerank]]'s compressed-domain scoring in one
    * pipeline (what FAISS calls IVFPQ). The stages stay honest to their
    * production roles: the ADC scan touches O(candidate pairs from nprobe
    * cells) rows — a ~cells/nprobe-fold reduction over the full-corpus PQ
    * scan — and exact math touches only `CandPool·probes` vectors.
    *
    * All arithmetic is the same exact-int64 discipline as the parent
    * queries (assignment argmins, code argmins, table entries, ADC sums),
    * so the candidate cut and final ranking are bit-deterministic and the
    * oracle replays the full compound pipeline as one CTE chain.
    */
  def ivfPq(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    // coarse quantizer: same NumCells first-vector seeding + exact-int64
    // assignment as ivfMultiprobe
    val cents = corpus.filter(col("vec_id") < NumCells)
      .select(col("vec_id").as("centroid_id"), col("qv").as("cv"),
        col("nrm").as("cnrm"))
    val byNearest = Window.partitionBy("vec_id")
      .orderBy(col("dist2").asc, col("centroid_id").asc)
    val ranked = corpus.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        (col("nrm") + col("cnrm") -
          lit(2L) * call_function("vec_dot_long", col("qv"), col("cv")))
          .as("dist2"))
      .withColumn("rk", row_number().over(byNearest))
    val cells = ranked.filter(col("rk") === 1)
      .select(col("vec_id").as("c_vec_id"), col("centroid_id").as("cell"))
    val probeCells = ranked
      .filter(col("vec_id") < NumProbes && col("rk") <= NumProbeCells)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("pcell"))
    // the IVF restriction: candidate pairs ONLY from probed cells — an
    // equi-join on the cell key, O(n·nprobe/cells) pairs, never corpus²
    val candPairs = cells.join(broadcast(probeCells),
        col("cell") === col("pcell") && col("c_vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c_vec_id").as("vec_id"))
    val (codes, dtab) = pqCodesAndTables(corpus)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    val cands = candPairs.join(codes, "vec_id")
      .join(broadcast(dtab), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("pd2").as("adc_d2"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= CandPool)
    exactRerankTopK(corpus, cands)
  }

  /** The IVF+PQ compound pipeline's shared CTE chain (through exact
    * rerank) — the top-k oracle and the recall oracle both build on it.
    */
  private val ivfPqCtes = s"""q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
n AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM q),
cc AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cnrm
       FROM n WHERE vec_id < $NumCells),
cd AS (
  SELECT v.vec_id, cc.centroid_id,
    v.nrm + cc.cnrm - 2 * CAST(list_sum(
      list_transform(range(1, 65), k -> v.qv[k] * cc.cv[k])) AS BIGINT)
      AS dist2
  FROM n v, cc),
crk AS (
  SELECT vec_id, centroid_id,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, centroid_id ASC) AS rk
  FROM cd),
cells AS (SELECT vec_id, centroid_id AS cell FROM crk WHERE rk = 1),
pcells AS (
  SELECT vec_id AS query_id, centroid_id AS pcell
  FROM crk WHERE vec_id < $NumProbes AND rk <= $NumProbeCells),
cand_pairs AS (
  SELECT p.query_id, c.vec_id
  FROM cells c JOIN pcells p ON c.cell = p.pcell
  WHERE c.vec_id <> p.query_id),
subs AS (
  SELECT vec_id, u.sub,
    qv[u.sub*$PqDim+1 : u.sub*$PqDim+$PqDim] AS sv
  FROM q, (SELECT unnest(range(0, $PqM)) AS sub) u),
subn AS (
  SELECT vec_id, sub, sv,
    CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT) AS svn
  FROM subs),
cb AS (
  SELECT vec_id AS code, sub, sv AS cv, svn AS cvn
  FROM subn WHERE vec_id < $PqK),
enc AS (
  SELECT vec_id, sub, code,
    row_number() OVER (PARTITION BY vec_id, sub ORDER BY
      svn + cvn - 2 * CAST(list_sum(
        list_transform(range(1, ${PqDim + 1}), k -> sv[k] * cv[k]))
        AS BIGINT) ASC,
      code ASC) AS rk
  FROM subn JOIN cb USING (sub)),
codes AS (SELECT vec_id, sub, code FROM enc WHERE rk = 1),
dtab AS (
  SELECT p.vec_id AS query_id, p.sub, cb.code,
    p.svn + cb.cvn - 2 * CAST(list_sum(
      list_transform(range(1, ${PqDim + 1}), k -> p.sv[k] * cb.cv[k]))
      AS BIGINT) AS pd2
  FROM subn p JOIN cb USING (sub)
  WHERE p.vec_id < $NumProbes),
adc AS (
  SELECT cp.query_id, cp.vec_id AS neighbor_id,
    CAST(sum(d.pd2) AS BIGINT) AS adc_d2
  FROM cand_pairs cp
  JOIN codes c ON c.vec_id = cp.vec_id
  JOIN dtab d ON d.query_id = cp.query_id
    AND d.sub = c.sub AND d.code = c.code
  GROUP BY 1, 2),
cands AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_d2 ASC, neighbor_id ASC) AS arank
    FROM adc)
  WHERE arank <= $CandPool),
reranked AS (
  SELECT ca.query_id, ca.neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k]))
         AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM cands ca
  JOIN q p ON p.vec_id = ca.query_id
  JOIN q c ON c.vec_id = ca.neighbor_id)"""

  private val ivfPqOracle = s"""
WITH $ivfPqCtes
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM reranked)
WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** Recall@[[TopK]] of the IVF+PQ compound path vs the exact brute-force
    * baseline — completes the recall-audit family (LSH, PQ, IVF, IVF+PQ):
    * the compound index loses neighbors BOTH at cell boundaries (IVF miss)
    * and in compressed-domain ranking (PQ miss); this row prices the
    * combination. Integer counts, one final division, oracle-exact.
    */
  def ivfPqRecall(s: SparkSession, dir: String): DataFrame =
    recallCounts(bruteForceTopK(s, dir).select("query_id", "neighbor_id"),
        ivfPq(s, dir))
      .select(col("query_id"), col("n_exact"), col("n_common"),
        (col("n_common").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("query_id")

  private val ivfPqRecallOracle = s"""
WITH $ivfPqCtes,
ivfpqtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM reranked)
  WHERE rank <= $TopK),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
          / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
             * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
          DESC, c.vec_id ASC) AS rank
    FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE rank <= $TopK)
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivfpqtop l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivfpqtop l
                             WHERE l.query_id = b.query_id
                               AND l.neighbor_id = b.neighbor_id)
            THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS recall
FROM brute b GROUP BY b.query_id ORDER BY query_id
"""

  // ------------------------------------------------------------ kNN join
  private val KnnCells = 16 // floor; actual cell count scales with n below
  private val KnnProbes = 2
  private val KnnK = 3
  /** Target per-cell occupancy: cells = max(KnnCells, n/KnnCellTarget), so
    * candidate pairs stay O(n·KnnCellTarget·KnnProbes) — LINEAR in corpus
    * size. A fixed cell count is quadratic (pairs = n²/cells): the round-7
    * sf1 smoke measured the 16-cell constant at 123× wall-clock for 10×
    * data before this scaling was added. At the driver SFs (n ≤ 2000,
    * n/128 < 16) the floor keeps cells at 16, so results are unchanged.
    */
  private val KnnCellTarget = 128L

  /** Coarse cells probed per vector in the two-level assignment — dual
    * coarse probing for the same boundary-recall reason as the dual FINE
    * assignment ([[KnnProbes]]/SemProbes).
    */
  private[graft] val CoarseProbes = 2

  /** Smallest integer c with c·c ≥ k — the coarse cell count of the
    * two-level IVF assignment. `floor(sqrt)` over IEEE doubles is exact
    * here (sqrt is correctly rounded and k < 2⁵²), and the +1 adjustment
    * re-checks with integer arithmetic anyway; the IDENTICAL expression is
    * evaluated in the oracles, so the hierarchy is bit-deterministic.
    */
  private[graft] def coarseCount(k: Long): Long = {
    val fs = math.floor(math.sqrt(k.toDouble)).toLong
    if (fs * fs >= k) fs else fs + 1
  }

  /** Two-level IVF assignment: vector → `probes` nearest FINE centroids,
    * with candidate fines restricted to those OWNED by the vector's
    * [[CoarseProbes]] nearest COARSE centroids (each fine is owned by its
    * single nearest coarse; coarse seeds are the [[coarseCount]] lowest-id
    * fines, so every coarse cell owns at least itself).
    *
    * Why two levels: single-level assignment is corpus × fines, and with
    * the corpus-scaled fine count (n/128 — the scaling that keeps
    * CANDIDATE PAIRS linear) that stage is O(n²/128). Invisible at the
    * 10× smoke; the 100× smoke measured it at 235× wall for 100× data
    * (ann_knn_join 1.36 s → 320 s). Routing through √cells coarse cells
    * cuts assignment to O(n·√cells) distance evaluations while leaving
    * per-cell occupancy — and therefore the law-pinned linear candidate
    * bound — untouched. This is the classic two-level coarse quantizer
    * (IVF/IMI); deeper hierarchies generalize the same construction if a
    * corpus outgrows two levels, and stay oracle-expressible.
    *
    * Determinism: both levels rank by exact int64 (dist², id), and the
    * oracles mirror the construction CTE-for-CTE, so the approximate
    * assignment is still bit-reproduced cross-engine. The fine→owner map
    * is a function (frk = 1), so a vector probing two coarse cells can
    * never see the same fine twice — no dedup step is needed.
    *
    * @param corpus (vec_id, qv, nrm); extra columns are not carried
    * @param fine   (centroid_id, cv, cnrm) — the kCells seeds
    * @param coarse (coarse_id, gv, gnrm) — the coarseCount(kCells)
    *               lowest seeds (each caller supplies its own closed form)
    * @return (vec_id, cell) — up to `probes` rows per vector
    */
  private[graft] def ivfAssignTwoLevel(corpus: DataFrame, fine: DataFrame,
      coarse: DataFrame, probes: Int): DataFrame = {
    def d2(na: Column, nb: Column, va: Column, vb: Column): Column =
      na + nb - lit(2L) * call_function("vec_dot_long", va, vb)
    // each fine -> its one owning coarse (seeds × √cells of them: tiny)
    val byFine = Window.partitionBy("centroid_id")
      .orderBy(col("fd").asc, col("coarse_id").asc)
    val owned = fine.join(broadcast(coarse))
      .select(col("centroid_id"), col("cv"), col("cnrm"), col("coarse_id"),
        d2(col("cnrm"), col("gnrm"), col("cv"), col("gv")).as("fd"))
      .withColumn("frk", row_number().over(byFine))
      .filter(col("frk") === 1)
      .select("coarse_id", "centroid_id", "cv", "cnrm")
    // vector -> CoarseProbes nearest coarse: the n·√cells pass (broadcast
    // nested loop over the genuinely-broadcastable √cells coarse set)
    val byCoarse = Window.partitionBy("vec_id")
      .orderBy(col("cd").asc, col("coarse_id").asc)
    val vCoarse = corpus.join(broadcast(coarse))
      .select(col("vec_id"), col("qv"), col("nrm"), col("coarse_id"),
        d2(col("nrm"), col("gnrm"), col("qv"), col("gv")).as("cd"))
      .withColumn("crk", row_number().over(byCoarse))
      .filter(col("crk") <= CoarseProbes)
      .select("vec_id", "qv", "nrm", "coarse_id")
    // vector -> probes nearest of the fines its coarse cells own. The fine
    // side stays an EQUI-join on coarse_id (no hint: at bench SFs AQE
    // broadcasts it; at 100 TB an n/128-row index is shuffle-partitioned
    // by coarse_id and this becomes the cell-local probe of a real IVF).
    val byNearest = Window.partitionBy("vec_id")
      .orderBy(col("dist2").asc, col("centroid_id").asc)
    vCoarse.join(owned, "coarse_id")
      .select(col("vec_id"), col("centroid_id"),
        d2(col("nrm"), col("cnrm"), col("qv"), col("cv")).as("dist2"))
      .withColumn("rk", row_number().over(byNearest))
      .filter(col("rk") <= probes)
      .select(col("vec_id"), col("centroid_id").as("cell"))
  }

  /** Full kNN SELF-join: top-[[KnnK]] neighbors for EVERY corpus vector —
    * the all-vectors sibling of the probe-set queries above, and the
    * workhorse behind kNN-graph construction (semantic dedup, label
    * propagation, diversity sampling all start from this graph).
    *
    * Candidates come from dual IVF assignment through the TWO-LEVEL
    * coarse quantizer ([[ivfAssignTwoLevel]] — each vector joins its
    * [[KnnProbes]] nearest of [[KnnCells]] first-vector-seeded centroid
    * cells, located via its [[CoarseProbes]] nearest coarse cells), so
    * the pair join is an EQUI-join on the cell key producing
    * O(n·cell_size) directed pairs — never the n² term a naive kNN join
    * implies — and the assignment itself is O(n·√cells), not the
    * O(n·cells) the 100× smoke caught. Per-vector ranking is a window
    * over each vector's own candidate list (bounded by its cells'
    * occupancy). Cosine is the exact quantized kernel; ranking ties break
    * on neighbor id, so the graph is engine-independent.
    *
    * The cell count scales with corpus size — `max(16, n/128)`, constant
    * per-cell occupancy — so the candidate pair set grows LINEARLY in n
    * (see [[KnnCellTarget]]); the corpus cardinality is one cheap
    * column-pruned count job, and the SAME closed forms (cell count AND
    * coarse count AND both assignment levels) are evaluated in the DuckDB
    * oracle, so the graph stays bit-deterministic.
    */
  /** The candidate edge set of [[knnJoin]] — two-level IVF dual assignment
    * with the corpus-scaled cell count, distinct directed (i, j) pairs
    * sharing a cell. Split out so the Round8 linearity law can count
    * candidates at two corpus sizes: the `max(KnnCells, n/KnnCellTarget)`
    * closed form is what keeps this set O(n), and a future "tune
    * nprobe/cells" edit that reverts to a fixed cell count turns it
    * quadratic again (the r7 sf1 smoke measured that cliff at 123×
    * wall-clock for 10× data).
    */
  /** The (vec_id, cell) dual assignment knnJoin and knnCandidates share. */
  private[graft] def knnAssignments(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val nVec = Registry.table(s, dir, "embeddings").count()
    val kCells = math.max(KnnCells.toLong, nVec / KnnCellTarget)
    val fine = corpus.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("centroid_id"), col("qv").as("cv"),
        col("nrm").as("cnrm"))
    val coarse = corpus.filter(col("vec_id") < coarseCount(kCells))
      .select(col("vec_id").as("coarse_id"), col("qv").as("gv"),
        col("nrm").as("gnrm"))
    ivfAssignTwoLevel(corpus.select("vec_id", "qv", "nrm"), fine, coarse,
      KnnProbes)
  }

  private[graft] def knnCandidates(s: SparkSession, dir: String): DataFrame = {
    val asg = knnAssignments(s, dir)
    asg.as("a")
      .join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .distinct()
  }

  /** [[knnJoin]]'s assignment+vector side `(vec_id, cell, qv, nrm)`. */
  private val knnAsgvCache = new graft.FrameMemo

  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    // Fused scoring: vectors ride the (2n-row) ASSIGNMENT sides of the
    // cell self-join and cosine is projected inline, so the only wide
    // dataset ever shuffled is the narrow (i, j, cosine) triple. The
    // earlier shape — distinct (i, j) candidates re-joined against the
    // vector table twice — moved the 512-byte qv arrays through two
    // extra shuffles of the FULL candidate set (~100 GB at the 100×
    // smoke, measured 286 s; identical values either way, so the oracle
    // is unchanged). distinct() lands after cosine: a pair sharing both
    // probed cells produces byte-identical rows, which it collapses.
    // The assignment+vector side feeds BOTH halves of the cell self-join
    // below, and Spark cannot share it between them: AQE query-stage reuse
    // keys on canonicalized plans, and scans of an ExistingRDD (the
    // checkpointed quantized base) never canonicalize equal across the
    // DeduplicateRelations re-aliasing a self-join introduces — measured on
    // the executed plan (plans/r14/ann_knn_join_before: the full two-level
    // assignment subtree, 3 BNL joins + 2 window stages + 1 sort-merge
    // join, appears twice; only the broadcast exchanges reuse). So it is
    // session-memoized: 2n rows of (vec_id, cell, qv, nrm), a corpus-sized
    // checkpoint built once per (session, corpus) — both scoring sides are
    // a scan of it, and a later call in the session rebuilds nothing (the
    // corpus count inside knnAssignments runs only in the memo body).
    val asgv = knnAsgvCache.getOrElseUpdate(s, dir) {
      knnAssignments(s, dir).join(
        quantized(s, dir).select(col("vec_id"), col("qv"), col("nrm")),
        "vec_id")
    }
    val scored = asgv
      .select(col("vec_id").as("i"), col("cell"), col("qv").as("qa"),
        col("nrm").as("na"))
      .join(asgv.select(col("vec_id").as("j"), col("cell"),
        col("qv").as("qb"), col("nrm").as("nb")), "cell")
      .filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        cosine(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .distinct()
    val w = Window.partitionBy("i").orderBy(col("cosine").desc, col("j").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("i").as("vec_id"), col("rank").cast("long").as("rank"),
        col("j").as("neighbor_id"), col("cosine"))
      .orderBy("vec_id", "rank")
  }

  private val knnJoinOracle = s"""
WITH n AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
nn AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM n),
kc AS (SELECT greatest($KnnCells,
         (SELECT count(*) FROM embeddings) // $KnnCellTarget) AS kcells),
cq AS (SELECT CASE WHEN fs * fs >= kcells THEN fs ELSE fs + 1 END AS c2
       FROM (SELECT kcells,
               CAST(floor(sqrt(CAST(kcells AS DOUBLE))) AS BIGINT) AS fs
             FROM kc)),
c AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cnrm
      FROM nn WHERE vec_id < (SELECT kcells FROM kc)),
g AS (SELECT centroid_id AS coarse_id, cv AS gv, cnrm AS gnrm
      FROM c WHERE centroid_id < (SELECT c2 FROM cq)),
fo AS (
  SELECT coarse_id, centroid_id, cv, cnrm FROM (
    SELECT g.coarse_id, c.centroid_id, c.cv, c.cnrm,
      row_number() OVER (PARTITION BY c.centroid_id
        ORDER BY c.cnrm + g.gnrm - 2 * CAST(list_sum(list_transform(
          range(1, 65), k -> c.cv[k] * g.gv[k])) AS BIGINT) ASC,
          g.coarse_id ASC) AS frk
    FROM c, g)
  WHERE frk = 1),
vc AS (
  SELECT vec_id, qv, nrm, coarse_id FROM (
    SELECT v.vec_id, v.qv, v.nrm, g.coarse_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY v.nrm + g.gnrm - 2 * CAST(list_sum(list_transform(
          range(1, 65), k -> v.qv[k] * g.gv[k])) AS BIGINT) ASC,
          g.coarse_id ASC) AS crk
    FROM nn v, g)
  WHERE crk <= $CoarseProbes),
d AS (
  SELECT vc.vec_id, fo.centroid_id,
    vc.nrm + fo.cnrm - 2 * CAST(list_sum(list_transform(
      range(1, 65), k -> vc.qv[k] * fo.cv[k])) AS BIGINT) AS dist2
  FROM vc JOIN fo ON fo.coarse_id = vc.coarse_id),
rk AS (
  SELECT vec_id, centroid_id,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, centroid_id ASC) AS rk
  FROM d),
asg AS (SELECT vec_id, centroid_id AS cell FROM rk WHERE rk <= $KnnProbes),
cand AS (
  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
scored AS (
  SELECT i, j,
    CAST(list_sum(list_transform(range(1, 65),
        k -> na.qv[k] * nb.qv[k])) AS DOUBLE)
      / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
      AS cosine
  FROM cand JOIN nn na ON na.vec_id = i JOIN nn nb ON nb.vec_id = j),
ranked AS (
  SELECT i, j, cosine,
    row_number() OVER (PARTITION BY i ORDER BY cosine DESC, j ASC) AS rank
  FROM scored)
SELECT i AS vec_id, CAST(rank AS BIGINT) AS rank, j AS neighbor_id, cosine
FROM ranked WHERE rank <= $KnnK ORDER BY vec_id, rank
"""

  /** Dedup-collapsed kNN join — [[knnJoin]] with the dedup-first
    * discipline a dup-heavy corpus REQUIRES folded into the operator:
    * byte-identical (quantized) vectors collapse to one survivor
    * (id = min member id) carrying its multiplicity, the two-level IVF
    * kNN graph is built over SURVIVORS ONLY, and each edge carries both
    * endpoints' multiplicities so a consumer can expand to member level
    * (within a group, member order is id order — dist 0 ties break on
    * id by the global tie discipline).
    *
    * Why this exists (r14 sf100 measurement): the 1000× corpus holds
    * 2 000 distinct vectors in 2 000 000 rows, and exact duplicates tie
    * on EVERY centroid distance — no quantizer can split them across
    * cells, so any IVF's intra-cell candidate term is ≥ Σ group²/2 ≈
    * 2·10⁹ pairs and `ann_knn_join` exhausted the sandbox's disk at
    * 928 s. Collapsing first makes the candidate term Σ over DISTINCT
    * vectors — the r8 linearity bound applies to survivor count — and
    * the same query runs in seconds. On a dup-free corpus survivors ==
    * vectors and this is exactly [[knnJoin]] plus two multiplicity
    * columns.
    *
    * Survivor seeds cannot rely on dense ids (a survivor id is a
    * min-of-group): fine seeds are the kCells SMALLEST survivor ids via
    * a distributed top-k (`orderBy.limit` → TakeOrdered, never a global
    * sort), mirrored in the oracle as `ORDER BY vec_id LIMIT (...)`.
    * Cell count scales with the SURVIVOR count (same n/128 closed form).
    */
  /** The collapsed survivor base (vec_id = min member id, qv, m, nrm) —
    * session-memoized like [[quantized]] (the shared-base discipline): a
    * dup-heavy ingestion session runs many queries over the SAME collapsed
    * corpus, and the collapse is one full-corpus shuffle worth reusing.
    */
  private val collapsedCache = new graft.FrameMemo

  private[graft] def collapsed(s: SparkSession, dir: String): DataFrame =
    collapsedCache.getOrElseUpdate(s, dir) {
      // nrm is a function of qv, so min() just picks the shared value
      quantized(s, dir).groupBy("qv")
        .agg(min("vec_id").as("vec_id"), count(lit(1)).as("m"),
          min("nrm").as("nrm"))
    }

  /** [[knnJoinDedup]]'s survivor assignment+vector side
    * `(vec_id, cell, qv, m, nrm)`.
    */
  private val dedupAsgvCache = new graft.FrameMemo

  def knnJoinDedup(s: SparkSession, dir: String): DataFrame = {
    // fused scoring (the knnJoin shape): vectors + multiplicities ride
    // the assignment sides; only narrow edges shuffle afterwards.
    // Session-memoized like knnJoin's asgv: the self-join below consumes
    // it twice and ExistingRDD-rooted stages never reuse, so without the
    // materialization the whole two-level assignment computes twice per
    // query (survivor-sized here, so the checkpoint is small by
    // construction); the survivor count runs only in the memo body.
    val asgv = dedupAsgvCache.getOrElseUpdate(s, dir) {
      val groups = collapsed(s, dir)
      val nGroups = groups.count()
      val kCells = math.max(KnnCells.toLong, nGroups / KnnCellTarget)
      // limit() takes an Int: the orderBy.limit seed selection stops being
      // expressible past ~2.1e9 cells (≈ 2.7e11 survivors at n/128) — fail
      // loudly there instead of letting the silent Long→Int truncation
      // pick a negative/wrong seed count (a cluster at that scale samples
      // seeds or pre-builds the index; this operator's contract ends first)
      require(kCells <= Int.MaxValue,
        s"survivor count $nGroups yields $kCells cells, past the " +
          "orderBy.limit seed-selection ceiling (Int.MaxValue)")
      val fine = groups.orderBy("vec_id").limit(kCells.toInt)
        .select(col("vec_id").as("centroid_id"), col("qv").as("cv"),
          col("nrm").as("cnrm"))
      val coarse = fine.orderBy("centroid_id")
        .limit(coarseCount(kCells).toInt)
        .select(col("centroid_id").as("coarse_id"), col("cv").as("gv"),
          col("cnrm").as("gnrm"))
      ivfAssignTwoLevel(groups.select("vec_id", "qv", "nrm"), fine, coarse,
        KnnProbes).join(groups, "vec_id")
    }
    val scored = asgv
      .select(col("vec_id").as("group_id"), col("cell"), col("qv").as("qa"),
        col("nrm").as("na"), col("m").as("m_i"))
      .join(asgv.select(col("vec_id").as("j"), col("cell"),
        col("qv").as("qb"), col("nrm").as("nb"), col("m").as("m_j")), "cell")
      .filter(col("group_id") =!= col("j"))
      .select(col("group_id"), col("m_i"), col("j"), col("m_j"),
        cosine(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .distinct()
    val w = Window.partitionBy("group_id")
      .orderBy(col("cosine").desc, col("j").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("group_id"), col("m_i").as("m"),
        col("rank").cast("long").as("rank"), col("j").as("neighbor_id"),
        col("m_j").as("neighbor_m"), col("cosine"))
      .orderBy("group_id", "rank")
  }

  /** Shared CTE prefix of the dedup-collapsed kNN oracles: collapse →
    * survivor corpus → two-level assignment → survivor graph `ranked`.
    */
  private val knnDedupCte = s"""
WITH n0 AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
grp AS (
  SELECT min(vec_id) AS vec_id, qv, CAST(count(*) AS BIGINT) AS m
  FROM n0 GROUP BY qv),
nn AS (
  SELECT vec_id, qv, m,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM grp),
kc AS (SELECT greatest($KnnCells,
         (SELECT count(*) FROM grp) // $KnnCellTarget) AS kcells),
cq AS (SELECT CASE WHEN fs * fs >= kcells THEN fs ELSE fs + 1 END AS c2
       FROM (SELECT kcells,
               CAST(floor(sqrt(CAST(kcells AS DOUBLE))) AS BIGINT) AS fs
             FROM kc)),
c AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cnrm
      FROM nn ORDER BY vec_id LIMIT (SELECT kcells FROM kc)),
g AS (SELECT centroid_id AS coarse_id, cv AS gv, cnrm AS gnrm
      FROM c ORDER BY centroid_id LIMIT (SELECT c2 FROM cq)),
fo AS (
  SELECT coarse_id, centroid_id, cv, cnrm FROM (
    SELECT g.coarse_id, c.centroid_id, c.cv, c.cnrm,
      row_number() OVER (PARTITION BY c.centroid_id
        ORDER BY c.cnrm + g.gnrm - 2 * CAST(list_sum(list_transform(
          range(1, 65), k -> c.cv[k] * g.gv[k])) AS BIGINT) ASC,
          g.coarse_id ASC) AS frk
    FROM c, g)
  WHERE frk = 1),
vc AS (
  SELECT vec_id, qv, nrm, coarse_id FROM (
    SELECT v.vec_id, v.qv, v.nrm, g.coarse_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY v.nrm + g.gnrm - 2 * CAST(list_sum(list_transform(
          range(1, 65), k -> v.qv[k] * g.gv[k])) AS BIGINT) ASC,
          g.coarse_id ASC) AS crk
    FROM nn v, g)
  WHERE crk <= $CoarseProbes),
d AS (
  SELECT vc.vec_id, fo.centroid_id,
    vc.nrm + fo.cnrm - 2 * CAST(list_sum(list_transform(
      range(1, 65), k -> vc.qv[k] * fo.cv[k])) AS BIGINT) AS dist2
  FROM vc JOIN fo ON fo.coarse_id = vc.coarse_id),
rk AS (
  SELECT vec_id, centroid_id,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, centroid_id ASC) AS rk
  FROM d),
asg AS (SELECT vec_id, centroid_id AS cell FROM rk WHERE rk <= $KnnProbes),
cand AS (
  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
scored AS (
  SELECT i, na.m AS m_i, j, nb.m AS m_j,
    CAST(list_sum(list_transform(range(1, 65),
        k -> na.qv[k] * nb.qv[k])) AS DOUBLE)
      / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
      AS cosine
  FROM cand JOIN nn na ON na.vec_id = i JOIN nn nb ON nb.vec_id = j),
ranked AS (
  SELECT i, m_i, j, m_j, cosine,
    row_number() OVER (PARTITION BY i ORDER BY cosine DESC, j ASC) AS rank
  FROM scored)"""

  private val knnJoinDedupOracle = knnDedupCte + s"""
SELECT i AS group_id, m_i AS m, CAST(rank AS BIGINT) AS rank,
  j AS neighbor_id, m_j AS neighbor_m, cosine
FROM ranked WHERE rank <= $KnnK ORDER BY group_id, rank
"""

  /** Member-level expansion of [[knnJoinDedup]]'s survivor graph — the
    * consumer-side half of the dedup-first discipline: a per-VECTOR
    * top-[[KnnK]] neighbor list for every corpus member, reconstructed
    * from the group graph without ever enumerating intra-group pairs.
    *
    * Construction (the query's semantics, mirrored CTE-for-CTE in the
    * oracle): a member's candidates are (a) its OWN group's members at
    * the group's self-cosine — only the k+1 SMALLEST member ids per
    * group can ever rank (equal cosine ties break on id), so each group
    * contributes a bounded id prefix, never its full membership — and
    * (b) for each of its group's top-k neighbor GROUPS, that group's
    * k-smallest-id prefix at the edge cosine. Per-member ranking is a
    * window over ≤ (k+1)² candidate rows. Total work is O(n·k²) however
    * dup-heavy the corpus: at /tmp/sf100 (1000-member groups) this emits
    * 2M × k rows while the naive member-level IVF died on Σ group²
    * candidates.
    *
    * Self-cosine is the same IEEE expression as every other cosine
    * (dot/(√n·√n)) — NOT the constant 1.0 — so the engines agree bit
    * for bit and own-group vs cross-group ordering has one rule.
    */
  /** Member → survivor-group map `(vec_id, group_id, m)`: every corpus
    * vector equi-joined to its collapsed group. The join KEY is xxhash64
    * over the quantized array — an 8-byte shuffle/compare key instead of
    * the raw 512-byte 64-long array — with the exact arrays kept as
    * verify payload: the equality filter keeps the map exact under any
    * hash collision, the hash only thins the exchange and the sort-merge
    * comparisons (the r11-verdict key-width nit on `knnExpandMembers`).
    * Shared by the member-expansion consumers of [[collapsed]]
    * (`ann_knn_expand_members`, `dedup_semantic_collapsed`).
    */
  private[graft] def memberMap(s: SparkSession, dir: String): DataFrame =
    quantized(s, dir)
      .select(col("vec_id"), col("qv"), xxhash64(col("qv")).as("hk"))
      .join(collapsed(s, dir).select(col("vec_id").as("group_id"),
        col("qv").as("gqv"), col("m"), xxhash64(col("qv")).as("hk")), "hk")
      .filter(col("qv") === col("gqv"))
      .select("vec_id", "group_id", "m")

  /** [[knnExpandMembers]]'s narrow member map `(vec_id, group_id)`. */
  private val memberIdsCache = new graft.FrameMemo

  def knnExpandMembers(s: SparkSession, dir: String): DataFrame = {
    val groups = collapsed(s, dir)
    // consumed twice (the k+1 id prefix AND the candidate expansion); the
    // hash-thinned quantized⋈collapsed join behind it would otherwise run
    // twice — same ExistingRDD stage-reuse gap as knnJoin's asgv, so it is
    // session-memoized the same way
    val members = memberIdsCache.getOrElseUpdate(s, dir) {
      memberMap(s, dir).select("vec_id", "group_id")
    }
    // k+1 smallest member ids per group: own-group candidates survive
    // self-exclusion; neighbor-group use sees at most the first k
    val wg = Window.partitionBy("group_id").orderBy("vec_id")
    val prefix = members
      .withColumn("pos", row_number().over(wg))
      .filter(col("pos") <= KnnK + 1)
      .select(col("group_id").as("neighbor_gid"),
        col("vec_id").as("neighbor_id"))
    val selfEdges = groups.select(col("vec_id").as("group_id"),
      col("vec_id").as("neighbor_gid"),
      cosine(col("qv"), col("qv"), col("nrm"), col("nrm")).as("cosine"))
    val graphEdges = knnJoinDedup(s, dir)
      .select(col("group_id"), col("neighbor_id").as("neighbor_gid"),
        col("cosine"))
    val edges = selfEdges.unionByName(graphEdges)
    val cands = members.join(edges, "group_id")
      .join(prefix, "neighbor_gid")
      .filter(col("neighbor_id") =!= col("vec_id"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("vec_id", "rank")
  }

  private val knnExpandMembersOracle = knnDedupCte + s""",
graph AS (
  SELECT i AS group_id, j AS neighbor_gid, cosine
  FROM ranked WHERE rank <= $KnnK),
members AS (
  SELECT n0.vec_id, grp.vec_id AS group_id FROM n0 JOIN grp USING (qv)),
selfe AS (
  SELECT vec_id AS group_id, vec_id AS neighbor_gid,
    CAST(list_sum(list_transform(range(1, 65), k -> qv[k] * qv[k]))
      AS DOUBLE)
      / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(nrm AS DOUBLE))) AS cosine
  FROM nn),
edges AS (
  SELECT * FROM selfe UNION ALL SELECT * FROM graph),
pref AS (
  SELECT group_id AS neighbor_gid, vec_id AS neighbor_id
  FROM (SELECT group_id, vec_id,
          row_number() OVER (PARTITION BY group_id ORDER BY vec_id) AS pos
        FROM members)
  WHERE pos <= $KnnK + 1),
cands AS (
  SELECT m.vec_id, p.neighbor_id, e.cosine
  FROM members m
  JOIN edges e ON e.group_id = m.group_id
  JOIN pref p ON p.neighbor_gid = e.neighbor_gid
  WHERE p.neighbor_id <> m.vec_id),
rnk AS (
  SELECT vec_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cands)
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM rnk WHERE rank <= $KnnK ORDER BY vec_id, rank
"""

  /** Recall audit for BOTH IVF variants against the exact baseline — the
    * nprobe-tuning table an ANN deployment reads before picking its
    * recall/cost point: per probe, how much of the exact top-k the
    * label-cell IVF ([[ivfTopK]], nprobe=1 against given cells) and the
    * true multiprobe IVF ([[ivfMultiprobe]], nprobe=2 against learned
    * cells) each retain. Completes the recall family (LSH and PQ audits
    * exist); pure integer set-intersection counts, one division per
    * recall column, and the exact side runs on the audit probe sample
    * only — the same scale posture as [[lshRecall]].
    */
  def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    val brute = bruteForceTopK(s, dir).select("query_id", "neighbor_id")
    def recallOf(approx: DataFrame): DataFrame = recallCounts(brute, approx)
    recallOf(ivfTopK(s, dir)).toDF("query_id", "n_exact", "common_label")
      .join(recallOf(ivfMultiprobe(s, dir))
        .toDF("query_id", "ne2", "common_multi"), "query_id")
      .select(col("query_id"), col("n_exact"), col("common_label"),
        (col("common_label").cast("double") / col("n_exact").cast("double"))
          .as("recall_label"),
        col("common_multi"),
        (col("common_multi").cast("double") / col("n_exact").cast("double"))
          .as("recall_multi"))
      .orderBy("query_id")
  }

  private val ivfRecallOracle = s"""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
bscored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM bscored)
  WHERE rank <= $TopK),
lscored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q p JOIN q c
    ON p.vec_id < $NumProbes AND c.label = p.label AND c.vec_id <> p.vec_id),
ivf_l AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM lscored)
  WHERE rank <= $TopK),
n AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM q),
cc AS (SELECT vec_id AS centroid_id, qv AS cv, nrm AS cnrm
       FROM n WHERE vec_id < $NumCells),
dd AS (
  SELECT v.vec_id, cc.centroid_id,
    v.nrm + cc.cnrm - 2 * CAST(list_sum(
      list_transform(range(1, 65), k -> v.qv[k] * cc.cv[k])) AS BIGINT)
      AS dist2
  FROM n v, cc),
rk AS (
  SELECT vec_id, centroid_id,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2 ASC, centroid_id ASC) AS rk
  FROM dd),
cells AS (SELECT vec_id, centroid_id AS cell FROM rk WHERE rk = 1),
pcells AS (
  SELECT vec_id AS query_id, centroid_id AS pcell
  FROM rk WHERE vec_id < $NumProbes AND rk <= $NumProbeCells),
mscored AS (
  SELECT p.vec_id AS query_id, m.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * m.qv[k])) AS DOUBLE)
      / (sqrt(CAST(p.nrm AS DOUBLE)) * sqrt(CAST(m.nrm AS DOUBLE))) AS cosine
  FROM n p
  JOIN pcells pc ON pc.query_id = p.vec_id
  JOIN cells cl ON cl.cell = pc.pcell
  JOIN n m ON m.vec_id = cl.vec_id AND m.vec_id <> p.vec_id),
ivf_m AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM mscored)
  WHERE rank <= $TopK)
SELECT b.query_id,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf_l l
      WHERE l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id)
    THEN 1 ELSE 0 END) AS BIGINT) AS common_label,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf_l l
      WHERE l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id)
    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS recall_label,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf_m m
      WHERE m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id)
    THEN 1 ELSE 0 END) AS BIGINT) AS common_multi,
  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf_m m
      WHERE m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id)
    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS recall_multi
FROM brute b GROUP BY b.query_id ORDER BY query_id
"""

  // -------------------------------------- random-projection (JL) rerank
  private val RpDims = 16

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix, row r = the 64
    * signs of projection r: +1 iff the first hex digit of md5("r_d") is
    * below '8' (P = 1/2 per entry). The same closed form is evaluated in
    * the oracle with DuckDB's md5 over the identical string, so both
    * engines project through bit-identical matrices without shipping one.
    */
  private lazy val rpSigns: Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until RpDims).map { r =>
      (0 until 64).map { d =>
        val h = md.digest(s"${r}_$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
      }.toSeq
    }
  }

  /** Random-projection ANN — the fourth classic compression scheme next to
    * SQ8 (scalar), PQ (product) and LSH (binary): a DENSE ±1
    * Johnson–Lindenstrauss projection to [[RpDims]] int64 coordinates
    * (each = one [[graft.functions.LongArrayDot]] against a literal sign
    * row — codegen'd, exact), preserving dot products in expectation with
    * JL variance ~1/[[RpDims]]. The approx phase ranks by the projected
    * quasi-cosine dot/√‖rp‖² (the query-side norm is rank-constant and
    * dropped; one IEEE sqrt+division on exact int64 inputs, bit-identical
    * across engines), keeps [[CandPool]] candidates, and the exact phase
    * rescores them with full-precision quantized cosine — same
    * two-phase shape as [[sq8Rerank]]. Scale: the sketch scan reads 16
    * int64s instead of 64 floats per row (4× less candidate-phase I/O and
    * arithmetic), and the sketch column is the thing a 100 TB layout
    * would store alongside the vectors. [[rpRecall]] audits what the
    * compression costs against the exact baseline.
    */
  def rpRerank(s: SparkSession, dir: String): DataFrame = {
    val base = quantized(s, dir)
      .withColumn("rp", array(rpSigns.map(row =>
        call_function("vec_dot_long", col("qv"), typedLit(row))): _*))
      .withColumn("rpn", call_function("vec_dot_long", col("rp"), col("rp")))
    val probes = base.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("query_id"), col("qv").as("pq"),
        col("nrm").as("pnrm"), col("rp").as("prp"))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val cands = base.join(broadcast(probes),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (call_function("vec_dot_long", col("prp"), col("rp")).cast("double")
          / sqrt(col("rpn").cast("double"))).as("approx"),
        col("pq"), col("pnrm"), col("qv"), col("nrm"))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= CandPool)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("pq"), col("qv"), col("pnrm"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Shared oracle CTE: the sign matrix + per-vector int64 RP sketch. */
  private val rpSketchCte = s"""
WITH mat AS (
  SELECT r, d,
    CASE WHEN substr(md5(CAST(r AS VARCHAR) || '_' || CAST(d AS VARCHAR)),
                     1, 1) < '8' THEN 1 ELSE -1 END AS sgn
  FROM range(0, $RpDims) t1(r), range(0, 64) t2(d)),
m AS (SELECT list(srow ORDER BY r) AS mm FROM (
  SELECT r, list(sgn ORDER BY d) AS srow FROM mat GROUP BY r) GROUP BY ALL),
q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
rp AS (
  SELECT vec_id, qv,
    list_transform(range(1, ${RpDims + 1}),
      r -> list_sum(list_transform(range(1, 65),
        k -> qv[k] * mm[r][k]))) AS rpv
  FROM q, m)"""

  private val rpRerankOracle = s"""
$rpSketchCte,
cands AS (
  SELECT query_id, neighbor_id, pq, cqv FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      p.qv AS pq, c.qv AS cqv,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, ${RpDims + 1}),
          k -> p.rpv[k] * c.rpv[k])) AS DOUBLE)
        / sqrt(CAST(list_sum(list_transform(c.rpv, x -> x * x)) AS DOUBLE))
        DESC, c.vec_id ASC) AS arank
    FROM rp p JOIN rp c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE arank <= $CandPool),
reranked AS (
  SELECT query_id, neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> pq[k] * cqv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(pq, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(cqv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM cands)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM reranked)
WHERE rank <= $TopK ORDER BY query_id, rank
"""

  /** Recall of the RP-sketch pipeline against the exact brute-force top-k —
    * the audit that makes the JL compression's cost measurable, same shape
    * as [[ivfRecall]]/[[pqRecall]].
    */
  def rpRecall(s: SparkSession, dir: String): DataFrame =
    recallCounts(bruteForceTopK(s, dir).select("query_id", "neighbor_id"),
        rpRerank(s, dir))
      .select(col("query_id"), col("n_exact"),
        col("n_common").as("common"),
        (col("n_common").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("query_id")

  private val rpRecallOracle = s"""
$rpSketchCte,
cands AS (
  SELECT query_id, neighbor_id, pq, cqv FROM (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
      p.qv AS pq, c.qv AS cqv,
      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, ${RpDims + 1}),
          k -> p.rpv[k] * c.rpv[k])) AS DOUBLE)
        / sqrt(CAST(list_sum(list_transform(c.rpv, x -> x * x)) AS DOUBLE))
        DESC, c.vec_id ASC) AS arank
    FROM rp p JOIN rp c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id)
  WHERE arank <= $CandPool),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        CAST(list_sum(list_transform(range(1, 65), k -> pq[k] * cqv[k]))
          AS DOUBLE)
        / (sqrt(CAST(list_sum(list_transform(pq, x -> x * x)) AS DOUBLE))
           * sqrt(CAST(list_sum(list_transform(cqv, x -> x * x)) AS DOUBLE)))
        DESC, neighbor_id ASC) AS rank
    FROM cands)
  WHERE rank <= $TopK),
bscored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65), k -> p.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q p JOIN q c ON p.vec_id < $NumProbes AND c.vec_id <> p.vec_id),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM bscored)
  WHERE rank <= $TopK)
SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS common,
  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS recall
FROM brute b LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
"""

  // ------------------------------------------------ hard negative mining
  private val NegPoolSize = 64
  private val NegK = 4

  /** In-batch hard-negative mining for contrastive training: every anchor
    * vector is paired with the [[NegK]] most-cosine-similar vectors of a
    * DIFFERENT label drawn from a fixed candidate pool — the "hardest"
    * negatives a contrastive loss learns most from. The pool is the
    * [[NegPoolSize]] corpus vectors with the smallest deterministic
    * 60-bit md5 key (a derandomized uniform batch, same construction as
    * the sampling family), so membership is reproducible on any engine and
    * any partitioning.
    *
    * 100 TB posture: the pool is a bounded model artifact (fixed size,
    * TakeOrdered — no full sort) broadcast to every task; anchors stream
    * through one broadcast nested-loop join of width `|pool|`, so total
    * work is `n × 64` — linear in the corpus, zero corpus-side shuffle
    * before the per-anchor top-k window (keyed on the anchor id). This is
    * exactly the in-batch-negatives shape of large-scale contrastive
    * pipelines: the batch is small and shared; the corpus scan is linear.
    * Scores are the exact quantized int64 cosine, so the per-anchor
    * ranking cannot flap on float noise across engines.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val pool = corpus
      .orderBy(SamplingOps.hash60(col("vec_id")), col("vec_id"))
      .limit(NegPoolSize)
      .select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("qv").as("cq"), col("nrm").as("cnrm"))
    val scored = corpus.join(broadcast(pool),
        col("neg_label") =!= col("label"))
      .select(col("vec_id").as("anchor_id"), col("neg_id"),
        cosine(col("qv"), col("cq"), col("nrm"), col("cnrm")).as("cosine"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("neg_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NegK)
      .select(col("anchor_id"), col("rank").cast("long").as("rank"),
        col("neg_id"), col("cosine"))
      .orderBy("anchor_id", "rank")
  }

  private val hardNegativesOracle = s"""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
pool AS (
  SELECT vec_id, label, qv FROM q
  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
    vec_id
  LIMIT $NegPoolSize),
scored AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
    CAST(list_sum(list_transform(range(1, 65), k -> a.qv[k] * c.qv[k])) AS DOUBLE)
      / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
         * sqrt(CAST(list_sum(list_transform(c.qv, x -> x * x)) AS DOUBLE)))
      AS cosine
  FROM q a JOIN pool c ON c.label <> a.label),
ranked AS (
  SELECT anchor_id, neg_id, cosine,
    row_number() OVER (PARTITION BY anchor_id
                       ORDER BY cosine DESC, neg_id ASC) AS rank
  FROM scored)
SELECT anchor_id, CAST(rank AS BIGINT) AS rank, neg_id, cosine
FROM ranked WHERE rank <= $NegK ORDER BY anchor_id, rank
"""

  val queries: Map[String, QueryDef] = Map(
    "ann_hard_negatives" ->
      QueryDef(hardNegatives, Some(hardNegativesOracle)),
    "ann_rp_rerank" -> QueryDef(rpRerank, Some(rpRerankOracle)),
    "ann_rp_recall" -> QueryDef(rpRecall, Some(rpRecallOracle)),
    "ann_ivf_recall" -> QueryDef(ivfRecall, Some(ivfRecallOracle)),
    "ann_ivf_pq" -> QueryDef(ivfPq, Some(ivfPqOracle)),
    "ann_ivf_pq_recall" -> QueryDef(ivfPqRecall, Some(ivfPqRecallOracle)),
    "ann_knn_join" -> QueryDef(knnJoin, Some(knnJoinOracle)),
    "ann_knn_join_dedup" -> QueryDef(knnJoinDedup, Some(knnJoinDedupOracle)),
    "ann_knn_expand_members" ->
      QueryDef(knnExpandMembers, Some(knnExpandMembersOracle)),
    "ann_pq_adc" -> QueryDef(pqAdcRerank, Some(pqAdcOracle)),
    "ann_pq_recall" -> QueryDef(pqRecall, Some(pqRecallOracle)),
    "ann_brute_topk" -> QueryDef(bruteForceTopK, Some(bruteForceOracle)),
    "ann_sq8_rerank" -> QueryDef(sq8Rerank, Some(sq8RerankOracle)),
    "ann_ivf_label" -> QueryDef(ivfTopK, Some(ivfOracle)),
    "ann_ivf_multiprobe" -> QueryDef(ivfMultiprobe, Some(ivfMultiprobeOracle)),
    "ann_lsh_buckets" -> QueryDef(lshBuckets, Some(lshBucketsOracle)),
    "ann_lsh_topk" -> QueryDef(lshTopK, Some(lshTopKOracle)),
    "ann_lsh_recall" -> QueryDef(lshRecall, Some(lshRecallOracle))
  )
}
