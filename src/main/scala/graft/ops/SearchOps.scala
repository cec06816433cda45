package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text relevance retrieval over `documents` — the ranking side of a
  * training-corpus search/inspection surface (the dedup/quality families
  * cover the filtering side).
  *
  * BM25 with a rational idf: the standard Robertson idf is
  * ln((N−df+0.5)/(df+0.5)+1); oracle hash-equality cannot survive a
  * transcendental (libm vs JVM `Math.log` differ in the last ulp on some
  * inputs), so the engine uses the monotone pre-log argument
  * (N−df+0.5)/(df+0.5) as the idf weight. Every factor is then a ratio of
  * exact int64 products (k1=6/5, b=3/4 folded in as integer multiples —
  * see [[bm25Score]]), each term score is ONE IEEE double division, and
  * the final score is a fixed-order sum of the per-term scores — bit-exact
  * across engines, same trick as the quantized-cosine family.
  *
  * 100 TB posture: tokenize+tf is embarrassingly parallel; the corpus
  * stats (N, Σdl, per-term df) are one tiny all-to-one aggregate broadcast
  * back; scoring is a map-only pass and top-k is TakeOrdered — no shuffle
  * of document data at all. An inverted-index layout (posting lists
  * bucketed by term) replaces the full scan when the term set is dynamic.
  */
object SearchOps {

  private val K1Num = 6L // k1 = 1.2 = 6/5
  private val BNum = 3L // b = 0.75 = 3/4 (folded into the integer algebra)
  private val Terms = Seq("spark", "merge") // fixed probe query

  // the fused codegen tokenizer (guide §4) — bit-identical to
  // filter(split(lower(text), "[^a-z]+"), _ =!= ""), parity pinned in
  // CodegenParitySpec; callers register VectorFunctions first
  private def toks: Column = call_function("ascii_words", col("text"))

  /** Exact-integer BM25 term score (see object doc): with k1=6/5, b=3/4,
    *   idf_r        = (2N−2df+1)/(2df+1)
    *   denominator  = tf + k1·(1−b+b·dl/avgdl), avgdl = Σdl/N
    *                = (10·tf·Σdl + 3·Σdl + 9·dl·N) / (10·Σdl)
    *   score        = idf_r · tf·(k1+1) / denominator
    *                = (2N−2df+1)·tf·22·Σdl
    *                  / ((2df+1)·(10·tf·Σdl + 3·Σdl + 9·dl·N))
    * Both operands stay far below 2^53 at any plausible SF, so the single
    * double division is the only inexact step and is identical everywhere.
    */
  private def bm25Score(tf: Column, df: Column, dl: Column,
      n: Column, sumdl: Column): Column = {
    val num = (lit(2L) * n - lit(2L) * df + lit(1L)) * tf * lit(22L) * sumdl
    val den = (lit(2L) * df + lit(1L)) *
      (lit(10L) * tf * sumdl + lit(3L) * sumdl + lit(9L) * dl * n)
    when(tf > 0L, num.cast("double") / den.cast("double")).otherwise(lit(0.0))
  }

  /** Top-20 documents for the fixed two-term query, BM25-ranked. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // localCheckpoint: `per` feeds BOTH the corpus-stats aggregate and
    // the scoring join, and neither branch ends in an exchange Spark
    // could reuse — without materialization the 5M-doc tokenize pass
    // runs twice (the r15 sf100 sweep's 42.7 s; one pass + a 4-long-
    // per-doc materialization is the cheaper trade at every SF, and at
    // 100 TB `per` is ~32 bytes/doc vs re-tokenizing kilobytes/doc)
    val per = Registry.table(s, dir, "documents")
      .select(col("doc_id") +: size(toks).cast("long").as("dl") +:
        Terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === t)).cast("long").as(s"tf$i")
        }: _*)
      .localCheckpoint()
    val aggCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0L, 1L).otherwise(0L)).as(s"df$i"))
    val stats = per.agg(aggCols.head, aggCols.tail: _*)
    val scored = per.join(broadcast(stats))
      .withColumn("score",
        Terms.indices.map(i => bm25Score(col(s"tf$i"), col(s"df$i"),
          col("dl"), col("n"), col("sumdl"))).reduce(_ + _))
    scored.select(col("doc_id"), col("score"), col("dl"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val bm25Oracle = s"""
WITH tok AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS toks
  FROM documents),
per AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
    CAST(len(list_filter(toks, t -> t = '${Terms(0)}')) AS BIGINT) AS tf0,
    CAST(len(list_filter(toks, t -> t = '${Terms(1)}')) AS BIGINT) AS tf1
  FROM tok),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
  FROM per)
SELECT doc_id, score, dl FROM (
  SELECT doc_id, dl,
    (CASE WHEN tf0 > 0 THEN
      CAST((2*n - 2*df0 + 1) * tf0 * 22 * sumdl AS DOUBLE)
      / CAST((2*df0 + 1) * (10*tf0*sumdl + 3*sumdl + 9*dl*n) AS DOUBLE)
     ELSE 0.0 END) +
    (CASE WHEN tf1 > 0 THEN
      CAST((2*n - 2*df1 + 1) * tf1 * 22 * sumdl AS DOUBLE)
      / CAST((2*df1 + 1) * (10*tf1*sumdl + 3*sumdl + 9*dl*n) AS DOUBLE)
     ELSE 0.0 END) AS score
  FROM per, st)
ORDER BY score DESC, doc_id
LIMIT 20
"""

  // ------------------------------------------------- hybrid retrieval (RRF)
  private val RrfK = 60L // the standard reciprocal-rank-fusion constant

  /** Hybrid sparse+dense retrieval with reciprocal rank fusion — the
    * production RAG/retrieval shape: the BM25 top-20 (lexical) and the
    * cosine top-20 against probe vector 0 (semantic; `vec_id` keys a
    * partially-embedded corpus — documents without an embedding simply get
    * no dense contribution) are fused by `Σ 1/(60+rank)`, a rank-space
    * formula immune to the two scorers' incomparable scales.
    *
    * Determinism: each RRF term is one IEEE division of exact small ints,
    * summed in fixed (sparse, dense) order and tie-broken by doc_id, so
    * the fused ranking is bit-identical cross-engine. Scale: both arms end
    * in TakeOrdered top-k; the fusion join touches 40 rows — the windows
    * that assign ranks see ONLY those top-k rows.
    */
  private val denseTopCache = new graft.FrameMemo

  /** Exact-cosine top-20 candidates vs probe vector 0 — the dense arm
    * [[hybridRrf]] and [[mmrRerank]] share (each hand-copied the scored
    * scan + TakeOrdered-20 and the cosine expression; the kernel is
    * [[Similarity.cosine]] now). Session-memoized + checkpointed: one
    * corpus pass against the broadcast probe serves both queries and
    * every MMR greedy round.
    */
  private def denseTop20(s: SparkSession, dir: String): DataFrame =
    denseTopCache.getOrElseUpdate(s, dir) {
      val corpus = Similarity.quantized(s, dir)
      val probe = corpus.filter(col("vec_id") === 0)
        .select(col("qv").as("pq"), col("nrm").as("pn"))
      corpus.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"), col("qv"), col("nrm"),
          Similarity.cosine(col("qv"), col("pq"), col("nrm"), col("pn"))
            .as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
    }

  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = bm25TopK(s, dir)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long").as("r_bm25"))
    val dense = denseTop20(s, dir)
      .select(col("vec_id").as("doc_id"), col("rel").as("cos"))
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id")))
        .cast("long").as("r_dense"))
    val term: Column => Column = r =>
      coalesce(lit(1.0) / (lit(RrfK) + r).cast("double"), lit(0.0))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (term(col("r_bm25")) + term(col("r_dense"))).as("rrf"),
        col("r_bm25"), col("r_dense"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(10)
  }

  private val hybridOracle = s"""
WITH tok AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS toks
  FROM documents),
per AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
    CAST(len(list_filter(toks, t -> t = '${Terms(0)}')) AS BIGINT) AS tf0,
    CAST(len(list_filter(toks, t -> t = '${Terms(1)}')) AS BIGINT) AS tf1
  FROM tok),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl,
    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1
  FROM per),
bmtop AS (
  SELECT doc_id, score FROM (
    SELECT doc_id,
      (CASE WHEN tf0 > 0 THEN
        CAST((2*n - 2*df0 + 1) * tf0 * 22 * sumdl AS DOUBLE)
        / CAST((2*df0 + 1) * (10*tf0*sumdl + 3*sumdl + 9*dl*n) AS DOUBLE)
       ELSE 0.0 END) +
      (CASE WHEN tf1 > 0 THEN
        CAST((2*n - 2*df1 + 1) * tf1 * 22 * sumdl AS DOUBLE)
        / CAST((2*df1 + 1) * (10*tf1*sumdl + 3*sumdl + 9*dl*n) AS DOUBLE)
       ELSE 0.0 END) AS score
    FROM per, st)
  ORDER BY score DESC, doc_id LIMIT 20),
bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS BIGINT) AS r_bm25
  FROM bmtop),
nn AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
nq AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM nn),
probe AS (SELECT qv AS pq, nrm AS pn FROM nq WHERE vec_id = 0),
dtop AS (
  SELECT doc_id, cos FROM (
    SELECT vec_id AS doc_id,
      CAST(list_sum(list_transform(range(1, 65), k -> qv[k] * pq[k]))
           AS DOUBLE)
        / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(pn AS DOUBLE))) AS cos
    FROM nq, probe WHERE vec_id <> 0)
  ORDER BY cos DESC, doc_id LIMIT 20),
dn AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                      AS BIGINT) AS r_dense
  FROM dtop)
SELECT doc_id,
  coalesce(CAST(1.0 AS DOUBLE) / CAST($RrfK + r_bm25 AS DOUBLE), 0.0)
    + coalesce(CAST(1.0 AS DOUBLE) / CAST($RrfK + r_dense AS DOUBLE), 0.0)
    AS rrf,
  r_bm25, r_dense
FROM bm FULL OUTER JOIN dn USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 10
"""

  // ------------------------------------------------------ MMR rerank
  private val MmrPicks = 4 // greedy picks after the top-relevance seed

  /** Maximal-marginal-relevance rerank of the dense retrieval arm — the
    * diversification step a RAG pipeline runs between retrieval and
    * context assembly, so five near-identical chunks don't fill the
    * context window. Candidates: exact-cosine top-20 vs probe vector 0
    * (hybridRrf's dense arm). Greedy selection at λ = 1/2: maximizing
    * `λ·rel − (1−λ)·maxsim` is then the same argmax as `rel − maxsim`,
    * so NO float λ multiplication ever happens — the margin is one
    * double subtraction of two already-exact cosines, bit-identical in
    * both engines; ties break on vec_id.
    *
    * Scale shape: the corpus appears ONLY in the candidate stage (a
    * map-only scored scan + TakeOrdered-20 against the broadcast probe);
    * the [[MmrPicks]] greedy rounds run entirely on the checkpointed
    * 20-row candidate set — driver-unrolled like the k-center coreset,
    * O(k²·|cand|) trivial work independent of corpus size.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val cand = denseTop20(s, dir)
    def cos(qa: Column, qb: Column, na: Column, nb: Column): Column =
      Similarity.cosine(qa, qb, na, nb)
    var chosen = cand
      .orderBy(col("rel").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("qv"), col("nrm"), col("rel"),
        col("rel").as("mmr"), lit(0L).as("pick"))
      .localCheckpoint()
    for (k <- 1 to MmrPicks) {
      val maxsim = cand
        .join(chosen.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(chosen.select(col("qv").as("cqv"),
          col("nrm").as("cnrm"))))
        .groupBy(col("vec_id"))
        .agg(max(cos(col("qv"), col("cqv"), col("nrm"), col("cnrm")))
          .as("maxsim"))
      val next = cand.join(maxsim, "vec_id")
        .withColumn("mmr", col("rel") - col("maxsim"))
        .orderBy(col("mmr").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("qv"), col("nrm"), col("rel"),
          col("mmr"), lit(k.toLong).as("pick"))
      chosen = chosen.union(next).localCheckpoint()
    }
    chosen.select(col("pick"), col("vec_id"), col("rel"), col("mmr"))
      .orderBy("pick")
  }

  /** Chained-CTE oracle generated from the same round count: each round
    * recomputes max-similarity-to-chosen over the 20-row candidate set
    * and takes the same (mmr DESC, vec_id ASC) top-1.
    */
  private val mmrOracle: String = {
    val cosSql = (a: String, b: String) =>
      s"""CAST(list_sum(list_transform(range(1, 65),
        t -> $a.qv[t] * $b.qv[t])) AS DOUBLE)
        / (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))"""
    val steps = (1 to MmrPicks).map { k =>
      val prev = (0 until k).map(i => s"SELECT * FROM p$i").mkString(
        "(", " UNION ALL ", ")")
      s"""m$k AS (
  SELECT c.vec_id, max(${cosSql("c", "s")}) AS maxsim
  FROM cand c, $prev s
  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev q)
  GROUP BY c.vec_id),
p$k AS (
  SELECT c.vec_id, c.qv, c.nrm, c.rel, c.rel - m.maxsim AS mmr, $k AS pick
  FROM m$k m JOIN cand c ON c.vec_id = m.vec_id
  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1)"""
    }.mkString(",\n")
    s"""
WITH n AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
nq AS (
  SELECT vec_id, qv,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM n),
probe AS (SELECT qv AS pq, nrm AS pn FROM nq WHERE vec_id = 0),
cand AS (
  SELECT vec_id, qv, nrm, rel FROM (
    SELECT vec_id, qv, nrm,
      CAST(list_sum(list_transform(range(1, 65), t -> qv[t] * pq[t]))
           AS DOUBLE)
        / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(pn AS DOUBLE))) AS rel
    FROM nq, probe WHERE vec_id <> 0)
  ORDER BY rel DESC, vec_id LIMIT 20),
p0 AS (
  SELECT vec_id, qv, nrm, rel, rel AS mmr, 0 AS pick
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
$steps
SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel, mmr
FROM (${(0 to MmrPicks).map(i => s"SELECT * FROM p$i")
        .mkString(" UNION ALL ")})
ORDER BY pick
"""
  }

  // ------------------------------------------------------- phrase rank
  /** Exact-phrase retrieval ("sort merge" as a two-term phrase) — the
    * retrieval mode BM25's bag-of-words misses: a document scores by how
    * often the terms appear ADJACENT in order.
    *
    * Counting runs in the STRING domain with the tokenizer family's
    * delimited encoding (`|t1||t2||...|`, '|' impossible inside the
    * `[a-z]` token alphabet): occurrences of `|sort||merge|` are
    * `(len(s) − len(replace(s, p, ''))) / len(p)` — `replace`/`length`
    * are whole-stage-codegen'd, where Spark evaluates array
    * higher-order-function lambdas INTERPRETED (a first cut with
    * `filter(sequence(...))` over token indices measured 8.3s at sf0.1
    * vs sub-second for this form). The left-to-right non-overlapping
    * `replace` counts every adjacency here because the phrase is not
    * self-overlapping ("sort" ≠ "merge" — a `w w` phrase would need the
    * index walk); each consumed boundary '|' leaves the shared second
    * '|' to open the next token, so back-to-back occurrences all count
    * (the Round6PropertySpec law re-counts directly from the token
    * array). Map-only + TakeOrdered — the BM25 scale posture; an
    * inverted bigram index replaces the scan when phrases are dynamic.
    */
  def phraseRank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    def occurrences(hay: Column, needle: String): Column =
      ((length(hay) - length(call_function("replace", hay, lit(needle))))
        / lit(needle.length)).cast("long")
    val enc = concat(lit("|"), array_join(toks, "||"), lit("|"))
    Registry.table(s, dir, "documents")
      .select(col("doc_id"), col("source"), enc.as("s"))
      .select(col("doc_id"), col("source"),
        occurrences(col("s"), "|sort||merge|").as("phrase_hits"),
        occurrences(col("s"), "|sort|").as("tf_sort"),
        occurrences(col("s"), "|merge|").as("tf_merge"))
      .filter(col("phrase_hits") > 0)
      .orderBy(col("phrase_hits").desc, col("doc_id").asc)
      .limit(20)
  }

  private val phraseOracle = """
WITH enc AS (
  SELECT doc_id, source,
    '|' || array_to_string(
      list_filter(string_split_regex(lower(text), '[^a-z]+'),
                  x -> x <> ''), '||') || '|' AS s
  FROM documents),
scored AS (
  SELECT doc_id, source,
    (len(s) - len(replace(s, '|sort||merge|', ''))) // 13 AS phrase_hits,
    (len(s) - len(replace(s, '|sort|', ''))) // 6 AS tf_sort,
    (len(s) - len(replace(s, '|merge|', ''))) // 7 AS tf_merge
  FROM enc)
SELECT doc_id, source, CAST(phrase_hits AS BIGINT) AS phrase_hits,
  CAST(tf_sort AS BIGINT) AS tf_sort, CAST(tf_merge AS BIGINT) AS tf_merge
FROM scored WHERE phrase_hits > 0
ORDER BY phrase_hits DESC, doc_id ASC LIMIT 20
"""

  val queries: Map[String, QueryDef] = Map(
    "search_bm25_topk" -> QueryDef(bm25TopK, Some(bm25Oracle)),
    "search_hybrid_rrf" -> QueryDef(hybridRrf, Some(hybridOracle)),
    "search_mmr_rerank" -> QueryDef(mmrRerank, Some(mmrOracle)),
    "search_phrase_rank" -> QueryDef(phraseRank, Some(phraseOracle))
  )
}
