package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the core LLM-pipeline family
  * (north star, BASELINE.json): exact, normalized, n-gram Jaccard, MinHash
  * LSH, SimHash. All engine-portable arithmetic (md5-derived 60-bit hashes,
  * integer Jaccard) so DuckDB oracles reproduce results exactly.
  *
  * Scale posture (100 TB): every pipeline below is shuffle-bounded by
  * design — exact/normalized dedup is one hash aggregation on a derived
  * key; Jaccard candidates come from an inverted shingle index (pairs only
  * materialize for co-bucketed docs, never all-pairs); MinHash/LSH bounds
  * candidate generation to band-bucket collisions (16 bands × 2 rows →
  * P[miss | j ≥ 0.8] = (1 − 0.8²)¹⁶ ≈ 8e-8); SimHash is a pure per-doc map.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Registry.table(s, dir, "documents")

  /** Stop-shingle document-frequency cap for the posting-join pipelines
    * (Jaccard / containment / shingle-cosine).
    *
    * The inverted-index candidate term is Σ_shingle C(df, 2): never
    * corpus², but quadratic in each shingle's document frequency — the
    * latent class the r9 sf1 smoke surfaced (10× docs on the replica
    * corpus took df 4→40 and candidate pairs 13.5k→12.6M, 933×). One
    * boilerplate shingle in a million documents would contribute 5·10¹¹
    * pairs on its own. The guard is the standard stop-shingle discipline:
    * a shingle occurring in more than [[PostingDfCap]] documents carries
    * no near-dup signal (it is template/boilerplate text by construction)
    * and is dropped from the shingle UNIVERSE — postings, set sizes, and
    * norms alike, so each similarity stays a true ratio over the capped
    * universe. With the fixed cap, any one shingle contributes ≤ C(1024,2)
    * pairs and total candidate work is ≤ #shingles · C(cap,2) — linear in
    * corpus size, not df².
    *
    * Every consuming DuckDB oracle (Jaccard/containment/cosine here, the
    * curation family, cluster consolidation) mirrors the same cap in SQL
    * (QUALIFY on the posting CTE), so results stay bit-identical across
    * engines at any scale. At the driver SFs and the sf1 smoke the max df
    * is 40 ≪ 1024: the cap provably changes nothing there (hash gates
    * re-verified), it only bounds the boilerplate catastrophe beyond.
    * Round9PropertySpec pins the behavior on a synthetic corpus whose
    * boilerplate shingle exceeds the cap.
    *
    * The incremental (new×old) and train×eval posting joins keep their own
    * bound — the small side of those joins caps their worst case — so the
    * df cap applies only to the self-join family.
    */
  private[graft] val PostingDfCap = 1024

  /** Stop-shingle cap over an already-distinct (doc_id, s) posting list:
    * row count per shingle IS its document frequency.
    *
    * The cap is applied as a BROADCAST anti-join against the stop-shingle
    * list rather than a df window over the postings: the stop list (df >
    * cap) is tiny by construction — boilerplate shingles only — and its
    * aggregation ships just map-side-combined (shingle, partial-count)
    * rows, so the postings themselves are never shuffled for the filter
    * (a window form measured ~0.4s/query extra at sf0.1 for the same
    * semantics). On a corpus where the stop list itself outgrew a
    * broadcast, the df histogram — not the cap — would be the thing to
    * revisit.
    */
  private def applyDfCap(ex: DataFrame, key: String = "s"): DataFrame = {
    val stop = ex.groupBy(key).agg(count(lit(1)).as("df"))
      .filter(col("df") > PostingDfCap).select(key)
    ex.join(broadcast(stop), Seq(key), "left_anti")
  }

  // --------------------------------------------------- shared posting base
  /** The whole posting family (set Jaccard / containment / prefix filter /
    * multiset cosine / positional substring spans / MinHash verify) derives
    * from ONE tokenize → 5-gram-hash → posexplode pass over
    * `documents.text` — r9's bench spent ~5.5s of its 70s total re-running
    * that pass per query. The three memos below compute each layer once
    * per (session, corpus) and `localCheckpoint` it, so every consumer
    * reads materialized rows instead of replaying the text scan:
    *
    *   positionalBase (doc_id, pos, g) — raw positional occurrences
    *                                     (substring-span family only)
    *   tfBase (doc_id, sh, tf)         — multiset counts, own text scan
    *     └─ shingleArrays (doc_id, sh: array<long>) — per-doc sets
    *
    * All three are UNFILTERED: each consumer applies its own stop-gram
    * discipline (df definitions differ — distinct docs for the positional
    * index vs posting rows for the set/multiset forms) and its own
    * candidate bound, so the memo provably cannot change any pipeline's
    * candidate-growth guarantee — only remove repeated base work
    * (Round10PropertySpec pins derived == direct on each layer).
    */
  private val posBaseCache = new graft.FrameMemo
  private val tfBaseCache = new graft.FrameMemo
  private val arraysCache = new graft.FrameMemo

  private[graft] def positionalBase(s: SparkSession, dir: String): DataFrame =
    posBaseCache.getOrElseUpdate(s, dir) {
      graft.functions.VectorFunctions.register(s)
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(call_function("shingle_hashes_5", split(col("text"), " ")))
            .as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
    }

  /** Multiset 5-gram postings (doc_id, sh, tf). One row per (doc,
    * shingle), so its per-shingle row count doubles as the document
    * frequency for the set family.
    *
    * Derived from its OWN text scan rather than through [[positionalBase]]:
    * the positional layer is the largest of the three (one row per token
    * occurrence), and routing tfBase through it would materialize and
    * session-pin that whole layer for consumers (jaccard / cosine /
    * containment / incremental / decontamination) that never need
    * positions — only the substring-span family pays for positions.
    * Cost of the split: one extra text scan in a session that runs BOTH
    * families; storage saved: the per-occurrence explode whenever the
    * positional family is cold.
    */
  private[graft] def tfBase(s: SparkSession, dir: String): DataFrame =
    tfBaseCache.getOrElseUpdate(s, dir) {
      graft.functions.VectorFunctions.register(s)
      docs(s, dir)
        .select(col("doc_id"),
          explode(call_function("shingle_hashes_5", split(col("text"), " ")))
            .as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("tf"))
    }

  /** Per-doc DISTINCT shingle sets as arrays — the verify-side form
    * (`array_intersect` per candidate pair). Element order is whatever the
    * grouped collect produced; every consumer is order-insensitive
    * (intersection/size). Docs with < 5 tokens have no postings and are
    * simply absent, matching the explicit `size(sh) > 0` filters this
    * replaces.
    */
  private[graft] def shingleArrays(s: SparkSession, dir: String): DataFrame =
    arraysCache.getOrElseUpdate(s, dir) {
      tfBase(s, dir).groupBy("doc_id")
        .agg(collect_list(col("sh")).as("sh"))
    }

  /** Df-capped distinct-set postings (doc_id, s) for the self-join family,
    * derived from the memoized base.
    */
  private def cappedSetPostings(s: SparkSession, dir: String): DataFrame =
    applyDfCap(tfBase(s, dir).select(col("doc_id"), col("sh").as("s")))

  // ------------------------------------------------------------ exact dedup
  /** Exact dedup on content hash: survivor = min doc_id per md5(text).
    * (Identity on this corpus — no byte-identical dups — which the oracle
    * confirms; the operator is the standard first pass of any 100 TB dedup.)
    */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_key"))
      .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("group_size"))
      .select("kept_doc_id", "group_size")
      .orderBy("kept_doc_id")

  private val exactDedupOracle = """
SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size
FROM documents GROUP BY md5(text) ORDER BY kept_doc_id
"""

  /** Normalized dedup: key = sorted distinct token set — collapses
    * reordered/duplicated-token variants (446 survivors of 500 docs).
    */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
        .as("norm_key"))
      .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("group_size"))
      .select("kept_doc_id", "group_size")
      .orderBy("kept_doc_id")

  private val normalizedDedupOracle = """
SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size
FROM documents
GROUP BY list_aggr(list_sort(list_distinct(string_split(text, ' '))),
                   'string_agg', ' ')
ORDER BY kept_doc_id
"""

  /** Unicode-canonical exact dedup: the key is md5 of the NFC-normalized
    * text ([[graft.functions.NfcNormalize]]), so canonically-equivalent
    * byte-different variants (composed U+00E9 vs decomposed e+U+0301 —
    * both arrive constantly in web corpora) land in one group where
    * [[exactDedup]]'s raw-byte key keeps them apart. `n_denormalized`
    * counts group members whose bytes changed under NFC — 0 on an
    * already-normalized corpus, where this result equals [[exactDedup]]'s
    * (the oracle pins both facts). Same single-hash-aggregation shape as
    * exact dedup: one shuffle on the derived key at any scale.
    */
  def unicodeNfcDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"), col("text"),
        call_function("nfc_normalize", col("text")).as("nt"))
      .groupBy(md5(col("nt")).as("content_key"))
      .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("group_size"),
        sum(when(col("nt") =!= col("text"), 1L).otherwise(0L))
          .as("n_denormalized"))
      .select("kept_doc_id", "group_size", "n_denormalized")
      .orderBy("kept_doc_id")
  }

  private val unicodeNfcDedupOracle = """
SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size,
  CAST(sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)
    AS BIGINT) AS n_denormalized
FROM documents GROUP BY md5(nfc_normalize(text)) ORDER BY kept_doc_id
"""

  // --------------------------------------------------- n-gram Jaccard pairs
  /** Near-duplicate pairs by exact 5-gram Jaccard ≥ 0.8 via inverted index:
    * explode shingles → self-join on shingle (only co-occurring docs pair
    * up) → intersection counts → Jaccard from set sizes. Integer-ratio
    * similarity: bit-identical across engines.
    *
    * The pair list is the shared intermediate of the whole curation family
    * (pair report, cluster consolidation, curated corpus, curation report,
    * corpus build) — a production run materializes it ONCE and every stage
    * reads it. Mirrored here with a session-scoped memo: first use
    * checkpoints the (tiny, LSH-bounded) result, later pipelines reuse its
    * blocks instead of re-running the inverted-index join.
    */
  private val pairsCache = new graft.FrameMemo

  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir) {
      val ex = cappedSetPostings(s, dir)
      jaccardFromCandidates(ex, candidatesFromIndex(ex))
    }

  /** Candidate-pair count over the capped universe — the
    * Round9PropertySpec hook for the stop-shingle law.
    */
  private[graft] def jaccardCandidates(s: SparkSession, dir: String): DataFrame =
    candidatesFromIndex(cappedSetPostings(s, dir))

  /** Inverted-index candidate pairs with intersection sizes, from an
    * (already df-capped) posting list.
    */
  private def candidatesFromIndex(ex: DataFrame): DataFrame = {
    // shingles are already 64-bit hashes: the self-join shuffle carries
    // (long, long) rows
    val a = ex.as("a"); val b = ex.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Join candidate pairs back to capped-universe set sizes → Jaccard ≥ 0.8. */
  private def jaccardFromCandidates(ex: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cand
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .select(col("i"), col("j"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("i", "j")
  }

  private val jaccardPairsOracle = s"""
WITH sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
ex AS (
  SELECT doc_id, shingle
  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh)
  QUALIFY count(*) OVER (PARTITION BY shingle) <= $PostingDfCap),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
SELECT i, j,
  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
ORDER BY i, j
"""

  /** Exact-Jaccard verification of a candidate frame against per-doc
    * shingle arrays: join both sides' sets, `array_intersect`, exact
    * integer counts, one final ratio, threshold 0.8. ONE definition for
    * the three verify seams (prefix filter, self-join LSH, incremental
    * probe — batch and streaming), so the cut and the na+nb−inter
    * denominator cannot drift between pipelines.
    */
  private[graft] def verifyJaccard(cand: DataFrame,
      leftSets: DataFrame, rightSets: DataFrame,
      leftKey: String, rightKey: String): DataFrame =
    cand
      .join(leftSets.select(col("doc_id").as(leftKey), col("sh").as("sha")),
        leftKey)
      .join(rightSets.select(col("doc_id").as(rightKey), col("sh").as("shb")),
        rightKey)
      .select(col(leftKey), col(rightKey),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"))
      .select(col(leftKey), col(rightKey),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  // ------------------------------------------- prefix-filtered exact Jaccard
  /** Exact full-universe Jaccard ≥ 0.8 pairs via PREFIX FILTERING (the
    * SSJoin/All-Pairs/PPJoin family): rank each doc's shingles under ONE
    * global order — document frequency ascending, hash tiebreak — and
    * self-join ONLY each doc's prefix, the first |x| − ⌈t·|x|⌉ + 1 rarest
    * shingles. Pigeonhole: any pair with J ≥ t must share a token inside
    * both prefixes (if every common token missed x's prefix, the overlap
    * is ≤ ⌈t·|x|⌉ − 1 < the t·max(|x|,|y|) floor J ≥ t forces — and the
    * same bound applies to the globally-smallest common token on y's
    * side), so the candidate set is provably COMPLETE while the index
    * carries ~(1−t) of the postings.
    *
    * This is the exact-algorithm complement to the df-capped posting join
    * ([[jaccardPairs]]) and the probabilistic LSH ([[minhashLsh]]):
    * frequency-ordering puts boilerplate shingles at the END of every
    * doc's ranking — outside the prefix — so the Σ C(df,2) blow-up never
    * materializes, WITHOUT truncating the similarity universe (the df cap
    * trades a bounded universe change for its guarantee; the prefix filter
    * pays instead one extra df aggregate + doc-keyed rank window). The
    * Round9PropertySpec boilerplate law pins exactly that: 1200 docs
    * sharing a header shingle yield ONE candidate here, uncapped.
    * Verification joins the (tiny) candidate set back to the full shingle
    * arrays — `array_intersect` per pair, exact integer ratio. The DuckDB
    * oracle is the NAIVE uncapped posting join, a genuinely different
    * algorithm, so the hash gate certifies completeness on real data.
    */
  def prefixJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // memoized per-doc sets: the candidate index AND both verify sides
    // read the same checkpointed arrays
    val d = shingleArrays(s, dir)
    verifyJaccard(prefixCandidatesAt(s, dir), d, d, "i", "j")
      .orderBy("i", "j")
  }

  /** Distinct candidate pairs sharing a shingle inside BOTH prefixes.
    * Package-visible as the Round9PropertySpec hook for the boilerplate
    * law (candidate completeness + boilerplate immunity, uncapped).
    */
  private[graft] def prefixCandidates(d: DataFrame): DataFrame = {
    // n rides along from the array, so the only window is the rank
    val ex = d.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("s"))
      .localCheckpoint() // df aggregate + ranked join both read it
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val pre = ex.join(dfreq, "s")
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)))
      // prefix length |x| − ⌈4|x|/5⌉ + 1, exact integers (t = 4/5)
      .filter(col("r") <= col("n") - expr("(n * 4 + 4) div 5") + 1)
      .select("doc_id", "s")
    pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  private val prefixCache = new graft.FrameMemo

  /** The (s, dir)-memoized candidate set — the prefix pipeline lacked the
    * session-memo discipline every sibling base in this file has, so each
    * bench pass re-ran the explode + df aggregate + ranked window and left
    * a fresh checkpoint block set behind. `prefixCandidates` itself stays
    * un-memoized: the Round9 laws drive it with ad-hoc corpora.
    */
  private[graft] def prefixCandidatesAt(s: SparkSession, dir: String): DataFrame =
    prefixCache.getOrElseUpdate(s, dir) {
      prefixCandidates(shingleArrays(s, dir))
    }

  /** Naive uncapped exact-Jaccard oracle — deliberately NOT the prefix
    * algorithm, so the gate certifies candidate completeness.
    */
  private val prefixJaccardOracle = """
WITH sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
SELECT i, j, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
ORDER BY i, j
"""

  // ------------------------------------------------------------ MinHash LSH
  private val NumHashes = 32
  private val NumBands = 16 // 2 rows per band

  /** MinHash + LSH near-dup pairs, then *exact* Jaccard verification of the
    * (tiny) candidate set. The final filter equals the exhaustive UNCAPPED
    * Jaccard relation whenever LSH recall holds — at j ≥ 0.8 recall is
    * 1 − (1 − j²)¹⁶ ≥ 1 − 8e-8, so the exhaustive oracle doubles as the
    * correctness check for the whole LSH pipeline.
    *
    * The oracle is [[minhashLshOracle]], NOT the df-capped
    * [[jaccardPairsOracle]]: MinHash signatures and the `array_intersect`
    * verification run over the FULL shingle universe (a signature cannot
    * exclude high-df shingles), while `jaccardPairs` measures capped-
    * universe similarity — the two relations coincide only while the
    * [[PostingDfCap]] is inert (true at every tested SF, max df 40, but
    * not a law; on a boilerplate-heavy corpus a pair can clear 0.8 only
    * via a > cap shingle). LSH needs no df cap for scale: candidates are
    * bounded by band-bucket collisions, not shared-shingle df.
    */
  /** Per-doc LSH band keys (doc_id, band, key): the whole 32-hash MinHash
    * signature in one per-document pass ([[graft.functions
    * .MinHashSignature]] — no shingle explode, no 32-column min
    * aggregation, no shuffle until bands), then 16 keys hashing each
    * (m_{2b}, m_{2b+1}) row pair. Shared by the self-join LSH and the
    * incremental (new×corpus) variant.
    */
  private val bandsCache = new graft.FrameMemo

  /** Band keys over an ARBITRARY (doc_id, text) frame — the signature
    * construction itself, shared by the memoized corpus index below and by
    * [[graft.streaming.DocStream.incrementalMinhashProbe]]'s per-micro-batch
    * frames, so the streaming probe's signatures are the batch operator's
    * by construction (not a re-implementation that could drift).
    */
  private[graft] def bandKeysOf(docsDf: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docsDf.sparkSession)
    val sig = docsDf
      .select(col("doc_id"),
        call_function("minhash_sig_5_32", split(col("text"), " ")).as("sig"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(i =>
          element_at(col("sig"), i + 1).as(s"m$i")): _*)
    sig.select(col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(col(s"m${2 * b}"), col(s"m${2 * b + 1}")).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  private def minhashBands(s: SparkSession, dir: String): DataFrame =
    // memoized + checkpointed (shared-base discipline): the self-join
    // LSH puts this plan on BOTH join sides and the incremental variant on
    // both of its sides too — without the cut the text scan + 32-hash
    // signature pass runs twice per query
    bandsCache.getOrElseUpdate(s, dir)(bandKeysOf(docs(s, dir)))

  /** Distinct shingle sets over an ARBITRARY (doc_id, text) frame — the
    * per-batch form of [[shingleArrays]] for frames outside the memoized
    * corpus (a stream's arriving micro-batch). Same absent-if-<5-tokens
    * semantics; `collect_set` ≡ the tfBase→collect_list chain's distinct
    * sets (every consumer is order-insensitive).
    */
  private[graft] def shingleSetsOf(docsDf: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docsDf.sparkSession)
    docsDf
      .select(col("doc_id"),
        explode(call_function("shingle_hashes_5", split(col("text"), " ")))
          .as("sh"))
      .groupBy("doc_id").agg(collect_set(col("sh")).as("sh"))
  }

  /** The (new × corpus) probe pipeline: band-bucket collision candidates,
    * then exact-Jaccard verification — never corpus × corpus, never
    * new × new. Shared verbatim by [[incrementalMinhash]] (batch split) and
    * the streaming probe (each micro-batch is the `new` side), which is
    * what makes the streaming twin's parity structural.
    */
  private[graft] def probeIndex(newBands: DataFrame, newSets: DataFrame,
      corpusBands: DataFrame, corpusSets: DataFrame): DataFrame = {
    val cand = newBands
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
      .join(corpusBands
        .select(col("doc_id").as("corpus_id"), col("band"), col("key")),
        Seq("band", "key"))
      .select("new_id", "corpus_id").distinct()
    verifyJaccard(cand, newSets, corpusSets, "new_id", "corpus_id")
  }

  /** The corpus side of the incremental probe (bands + verify sets for
    * docs OUTSIDE the md5 new-batch split) — prebuilt and immutable, the
    * index a daily-ingest pipeline builds once and probes forever.
    */
  private[graft] def corpusIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpusBands = minhashBands(s, dir)
      .filter(SamplingOps.bucket10(col("doc_id")) >= 2)
    (corpusBands, shingleArrays(s, dir))
  }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // drop docs with empty shingle sets (<5 tokens): their all-MaxValue
    // signatures would co-bucket in every band and their 0/0 Jaccard is
    // NaN, which Spark's NaN-is-largest ordering would pass through >= 0.8
    // (shingleArrays has no entry for them, so the verify join drops them)
    val d = shingleArrays(s, dir)
    val bands = minhashBands(s, dir)
    // candidate pairs: docs sharing any band bucket
    val a = bands.as("a"); val b = bands.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // exact-Jaccard verification of candidates only
    verifyJaccard(cand, d, d, "i", "j").orderBy("i", "j")
  }

  /** Naive exhaustive UNCAPPED Jaccard — [[jaccardPairsOracle]] minus the
    * QUALIFY df cut (and sizes counted from the full universe), matching
    * what the LSH pipeline actually verifies. Same taxonomy as
    * [[incrementalMinhashOracle]], which is likewise uncapped.
    */
  private val minhashLshOracle = """
WITH sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT i, j,
  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
ORDER BY i, j
"""

  // ------------------------------------------------ incremental MinHash LSH
  /** Incremental MinHash-LSH — the streaming-shaped dedup a training
    * pipeline runs daily: a NEW batch (docs hashing to buckets 0-1, ~20%;
    * same md5 split as `dedup_incremental_batch`) is checked against the
    * EXISTING corpus through its banded signature index, and only
    * (new × corpus) band-bucket collisions become candidates — never
    * corpus × corpus (the index is prebuilt and immutable at 100 TB) and
    * never new × new (intra-batch dups are the self-join pipeline's job).
    * Against `dedup_incremental_batch`'s posting join, the banded index
    * bounds candidate work by the new batch's bucket collisions instead of
    * shared-shingle df — the shape that stays cheap when the corpus is
    * 1000× the daily batch. Candidates verify by exact Jaccard over the
    * memoized shingle sets; the oracle is the NAIVE exhaustive new×corpus
    * Jaccard, so the hash gate certifies LSH recall on real data (at
    * j ≥ 0.8, P[miss] = (1 − j²)¹⁶ ≈ 8e-8 per pair — same argument as
    * [[minhashLsh]]).
    */
  def incrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    // the split flag is pure doc_id arithmetic — computed directly on the
    // band rows, so it rides along without a docs join (same discipline
    // as dedup_incremental_batch / decontamination)
    val newBands = minhashBands(s, dir)
      .filter(SamplingOps.bucket10(col("doc_id")) < 2)
    val (corpusBands, sets) = corpusIndex(s, dir)
    // `sets` serves both verify sides: the new_id/corpus_id join keys
    // already restrict each side to its split
    probeIndex(newBands, sets, corpusBands, sets)
      .orderBy("new_id", "corpus_id")
  }

  /** Naive exhaustive new×corpus Jaccard — deliberately not LSH, so the
    * gate certifies the banded index's recall.
    */
  private val incrementalMinhashOracle = """
WITH sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)]) AS s,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      % 10 < 2 AS is_new
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
ex AS (SELECT doc_id, is_new, unnest(s) AS ss FROM sh),
cand AS (
  SELECT n.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS inter
  FROM ex n JOIN ex c ON n.ss = c.ss AND n.is_new AND NOT c.is_new
  GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT new_id, corpus_id,
  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
FROM cand JOIN sz sa ON sa.doc_id = new_id JOIN sz sb ON sb.doc_id = corpus_id
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
ORDER BY new_id, corpus_id
"""

  // ---------------------------------------------------------------- SimHash
  /** 60-bit SimHash signatures over (repeated) word tokens: per-token
    * md5-derived hash, ±1 vote per bit, sign → bit. One per-document custom
    * expression ([[graft.functions.SimHash60]]) — no shuffle; the interpreted
    * higher-order form (token × bit lambda interpretations) was the dominant
    * cost of the simhash-pairs pipeline at sf0.1.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    docs(s, dir)
      .select(col("doc_id"),
        call_function("simhash60", split(col("text"), " ")).as("simhash"))
      .orderBy("doc_id")
  }

  private val simhashOracle = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
hashed AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
  FROM tok),
bits AS (
  SELECT doc_id, k,
    sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed, (SELECT unnest(range(0, 60)) AS k)
  GROUP BY doc_id, k),
sig AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
         AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id)
SELECT doc_id, simhash FROM sig ORDER BY doc_id
"""

  // ------------------------------------------------- embedding near-dup
  /** Embedding near-dup pairs by quantized cosine: coordinates are floored
    * onto a 1e-6 grid, dot/norms are exact int64 sums, and the final
    * `dot / (√na·√nb)` is IEEE-deterministic — bit-identical in any engine,
    * so the ≥ threshold cut is exact (no float-noise flapping).
    * All-pairs here (embeddings side tables are small); the bucketed form
    * for 100 TB is `ann_ivf_label` in Similarity.
    */
  def embeddingPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // memoized quantize+norm base (norm once per row, not once per pair);
    // both self-join sides then read the same checkpointed blocks
    val q = Similarity.quantized(s, dir).select("vec_id", "qv", "nrm")
    val a = q.as("a"); val b = q.as("b")
    // codegen'd int64 kernel (graft.functions.LongArrayDot): the interpreted
    // higher-order fold was 20x slower on the all-pairs scan
    val dot = call_function("vec_dot_long", col("a.qv"), col("b.qv"))
    val cosine = dot.cast("double") /
      (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double")))
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        cosine.as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy("i", "j")
  }

  private val embeddingPairsOracle = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings),
p AS (
  SELECT a.vec_id AS i, b.vec_id AS j,
    list_sum(list_transform(range(1, 65), k -> a.qv[k] * b.qv[k])) AS dot,
    list_sum(list_transform(a.qv, x -> x * x)) AS na,
    list_sum(list_transform(b.qv, x -> x * x)) AS nb
  FROM q a JOIN q b ON a.vec_id < b.vec_id)
SELECT i, j,
  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
    AS cosine
FROM p
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      >= 0.45
ORDER BY i, j
"""

  /** SimHash near-dup pairs at Hamming distance ≤ 3, found scalably via
    * 4-band blocking over the 60-bit signatures: by pigeonhole, any pair
    * within distance 3 shares at least one intact 15-bit chunk, so banding
    * has 100% recall for the threshold — the result is EXACT, and the
    * all-pairs oracle proves it. Candidates are then verified with
    * `bit_count(xor)`.
    */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = simhash(s, dir).select("doc_id", "simhash")
    val bands = sigs.select(col("doc_id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 15 * b).bitwiseAND(lit(0x7FFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val a = bands.as("a"); val b = bands.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("i"), col("simhash").as("sa")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("simhash").as("sb")), "j")
      .select(col("i"), col("j"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("i", "j")
  }

  private val simhashPairsOracle = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
hashed AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
  FROM tok),
bits AS (
  SELECT doc_id, k,
    sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed, (SELECT unnest(range(0, 60)) AS k)
  GROUP BY doc_id, k),
sig AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
         AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id)
SELECT a.doc_id AS i, b.doc_id AS j,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY i, j
"""

  // --------------------------------------------- weighted shingle cosine
  /** Near-dup pairs by MULTISET 5-gram cosine ≥ 0.8 — the weighted
    * complement of `dedup_ngram_jaccard`: repeated shingles count, so a doc
    * that loops one passage scores differently than under set semantics.
    * Same inverted-index scale posture (pairs only materialize for
    * co-occurring shingles; the posting join shuffles (hash, doc, tf)
    * rows), and the threshold is decided in EXACT integers before any
    * double exists: cos ≥ 0.8 ⟺ 25·dot² ≥ 16·‖a‖²·‖b‖² (dot ≥ 0), so no
    * engine can flap a borderline pair.
    */
  def shingleCosinePairs(s: SparkSession, dir: String): DataFrame = {
    // memoized posting list ([[tfBase]]): norms and both sides of the
    // self-join read materialized rows instead of replaying the shingle
    // explode + aggregation — the production form persists the inverted
    // index before the pair join at any scale
    val tfAll = tfBase(s, dir)
    // stop-shingle cap (see PostingDfCap): one row per (doc, shingle) in
    // tf, so its per-shingle row count IS the document frequency
    val tf = applyDfCap(tfAll, "sh")
    val norms = tf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val a = tf.as("a"); val b = tf.as("b")
    val cand = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    cand
      .join(norms.select(col("doc_id").as("i"), col("n2").as("na")), "i")
      .join(norms.select(col("doc_id").as("j"), col("n2").as("nb")), "j")
      // decimal(38,0) products, not int64: long·long wraps silently in
      // non-ANSI Spark where DuckDB raises on overflow — for long or
      // repetitive docs na·nb can exceed 2^63 and the "exact" threshold
      // compare would diverge between engines (oracle: HUGEINT)
      .filter(col("dot").cast("decimal(38,0)") * col("dot") * 25 >=
        col("na").cast("decimal(38,0)") * col("nb") * 16)
      .select(col("i"), col("j"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
      .orderBy("i", "j")
  }

  private val shingleCosineOracle = s"""
WITH sh AS (
  SELECT doc_id,
    [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)] AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
tf AS (
  SELECT doc_id, shingle, count(*) AS tf
  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh)
  GROUP BY 1, 2
  QUALIFY count(*) OVER (PARTITION BY shingle) <= $PostingDfCap),
norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, sum(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT i, j,
  CAST(dot AS DOUBLE)
    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
FROM cand
JOIN norms na ON na.doc_id = i
JOIN norms nb ON nb.doc_id = j
WHERE CAST(dot AS HUGEINT) * dot * 25 >= CAST(na.n2 AS HUGEINT) * nb.n2 * 16
ORDER BY i, j
"""

  // ------------------------------------------------------ containment pairs
  /** Asymmetric CONTAINMENT near-dup: |A∩B| / min(|A|,|B|) ≥ 0.8 over
    * distinct 5-gram sets — catches a short doc embedded inside a longer
    * one, which symmetric Jaccard misses (the union term drowns the small
    * side). Same inverted-index candidates as the Jaccard pipeline; the
    * threshold is the exact integer compare 10·inter ≥ 8·min(na,nb). The
    * flags mark which side is (80%-)contained in which.
    */
  def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val ex = cappedSetPostings(s, dir)
    val cand = candidatesFromIndex(ex)
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cand
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .filter(col("inter") * 10 >= least(col("sa.n"), col("sb.n")) * 8)
      .select(col("i"), col("j"), col("inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"),
        (col("inter").cast("double") / least(col("sa.n"), col("sb.n")))
          .as("containment"),
        (col("inter") * 10 >= col("sa.n") * 8).as("i_in_j"),
        (col("inter") * 10 >= col("sb.n") * 8).as("j_in_i"))
      .orderBy("i", "j")
  }

  private val containmentOracle = s"""
WITH sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
ex AS (
  SELECT doc_id, ss
  FROM (SELECT doc_id, unnest(s) AS ss FROM sh)
  QUALIFY count(*) OVER (PARTITION BY ss) <= $PostingDfCap),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.ss = b.ss AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
SELECT i, j, CAST(inter AS BIGINT) AS inter, sa.n AS na, sb.n AS nb,
  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
  inter * 10 >= sa.n * 8 AS i_in_j,
  inter * 10 >= sb.n * 8 AS j_in_i
FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
WHERE inter * 10 >= least(sa.n, sb.n) * 8
ORDER BY i, j
"""

  // ----------------------------------------- survivor-collapsed pair twins
  /** Member → identical-shingle-SET class map: (doc_id, key = sorted
    * distinct 5-gram hashes, sid = min member doc_id, m = member count) —
    * the survivor base of the collapsed set-similarity twins AND the
    * member-expansion side of the collapse-first cluster map, the same
    * collapse-first discipline as [[graft.ops.Similarity]]'s `collapsed`
    * vector base. ONE shuffle (a window over the key) yields both the
    * classes and every member's assignment; grouping is by the ACTUAL
    * sorted array, not a hash of it, so no collision can merge distinct
    * classes. Session-memoized: the three collapsed twins, the cluster
    * family, and any curation pipeline read one materialization.
    */
  private val setMembersCache = new graft.FrameMemo

  /** NARROW member map (doc_id, sid, m) — the key is dropped before the
    * checkpoint on purpose: the map is corpus-long, and consumers
    * (cluster/curation member expansion, class multiplicities) never read
    * the array. Checkpointing it wide was the r17 sf10 finding the bench
    * telemetry attributed (zero codegen, zero eviction, pure scan time):
    * every collapsed query's plan re-scanned the multi-GB wide checkpoint
    * 6-8× through its unmemoized survivor derivations — ~85 s/query at
    * 5M docs; narrow, the same scans are ~100 MB.
    */
  private[graft] def setMembers(s: SparkSession, dir: String): DataFrame =
    setMembersCache.getOrElseUpdate(s, dir) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
      shingleArrays(s, dir)
        .select(col("doc_id"), sort_array(col("sh")).as("key"))
        .withColumn("sid", min("doc_id").over(w))
        .withColumn("m", count(lit(1)).over(w))
        .select("doc_id", "sid", "m")
    }

  /** One row per class (key, sid, m) — SURVIVOR-count-sized, so it gets
    * its own checkpoint: every survivor-side derivation (postings, sizes,
    * candidates, intra eligibility) re-scans this instead of anything
    * corpus-long.
    */
  private val setClassesCache = new graft.FrameMemo

  private[graft] def setClasses(s: SparkSession, dir: String): DataFrame =
    setClassesCache.getOrElseUpdate(s, dir) {
      shingleArrays(s, dir)
        .join(setMembers(s, dir).filter(col("doc_id") === col("sid"))
          .select(col("sid"), col("m")),
          col("doc_id") === col("sid"))
        .select(sort_array(col("sh")).as("key"), col("sid"), col("m"))
    }

  /** Weighted stop-shingle cap over survivor postings carrying a class
    * multiplicity `m`: the MEMBER-level document frequency of a shingle is
    * Σ m over the classes containing it, so capping on that sum makes the
    * collapsed pipelines' similarity universe EXACTLY the pair queries'
    * ([[applyDfCap]] counts posting rows, which after collapse would be
    * survivor frequency — a different, replication-dependent universe).
    * Same broadcast-anti-join posture as [[applyDfCap]].
    */
  private def applyMemberDfCap(ex: DataFrame, key: String): DataFrame = {
    val stop = ex.groupBy(key).agg(sum(col("m")).as("df"))
      .filter(col("df") > PostingDfCap).select(key)
    ex.join(broadcast(stop), Seq(key), "left_anti")
  }

  /** Member-df-capped survivor set postings (doc_id = sid, m, s).
    *
    * Session-memoized like the layers it derives from (r14 optimization):
    * it fans out to MANY consumers per query — [[survivorJaccardCross]]
    * reads it three times in one plan (self-join + sizes), the cap
    * anti-join reads its input twice, and the whole collapsed family
    * (three collapsed twins, the cluster map, curated corpus / curation
    * report / corpus build) re-derives it per query. Spark cannot share
    * those subtrees itself: AQE query-stage reuse keys on canonicalized
    * plans and ExistingRDD scans (the setClasses checkpoint) never
    * canonicalize equal across a self-join's re-aliasing, so every
    * consumer re-ran the explode + stop-shingle anti-join — measured as
    * the dominant term of curated_corpus/corpus_build_pipeline at sf0.1
    * (each carried ~47 Exchanges pre-fix). Survivor-sized, so the pinned
    * blocks stay far below any posting-family base.
    */
  private val survivorPostingsCache = new graft.FrameMemo

  private[graft] def survivorSetPostings(s: SparkSession, dir: String): DataFrame =
    survivorPostingsCache.getOrElseUpdate(s, dir) {
      applyMemberDfCap(
        setClasses(s, dir).select(col("sid").as("doc_id"), col("m"),
          explode(col("key")).as("s")),
        "s")
    }

  /** Capped set size + multiplicity per survivor; a class whose whole set
    * was capped away is absent — exactly the pair query's unreachability
    * (no indexable shingle, no candidate).
    */
  private def survivorSizes(ex: DataFrame): DataFrame =
    ex.groupBy("doc_id").agg(count(lit(1)).as("n"), min("m").as("m"))

  /** Cross-class survivor Jaccard pairs (i, j, jaccard, mi, mj) at the 0.8
    * cut — the shared kernel of [[jaccardCollapsed]] and the collapse-first
    * cluster map ([[DedupClusters.clusterMap]]). Because the cap is
    * member-weighted, `jaccard` here equals the member-level pair query's
    * value for every (a ∈ class i) × (b ∈ class j) pair on ANY corpus.
    */
  private val survivorCrossCache = new graft.FrameMemo

  private[graft] def survivorJaccardCross(s: SparkSession, dir: String): DataFrame =
    survivorCrossCache.getOrElseUpdate(s, dir) {
      // Memoized (r14): the cross-pair kernel is read by the collapsed
      // twins, the cluster map, AND three curation queries — and its own
      // plan reads the posting base three ways (self-join + sizes).
      // Pair-listing output at the 0.8 cut over SURVIVORS is tiny by the
      // LSH/cap bounds, so the pinned blocks are negligible — same
      // discipline as [[jaccardPairs]], whose member-level twin has been
      // memoized since r9.
      val ex = survivorSetPostings(s, dir)
      val sizes = survivorSizes(ex)
      candidatesFromIndex(ex.select("doc_id", "s"))
        .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
        .select(col("i"), col("j"),
          (col("inter").cast("double") /
            (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"),
          col("sa.m").as("mi"), col("sb.m").as("mj"))
        .filter(col("jaccard") >= 0.8)
    }

  /** Survivors whose class has ≥ 2 members and a non-empty capped set —
    * the classes whose INTRA pairs exist in the member-level pair graph.
    */
  private[graft] def survivorIntraEligible(s: SparkSession, dir: String): DataFrame =
    survivorSizes(survivorSetPostings(s, dir))
      .filter(col("m") >= 2).select(col("doc_id").as("sid"), col("m"), col("n"))

  /** Classes with a NON-EMPTY capped set (any multiplicity) — the classes
    * reachable by the member-level pair graph at all (an all-boilerplate
    * class shares no indexable shingle, so its members never pair).
    */
  private[graft] def survivorCappedClasses(s: SparkSession, dir: String): DataFrame =
    survivorSizes(survivorSetPostings(s, dir)).select(col("doc_id").as("sid"))

  /** Identical-shingle-MULTISET classes — the cosine twin's base: two docs
    * collapse only when every shingle occurs the same number of times
    * (cosine is tf-weighted, so set-identical docs with different repeat
    * counts must NOT merge).
    */
  private val multisetClassCache = new graft.FrameMemo

  private[graft] def multisetClasses(s: SparkSession, dir: String): DataFrame =
    multisetClassCache.getOrElseUpdate(s, dir) {
      tfBase(s, dir)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("sh"), col("tf")))).as("key"))
        .groupBy("key")
        .agg(min("doc_id").as("sid"), count(lit(1)).as("m"))
    }

  /** Survivor-collapsed twin of [[jaccardPairs]] (r12 verdict #5): the
    * pair-listing query's OUTPUT is quadratic in group size on a replica
    * corpus (k duplicates of one doc are k·(k−1)/2 jaccard-1.0 rows — at
    * the 1000× corpus that is the dominant term by construction, which is
    * why the sf100 sweep excludes the pair form). The collapsed twin
    * reports at SURVIVOR grain, linear in distinct content:
    *
    *   - cross rows (i < j): the pair pipeline over the survivor corpus —
    *     identical-set members share every similarity, so one survivor
    *     pair carries all mi·mj member pairs (`n_pairs`);
    *   - intra rows (i = j): a class's own m·(m−1)/2 jaccard-1.0 member
    *     pairs, emitted only when the class's capped set is non-empty
    *     (an all-boilerplate class shares no indexable shingle, exactly
    *     as the pair query would find no candidate).
    *
    * Member-level reconstruction is EXACT on ANY corpus
    * (Round17PropertySpec pins expansion == [[jaccardPairs]] on a
    * duplicate-injected corpus): class membership is set-identity, so
    * every member pair (a,b) has the survivor pair's jaccard, and the df
    * cap is MEMBER-weighted ([[applyMemberDfCap]] — Σ class
    * multiplicities), so the capped similarity universe is bit-identical
    * to the pair query's even where the cap bites.
    */
  def jaccardCollapsed(s: SparkSession, dir: String): DataFrame = {
    val cross = survivorJaccardCross(s, dir)
      .select(col("i"), col("j"), col("jaccard"),
        (col("mi") * col("mj")).as("n_pairs"))
    val intra = survivorIntraEligible(s, dir)
      .select(col("sid").as("i"), col("sid").as("j"),
        lit(1.0).as("jaccard"), expr("m * (m - 1) div 2").as("n_pairs"))
    cross.unionByName(intra).orderBy("i", "j")
  }

  private val jaccardCollapsedOracle = s"""
WITH sh AS (
  SELECT doc_id,
    list_sort(list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)])) AS key
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
cls AS (SELECT key, min(doc_id) AS sid, count(*) AS m FROM sh GROUP BY key),
ex AS (
  SELECT doc_id, ss
  FROM (SELECT sid AS doc_id, m, unnest(key) AS ss FROM cls)
  QUALIFY sum(m) OVER (PARTITION BY ss) <= $PostingDfCap),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.ss = b.ss AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
cross_pairs AS (
  SELECT i, j, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard,
    CAST(ci.m * cj.m AS BIGINT) AS n_pairs
  FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
  JOIN cls ci ON ci.sid = i JOIN cls cj ON cj.sid = j
  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
intra AS (
  SELECT sid AS i, sid AS j, CAST(1.0 AS DOUBLE) AS jaccard,
    CAST((m * (m - 1)) // 2 AS BIGINT) AS n_pairs
  FROM cls JOIN sz ON sz.doc_id = sid
  WHERE m >= 2)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra ORDER BY i, j
"""

  /** Survivor-collapsed twin of [[containmentPairs]] — same survivor base
    * as [[jaccardCollapsed]] (containment is a set measure, so the classes
    * coincide); intra rows report the class's capped set size as
    * inter = na = nb with both flags true (identical sets contain each
    * other by definition).
    */
  def containmentCollapsed(s: SparkSession, dir: String): DataFrame = {
    val ex = survivorSetPostings(s, dir)
    val sizes = survivorSizes(ex)
    val cross = candidatesFromIndex(ex.select("doc_id", "s"))
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .filter(col("inter") * 10 >= least(col("sa.n"), col("sb.n")) * 8)
      .select(col("i"), col("j"), col("inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"),
        (col("inter").cast("double") / least(col("sa.n"), col("sb.n")))
          .as("containment"),
        (col("inter") * 10 >= col("sa.n") * 8).as("i_in_j"),
        (col("inter") * 10 >= col("sb.n") * 8).as("j_in_i"),
        (col("sa.m") * col("sb.m")).as("n_pairs"))
    val intra = survivorIntraEligible(s, dir)
      .select(col("sid").as("i"), col("sid").as("j"),
        col("n").as("inter"), col("n").as("na"), col("n").as("nb"),
        lit(1.0).as("containment"), lit(true).as("i_in_j"),
        lit(true).as("j_in_i"), expr("m * (m - 1) div 2").as("n_pairs"))
    cross.unionByName(intra).orderBy("i", "j")
  }

  private val containmentCollapsedOracle = s"""
WITH sh AS (
  SELECT doc_id,
    list_sort(list_distinct([array_to_string(toks[i:i+4], ' ')
                   for i in range(1, len(toks) - 3)])) AS key
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
cls AS (SELECT key, min(doc_id) AS sid, count(*) AS m FROM sh GROUP BY key),
ex AS (
  SELECT doc_id, ss
  FROM (SELECT sid AS doc_id, m, unnest(key) AS ss FROM cls)
  QUALIFY sum(m) OVER (PARTITION BY ss) <= $PostingDfCap),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
  FROM ex a JOIN ex b ON a.ss = b.ss AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
cross_pairs AS (
  SELECT i, j, CAST(inter AS BIGINT) AS inter, sa.n AS na, sb.n AS nb,
    CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
    inter * 10 >= sa.n * 8 AS i_in_j,
    inter * 10 >= sb.n * 8 AS j_in_i,
    CAST(ci.m * cj.m AS BIGINT) AS n_pairs
  FROM cand JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
  JOIN cls ci ON ci.sid = i JOIN cls cj ON cj.sid = j
  WHERE inter * 10 >= least(sa.n, sb.n) * 8),
intra AS (
  SELECT sid AS i, sid AS j, sz.n AS inter, sz.n AS na, sz.n AS nb,
    CAST(1.0 AS DOUBLE) AS containment, true AS i_in_j, true AS j_in_i,
    CAST((m * (m - 1)) // 2 AS BIGINT) AS n_pairs
  FROM cls JOIN sz ON sz.doc_id = sid
  WHERE m >= 2)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra ORDER BY i, j
"""

  /** Survivor-collapsed twin of [[shingleCosinePairs]] — classes are
    * identical MULTISETS ([[multisetClasses]]): cosine weights repeats, so
    * set-identical docs with different tf vectors must stay distinct
    * survivors. Identical multisets have cosine exactly 1, so intra rows
    * are 1.0 with the class's m·(m−1)/2 multiplicity, gated on a non-empty
    * capped tf vector like the set twins.
    */
  def shingleCosineCollapsed(s: SparkSession, dir: String): DataFrame = {
    val cls = multisetClasses(s, dir)
    val tf = applyMemberDfCap(
      cls.select(col("sid").as("doc_id"), col("m"), explode(col("key")).as("kv"))
        .select(col("doc_id"), col("m"), col("kv.sh").as("sh"), col("kv.tf").as("tf")),
      "sh")
    val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val a = tf.as("a"); val b = tf.as("b")
    val cand = a.join(b,
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    val cross = cand
      .join(norms.select(col("doc_id").as("i"), col("n2").as("na")), "i")
      .join(norms.select(col("doc_id").as("j"), col("n2").as("nb")), "j")
      .filter(col("dot").cast("decimal(38,0)") * col("dot") * 25 >=
        col("na").cast("decimal(38,0)") * col("nb") * 16)
      .join(cls.select(col("sid").as("i"), col("m").as("mi")), "i")
      .join(cls.select(col("sid").as("j"), col("m").as("mj")), "j")
      .select(col("i"), col("j"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"),
        (col("mi") * col("mj")).as("n_pairs"))
    val intra = cls.filter(col("m") >= 2)
      .join(norms, cls("sid") === norms("doc_id"))
      .select(col("sid").as("i"), col("sid").as("j"),
        lit(1.0).as("cosine"), expr("m * (m - 1) div 2").as("n_pairs"))
    cross.unionByName(intra).orderBy("i", "j")
  }

  private val shingleCosineCollapsedOracle = s"""
WITH sh AS (
  SELECT doc_id,
    [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)] AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 5),
tf0 AS (
  SELECT doc_id, shingle, count(*) AS tf
  FROM (SELECT doc_id, unnest(s) AS shingle FROM sh)
  GROUP BY 1, 2),
k AS (
  SELECT doc_id, list_sort(list({'s': shingle, 't': tf})) AS key
  FROM tf0 GROUP BY doc_id),
cls AS (SELECT key, min(doc_id) AS sid, count(*) AS m FROM k GROUP BY key),
tf AS (
  SELECT doc_id, shingle, tf
  FROM (SELECT sid AS doc_id, m, u.s AS shingle, u.t AS tf
        FROM (SELECT sid, m, unnest(key) AS u FROM cls))
  QUALIFY sum(m) OVER (PARTITION BY shingle) <= $PostingDfCap),
norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, sum(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cross_pairs AS (
  SELECT i, j,
    CAST(dot AS DOUBLE)
      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine,
    CAST(ci.m * cj.m AS BIGINT) AS n_pairs
  FROM cand
  JOIN norms na ON na.doc_id = i
  JOIN norms nb ON nb.doc_id = j
  JOIN cls ci ON ci.sid = i JOIN cls cj ON cj.sid = j
  WHERE CAST(dot AS HUGEINT) * dot * 25 >= CAST(na.n2 AS HUGEINT) * nb.n2 * 16),
intra AS (
  SELECT sid AS i, sid AS j, CAST(1.0 AS DOUBLE) AS cosine,
    CAST((m * (m - 1)) // 2 AS BIGINT) AS n_pairs
  FROM cls JOIN norms ON norms.doc_id = sid
  WHERE m >= 2)
SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra ORDER BY i, j
"""

  // ------------------------------------------------- paragraph-level dedup
  /** Tokens per paragraph block. The corpus is single-line text, so
    * "paragraphs" are the fixed 16-token grid — the operator is byte-for-
    * byte the newline-split version with `split(text, "\n\n")` swapped in
    * as the segmenter.
    */
  private val ParaTokens = 16

  /** Paragraph/line-level near-dedup — the cross-document SPAN dedup pass a
    * web corpus runs after doc-level dedup: boilerplate paragraphs repeated
    * across sources (nav bars, license blocks, disclaimers) survive
    * document-level MinHash because the *documents* differ; removing them
    * needs first-occurrence attribution at paragraph grain.
    *
    * Shape (the [[TextOps.ngramNovelty]] machinery one level up): explode
    * docs into paragraph blocks → 60-bit content hash per block → one
    * aggregation to the global first occurrence (min packed
    * `(doc_id, para_idx)` key per hash — map-side combined, shuffle
    * O(distinct paragraphs)) → hash-equi-join back to the instances → per-
    * doc retained-span report. The corpus is NEVER self-joined: the only
    * join is instances ⋈ first-seen on the paragraph hash, both sides
    * O(paragraphs). A paragraph instance is retained iff it IS the global
    * first occurrence in (doc_id, para_idx) order; every later repeat —
    * cross-doc or within-doc — is dropped, exactly the greedy rule a
    * streaming span-dedup applies. The packed key `doc_id·2²⁰ + para_idx`
    * is exact while docs stay under 2²⁰ paragraphs (16.7M tokens) and
    * doc_id < 2⁴³ — both far above any real corpus row.
    */
  def paragraphDedup(s: SparkSession, dir: String): DataFrame = {
    val P = ParaTokens
    val blocks = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          expr(s"(size(t) + ${P - 1}) div $P") - 1)).as("pidx"))
      .select(col("doc_id"), col("pidx"),
        slice(col("t"), col("pidx") * P + 1, lit(P)).as("p"))
      .select(col("doc_id"), col("pidx"),
        size(col("p")).cast("long").as("ptoks"),
        SamplingOps.hash60(array_join(col("p"), " ")).as("ph"))
    val packed = col("doc_id") * lit(1048576L) + col("pidx")
    val firstSeen = blocks.groupBy("ph").agg(min(packed).as("first_key"))
    blocks.join(firstSeen, "ph")
      .withColumn("kept", packed === col("first_key"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_retained"),
        sum("ptoks").as("n_tokens"),
        sum(when(col("kept"), col("ptoks")).otherwise(0L))
          .as("retained_tokens"))
      .select(col("doc_id"), col("n_paras"), col("n_retained"),
        col("n_tokens"), col("retained_tokens"),
        ((col("n_paras") - col("n_retained")).cast("double")
          / col("n_paras").cast("double")).as("dup_para_ratio"))
      .orderBy("doc_id")
  }

  private val paragraphDedupOracle = s"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
blocks AS (
  SELECT doc_id, pidx,
    CAST(len(t[pidx * $ParaTokens + 1 : pidx * $ParaTokens + $ParaTokens])
      AS BIGINT) AS ptoks,
    CAST('0x' || substr(md5(array_to_string(
      t[pidx * $ParaTokens + 1 : pidx * $ParaTokens + $ParaTokens], ' ')),
      1, 15) AS BIGINT) AS ph
  FROM d, UNNEST(range(0, (len(t) + ${ParaTokens - 1}) // $ParaTokens))
    AS u(pidx)),
fs AS (
  SELECT ph, min(doc_id * 1048576 + pidx) AS first_key
  FROM blocks GROUP BY ph)
SELECT b.doc_id,
  count(*) AS n_paras,
  CAST(sum(CASE WHEN b.doc_id * 1048576 + b.pidx = f.first_key
                THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
  CAST(sum(b.ptoks) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN b.doc_id * 1048576 + b.pidx = f.first_key
                THEN b.ptoks ELSE 0 END) AS BIGINT) AS retained_tokens,
  CAST(count(*) - sum(CASE WHEN b.doc_id * 1048576 + b.pidx = f.first_key
                           THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS dup_para_ratio
FROM blocks b JOIN fs f USING (ph)
GROUP BY b.doc_id
ORDER BY doc_id
"""

  // ------------------------------------------------ exact substring spans
  /** Minimum shared-run length (in tokens) for a span to count. 15 tokens
    * = 11 consecutive matching 5-gram seeds, comfortably above the random
    * 5-gram collision floor of this vocabulary (a chance seed match yields
    * span exactly 5), so reported spans are genuine copied text, not
    * noise. The published exact-substring dedup line uses the same
    * seed-then-extend structure at 50 tokens; the smaller bound fits the
    * 10–99-token corpus while keeping identical machinery.
    */
  private[graft] val MinSpanTokens = 15

  /** Positional seed-gram postings (doc_id, pos, g): every 5-gram hash at
    * its 0-based token position — [[positionalBase]] under the positional
    * stop-gram df discipline (df counts DISTINCT docs here, since a gram
    * may repeat within one doc); the base is memo-checkpointed, so the
    * stop aggregate and both self-join sides read materialized rows.
    */
  private[graft] def positionalPostings(s: SparkSession, dir: String)
      : DataFrame = {
    val g = positionalBase(s, dir)
    val stop = g.groupBy("g").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > PostingDfCap).select("g")
    g.join(broadcast(stop), Seq("g"), "left_anti")
  }

  /** Maximal cross-document shared token runs ≥ [[MinSpanTokens]] — the
    * exact-substring dedup primitive (find verbatim copied passages, the
    * thing similarity scores only approximate). Seed-and-extend, fully
    * relational: positional postings self-join on gram (candidates only
    * for co-occurring seeds — never corpus×corpus), then consecutive seed
    * matches merge into maximal runs per (pair, diagonal) via the
    * gaps-and-islands window (`pos − row_number`), where diagonal
    * = pi − pj pins the relative alignment of the two occurrences. A run
    * of k consecutive matching 5-gram seeds is a shared span of k + 4
    * tokens. Shuffle posture: one exchange for the posting join, one for
    * the (i, j, diag)-partitioned window — never a global window — and the
    * grouped island aggregation reuses the window's partitioning. Shared
    * intermediate of both substring queries, session-memoized like the
    * Jaccard pair list.
    */
  private val spansCache = new graft.FrameMemo

  private[graft] def substringSpans(s: SparkSession, dir: String): DataFrame =
    spansCache.getOrElseUpdate(s, dir)(spansOf(positionalPostings(s, dir)))

  /** The spans over a positional posting list (doc_id, pos, g), unmemoized
    * (PlanSpec inspects its plan).
    */
  private[graft] def spansOf(ex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = ex.as("a")
      .join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.pos").as("pi"), col("b.pos").as("pj"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy("i", "j", "diag").orderBy("pi")
    cand
      .withColumn("isl", col("pi") - row_number().over(w))
      .groupBy("i", "j", "diag", "isl")
      .agg(count(lit(1)).as("run"),
        min("pi").as("start_i"), min("pj").as("start_j"))
      .select(col("i"), col("j"), col("start_i"), col("start_j"),
        (col("run") + lit(4L)).as("span_tokens"))
      .filter(col("span_tokens") >= MinSpanTokens)
  }

  /** Per near-dup pair: longest shared verbatim run and how many disjoint
    * maximal runs clear the bound.
    */
  def substringSpanPairs(s: SparkSession, dir: String): DataFrame =
    substringSpans(s, dir)
      .groupBy("i", "j")
      .agg(max("span_tokens").as("max_span_tokens"),
        count(lit(1)).as("n_spans"))
      .orderBy("i", "j")

  private val substringSeedCte = s"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 3)) AS u(i)),
stop AS (SELECT gram FROM (
  SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram)
  WHERE df > $PostingDfCap),
ex AS (SELECT g.* FROM g ANTI JOIN stop USING (gram)),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pi, b.pos AS pj,
         a.pos - b.pos AS diag
  FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (
  SELECT i, j, diag, pi, pj,
         pi - row_number() OVER (PARTITION BY i, j, diag ORDER BY pi) AS isl
  FROM cand),
spans AS (
  SELECT i, j, diag, isl, CAST(count(*) + 4 AS BIGINT) AS span_tokens,
         min(pi) AS start_i, min(pj) AS start_j
  FROM isl GROUP BY i, j, diag, isl
  HAVING count(*) + 4 >= $MinSpanTokens)"""

  private val substringSpanPairsOracle = s"""
$substringSeedCte
SELECT i, j, max(span_tokens) AS max_span_tokens,
       CAST(count(*) AS BIGINT) AS n_spans
FROM spans GROUP BY i, j ORDER BY i, j
"""

  /** Per-document fraction of tokens inside ANY shared span — the decision
    * input of substring-level dedup (drop/trim documents that are mostly
    * verbatim copies of others). Span occurrences from both pair roles
    * union into per-doc [start, start+span) intervals; overlapping
    * intervals merge with the running-max island window (new island when a
    * start clears every previous end), so covered tokens are counted once
    * however many partners share them. All windows are doc-partitioned.
    */
  def substringCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = substringSpans(s, dir)
    // DISTINCT is load-bearing, not a tidy-up: two partners sharing the
    // same passage emit IDENTICAL (doc, st, en) intervals, and a fully-tied
    // window ORDER BY is where engines disagree — DuckDB's parallel window
    // was observed (≈1 in 3 runs) giving BOTH tied rows an empty preceding
    // frame, double-counting the union (coverage 2.0 on a 78-token doc).
    // Duplicates are redundant for a set union, so removing them removes
    // the full tie in both engines; the remaining (st, en) ordering is a
    // total order per doc.
    val iv = sp.select(col("i").as("doc_id"), col("start_i").as("st"),
        (col("start_i") + col("span_tokens")).as("en"))
      .unionAll(sp.select(col("j").as("doc_id"), col("start_j").as("st"),
        (col("start_j") + col("span_tokens")).as("en")))
      .distinct()
    val prev = Window.partitionBy("doc_id").orderBy("st", "en")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy("doc_id").orderBy("st", "en")
      .rowsBetween(Window.unboundedPreceding, 0)
    val covered = iv
      .withColumn("newisl",
        when(col("st") > coalesce(max("en").over(prev), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("isl", sum("newisl").over(upto))
      .groupBy("doc_id", "isl")
      .agg((max("en") - min("st")).as("c"))
      .groupBy("doc_id").agg(sum("c").as("covered_tokens"))
    docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("covered_tokens"),
        (col("covered_tokens").cast("double") / col("n_tokens"))
          .as("coverage"))
      .orderBy("doc_id")
  }

  private val substringCoverageOracle = s"""
$substringSeedCte,
iv AS (
  -- UNION (not ALL): identical intervals from different partners would
  -- fully tie the merge window's ORDER BY, which DuckDB's parallel window
  -- resolves nondeterministically (both tied rows can see an empty
  -- preceding frame); the set union is unchanged by duplicate removal
  SELECT i AS doc_id, start_i AS st, start_i + span_tokens AS en FROM spans
  UNION
  SELECT j, start_j, start_j + span_tokens FROM spans),
mk AS (
  SELECT doc_id, st, en,
    CASE WHEN st > coalesce(max(en) OVER (PARTITION BY doc_id
           ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         -1) THEN 1 ELSE 0 END AS newisl
  FROM iv),
grp AS (
  SELECT doc_id, st, en, sum(newisl) OVER (PARTITION BY doc_id
           ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS isl
  FROM mk),
cov AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered_tokens FROM (
    SELECT doc_id, isl, max(en) - min(st) AS c FROM grp GROUP BY doc_id, isl)
  GROUP BY doc_id),
nt AS (SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
SELECT nt.doc_id, n_tokens, covered_tokens,
       CAST(covered_tokens AS DOUBLE) / n_tokens AS coverage
FROM nt JOIN cov USING (doc_id) ORDER BY nt.doc_id
"""

  val queries: Map[String, QueryDef] = Map(
    "dedup_paragraphs" ->
      QueryDef(paragraphDedup, Some(paragraphDedupOracle)),
    "dedup_shingle_cosine" ->
      QueryDef(shingleCosinePairs, Some(shingleCosineOracle)),
    "dedup_shingle_cosine_collapsed" ->
      QueryDef(shingleCosineCollapsed, Some(shingleCosineCollapsedOracle)),
    "dedup_containment" -> QueryDef(containmentPairs, Some(containmentOracle)),
    "dedup_containment_collapsed" ->
      QueryDef(containmentCollapsed, Some(containmentCollapsedOracle)),
    "dedup_ngram_jaccard_collapsed" ->
      QueryDef(jaccardCollapsed, Some(jaccardCollapsedOracle)),
    "dedup_simhash_pairs" -> QueryDef(simhashPairs, Some(simhashPairsOracle)),
    "dedup_exact" -> QueryDef(exactDedup, Some(exactDedupOracle)),
    "dedup_normalized_tokens" -> QueryDef(normalizedDedup, Some(normalizedDedupOracle)),
    "dedup_ngram_jaccard" -> QueryDef(jaccardPairs, Some(jaccardPairsOracle)),
    "dedup_prefix_jaccard" ->
      QueryDef(prefixJaccardPairs, Some(prefixJaccardOracle)),
    "dedup_minhash_lsh" -> QueryDef(minhashLsh, Some(minhashLshOracle)),
    "dedup_incremental_minhash" ->
      QueryDef(incrementalMinhash, Some(incrementalMinhashOracle)),
    "dedup_simhash" -> QueryDef(simhash, Some(simhashOracle)),
    "dedup_embedding_cosine" -> QueryDef(embeddingPairs, Some(embeddingPairsOracle)),
    "dedup_substring_spans" ->
      QueryDef(substringSpanPairs, Some(substringSpanPairsOracle)),
    "dedup_substring_coverage" ->
      QueryDef(substringCoverage, Some(substringCoverageOracle)),
    "dedup_unicode_nfc" ->
      QueryDef(unicodeNfcDedup, Some(unicodeNfcDedupOracle))
  )
}
