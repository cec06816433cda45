package graft

import org.apache.spark.sql.execution.ExternalRDD
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Round-9 laws (verdict #6): the driver-side graph discipline is safe
  * only because of its DISPATCH, not its speed. `connectedComponents`
  * collects edges onto the driver below `driverMaxEdges` and falls back to
  * distributed label propagation above it — a corpus-keyed graph (node set
  * grows with the data) must take the distributed branch once it outgrows
  * the bound, and both branches must agree on the components. These laws
  * pin the dispatch itself so a refactor can't quietly route data-sized
  * edge lists through `.collect()`.
  */
class Round9PropertySpec extends SparkSpec {

  /** Seeded pseudo-random corpus-keyed pair list: `nEdges` edges over a
    * ~3×nEdges node id space (many small components plus singleton-free
    * noise — the shape of a near-dup pair list over a large corpus).
    */
  private def corpusPairs(nEdges: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val ids = nEdges * 3
    (0 until nEdges)
      .map(_ => (rnd.nextInt(ids).toLong, rnd.nextInt(ids).toLong))
      .filter { case (i, j) => i != j }
      .toDF("i", "j")
  }

  /** True iff the component map came from the driver branch: union-find
    * returns a lineage-free local relation, label propagation keeps a
    * distributed plan (checkpointed RDD scan).
    */
  private def isDriverSide(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case _: LocalRelation => true
      case _: ExternalRDD[_] => true
    }.isDefined && df.queryExecution.optimizedPlan.collectFirst {
      case s if s.getClass.getSimpleName == "LogicalRDD" => true
    }.isEmpty

  test("a corpus-keyed graph above driverMaxEdges takes the distributed branch") {
    val pairs = corpusPairs(600)
    val dispatched = ops.DedupClusters.connectedComponents(
      spark, pairs, driverMaxEdges = 100L)
    assert(!isDriverSide(dispatched),
      "600 edges with driverMaxEdges=100 still went through the driver " +
        "union-find — the size dispatch is broken, and at corpus scale " +
        "that is a driver-OOM collect()")
  }

  test("below the bound the driver branch engages (lineage-free result)") {
    val pairs = corpusPairs(80)
    val dispatched = ops.DedupClusters.connectedComponents(
      spark, pairs, driverMaxEdges = 10_000L)
    assert(isDriverSide(dispatched),
      "80 edges under a 10k bound should use the driver union-find")
  }

  test("both branches agree on every component assignment") {
    val pairs = corpusPairs(600).localCheckpoint(true)
    val viaDriver = ops.DedupClusters.connectedComponents(
        spark, pairs, driverMaxEdges = Long.MaxValue)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDistributed = ops.DedupClusters.connectedComponents(
        spark, pairs, driverMaxEdges = 0L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDriver.nonEmpty && viaDriver == viaDistributed,
      "driver union-find and distributed label propagation disagree")
  }

  /** Synthetic embeddings corpus (same shape as Round8PropertySpec's). */
  private def mkCorpus(n: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(910910L)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat), i % 5)
    }
    val dir = java.nio.file.Files.createTempDirectory(s"sem_linearity_$n")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  test("semantic dedup candidate pairs grow linearly in corpus size") {
    // the r9 sf1 smoke caught the semantic family on the SAME fixed-cell
    // quadratic the knn family fixed in r7 (11-35× wall at 10× data);
    // both corpus sizes sit past the scaling knee (n/128 > 16), so a
    // revert to fixed cells fails this at ~4× pair growth for 2× data
    val small = ops.DedupClusters.semanticCandidates(spark, mkCorpus(2048)).count()
    val large = ops.DedupClusters.semanticCandidates(spark, mkCorpus(4096)).count()
    assert(small > 0, "no candidates at n=2048 — vacuous law")
    assert(large.toDouble / small <= 2.8,
      f"semantic candidate pairs grew ${large.toDouble / small}%.2f× for " +
        "2× data — the corpus-scaled cell count is no longer keeping the " +
        "pair set linear")
  }

  /** Synthetic documents corpus with a boilerplate shingle ABOVE the
    * stop-shingle cap: `nBoiler` docs share one 5-token header (one
    * shingle at df = nBoiler) followed by unique tails, plus one true
    * near-dup pair built from tokens no other doc uses.
    */
  private def mkBoilerplateCorpus(nBoiler: Int): String = {
    import spark.implicits._
    val boiler = (0 until nBoiler).map { i =>
      val tail = (0 until 5).map(t => s"u${i}x$t").mkString(" ")
      (i.toLong, s"hdr0 hdr1 hdr2 hdr3 hdr4 $tail", "en", "boiler", 0L)
    }
    val base = (0 until 10).map(t => s"dupTok$t").mkString(" ")
    val dups = Seq(
      (900000L, base, "en", "dup", 0L),
      (900001L, s"$base dupExtra", "en", "dup", 0L))
    val dir = java.nio.file.Files.createTempDirectory(s"dfcap_$nBoiler")
    (boiler ++ dups).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  test("stop-shingle cap bounds the posting self-join under boilerplate") {
    // the r9 sf1 smoke measured the inverted-index candidate term growing
    // as Σ C(df,2) (933× pairs for 10× docs on the replica corpus) — one
    // boilerplate shingle shared by every document would alone contribute
    // C(n,2) pairs. With n docs sharing the header shingle past
    // PostingDfCap, an uncapped index yields ≥ C(n,2) ≈ n²/2 candidates;
    // the capped universe must keep ONLY pairs that share an informative
    // shingle — here exactly the planted near-dup pair.
    val n = ops.Dedup.PostingDfCap + 176 // 1200 > cap → header is dropped
    val dir = mkBoilerplateCorpus(n)
    val cand = ops.Dedup.jaccardCandidates(spark, dir).collect()
    assert(cand.length == 1,
      s"expected only the planted near-dup candidate, got ${cand.length} " +
        "pairs — the df cap is no longer dropping the boilerplate shingle")
    // and the surviving pair's exact arithmetic is intact over the capped
    // universe: A's 6 shingles ⊂ B's 7 → jaccard 6/7, containment 1.0
    val j = ops.Dedup.jaccardPairs(spark, dir).collect()
    assert(j.length == 1 && j(0).getLong(0) == 900000L &&
      j(0).getLong(1) == 900001L &&
      math.abs(j(0).getDouble(2) - 6.0 / 7.0) < 1e-12,
      s"near-dup pair lost or mis-scored under the cap: ${j.mkString(",")}")
    val c = ops.Dedup.containmentPairs(spark, dir)
      .select("i", "j", "containment").collect()
    assert(c.length == 1 && c(0).getDouble(2) == 1.0,
      s"containment lost the embedded-doc pair under the cap: ${c.mkString(",")}")
  }

  test("below the cap the posting universe is untouched (df << cap)") {
    // a small corpus (every df ≤ 2 ≪ cap) must see IDENTICAL candidates
    // with and without boilerplate-dropping in play — i.e. the cap can
    // never engage on the driver corpora, which the sf0.01/sf0.1 hash
    // gates also re-verified after the change
    val dir = mkBoilerplateCorpus(8) // 8 < cap: header shingle survives
    val cand = ops.Dedup.jaccardCandidates(spark, dir).count()
    // header shingle df=8 → C(8,2)=28 boilerplate pairs + the dup pair
    assert(cand == 28 + 1,
      s"expected the full uncapped candidate set (29), got $cand — the " +
        "cap engaged below its threshold")
  }

  test("the bloom sketch genuinely prunes the fact side (not a tautology)") {
    // the oracle proves bloom_pruned_join returns the exact-join relation,
    // but an always-true probe would ALSO pass it — this law pins the
    // pruning itself: the sketch filter must reject most non-matching fact
    // rows (≤ matches + FPP slack) while never rejecting a true match
    graft.functions.VectorFunctions.register(spark)
    val urgent = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val sketch = urgent.agg(call_function("bloom_agg",
        xxhash64(col("o_orderkey")), lit(100000L), lit(800000L)).as("bf"))
      .first().getAs[Array[Byte]]("bf")
    val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey")
    val factN = fact.count()
    val prunedN = fact.filter(call_function("bloom_might_contain",
      lit(sketch), xxhash64(col("l_orderkey")))).count()
    val matchN = fact.join(urgent,
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(matchN > 0 && matchN < factN, "degenerate corpus — vacuous law")
    assert(prunedN >= matchN,
      s"bloom dropped true matches: pruned=$prunedN < matches=$matchN")
    // 800k bits / ~urgent-key count keeps FPP ~1%; allow 5% of the
    // non-matching population as slack before calling the sketch dead
    assert(prunedN <= matchN + (factN - matchN) / 20,
      s"sketch passes ${prunedN - matchN} of ${factN - matchN} non-matching " +
        "rows — the bloom probe is no longer pruning")
  }

  test("CDC chunking survives a prefix shift; fixed frames do not") {
    // the reason media_cdc_* exists next to media_frame_sample: insert 3
    // bytes at the front of a payload and every fixed 256-byte frame
    // digest changes, but content-defined boundaries re-synchronize after
    // one 8-byte window so most chunk digests still match. This pins the
    // shift-robustness itself — if the boundary rule ever becomes
    // offset-dependent, the shared count collapses and this fails.
    import spark.implicits._
    val words = (0 until 120).map(i => s"w${i % 37}tok$i").mkString(" ")
    val rows = Seq((1L, words, "en", "cdc", 0L),
      (2L, "ZZ " + words, "en", "cdc", 0L))
    val dir = java.nio.file.Files.createTempDirectory("cdc_shift")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cdcShared = ops.Multimodal.cdcChunks(spark, dir.toString)
      .groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("dn"))
      .filter(col("dn") === 2).count()
    assert(cdcShared >= 3,
      s"CDC re-sync lost: only $cdcShared chunk digests survive a 3-byte " +
        "prefix insertion")
    val frameShared = ops.Multimodal.frameSample(spark, dir.toString)
      .groupBy("frame_md5")
      .agg(countDistinct(col("doc_id")).as("dn"))
      .filter(col("dn") === 2).count()
    assert(frameShared == 0,
      "fixed-offset frames unexpectedly survived the shift — the law's " +
        "contrast arm is vacuous")
  }

  test("substring spans: exact run arithmetic, threshold, and interval-union coverage") {
    // planted-copy corpus: A carries tokens t0..t29 plus a 10-token unique
    // tail (40 tokens); B embeds A's t0..t19 (a 20-token verbatim run), C
    // embeds A's t10..t29 (another 20-token run overlapping A's first by
    // 10). B and C share only t10..t19 with each other — 10 tokens, below
    // MinSpanTokens — so that pair must not appear at all.
    import spark.implicits._
    def toks(a: Int, b: Int) = (a until b).map(i => s"t$i").mkString(" ")
    def uniq(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val rows = Seq(
      (1L, s"${toks(0, 30)} ${uniq("ua", 10)}", "en", "sub", 0L),
      (2L, s"${uniq("ub", 10)} ${toks(0, 20)} ${uniq("vb", 10)}", "en", "sub", 0L),
      (3L, s"${uniq("uc", 10)} ${toks(10, 30)} ${uniq("vc", 10)}", "en", "sub", 0L))
    val dir = java.nio.file.Files.createTempDirectory("substr")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = ops.Dedup.substringSpanPairs(spark, dir.toString).collect()
    assert(spans.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (1L, 3L)),
      s"expected exactly the two planted pairs (1,2),(1,3) — the " +
        s"sub-threshold (2,3) 10-token overlap must be absent: " +
        spans.mkString(","))
    assert(spans.forall(r => r.getLong(2) == 20L && r.getLong(3) == 1L),
      s"a maximal 20-token planted run must surface as ONE span of " +
        s"exactly 20 tokens (16 consecutive 5-gram seeds + 4): " +
        spans.mkString(","))
    // coverage: A's two intervals [0,20) and [10,30) must MERGE to
    // [0,30) → 30 of 40 tokens. Double-counting the overlap would read
    // 40/40; dropping the union would read 20/40.
    val cov = ops.Dedup.substringCoverage(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(cov(1L) == ((30L, 0.75)),
      s"interval union broken for the overlapping spans: ${cov(1L)}")
    assert(cov(2L) == ((20L, 0.5)) && cov(3L) == ((20L, 0.5)),
      s"single-span coverage wrong: ${cov(2L)}, ${cov(3L)}")
  }

  test("NFC dedup collapses canonical equivalents that byte-exact dedup keeps apart") {
    // the web-corpus trap: "café" composed (U+00E9) and decomposed
    // (e + U+0301) are byte-different, canonically identical text
    import spark.implicits._
    val composed = "café au lait"
    val decomposed = "café au lait"
    assert(composed != decomposed, "fixture must be byte-different")
    val rows = Seq(
      (1L, composed, "fr", "web", 0L),
      (2L, decomposed, "fr", "web", 0L),
      (3L, "something else entirely", "en", "web", 0L))
    val dir = java.nio.file.Files.createTempDirectory("nfc")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = ops.Dedup.exactDedup(spark, dir.toString).collect()
    assert(exact.length == 3,
      "byte-exact dedup must keep the canonical variants apart (3 groups)")
    val nfc = ops.Dedup.unicodeNfcDedup(spark, dir.toString).collect()
    assert(nfc.length == 2, s"NFC dedup must collapse the pair: ${nfc.mkString(",")}")
    val g = nfc.find(_.getLong(0) == 1L).get
    assert(g.getLong(1) == 2L && g.getLong(2) == 1L,
      s"group of 2 with exactly the decomposed member counted as " +
        s"denormalized, got (size=${g.getLong(1)}, denorm=${g.getLong(2)})")
  }

  test("prefix filter is boilerplate-immune WITHOUT a df cap, and complete") {
    // frequency-ordering must put the shared header shingle outside every
    // doc's prefix, so 1200 boilerplate docs yield ONLY the planted
    // near-dup candidate — the df-cap law's guarantee, achieved on the
    // UNCAPPED universe (the whole point of the prefix algorithm); and
    // the pigeonhole completeness must keep the true pair in the
    // candidate set, scored by exact full-universe Jaccard
    val dir = mkBoilerplateCorpus(ops.Dedup.PostingDfCap + 176)
    val cand = ops.Dedup.prefixCandidatesAt(spark, dir).collect()
    assert(cand.length == 1,
      s"expected only the planted candidate, got ${cand.length} pairs — " +
        "boilerplate shingles are reaching the prefixes")
    val j = ops.Dedup.prefixJaccardPairs(spark, dir).collect()
    assert(j.length == 1 && j(0).getLong(0) == 900000L &&
      j(0).getLong(1) == 900001L &&
      math.abs(j(0).getDouble(2) - 6.0 / 7.0) < 1e-12,
      s"planted pair lost or mis-scored: ${j.mkString(",")}")
  }

  test("prefix filter strictly out-prunes the posting join below the df cap") {
    // at df = 8 the stop-shingle cap cannot engage, so the posting join
    // carries the header's C(8,2) = 28 false candidates (pinned by the
    // below-cap law above); the prefix index must skip them ALL — its
    // pruning comes from per-doc ordering, not a global threshold —
    // while both algorithms agree on the one true pair
    val dir = mkBoilerplateCorpus(8)
    assert(ops.Dedup.prefixCandidatesAt(spark, dir).count() == 1,
      "prefix candidates should be exactly the planted pair at df=8")
    val j = ops.Dedup.prefixJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(j == Seq((900000L, 900001L)), s"result drifted: $j")
  }

  test("skyline: distributive two-phase equals the dominance definition") {
    import spark.implicits._
    // hand-built frontier with every interesting case: duplicate points
    // (multiplicity, not dominance), an equal-price pair (larger size
    // wins), a point dominated only by a point likely hashed to another
    // bucket (phase 2 must still remove it), and an undominated diagonal
    val parts = Seq(
      (1L, "a", "B", "T", 10, 100.0), // frontier: cheapest
      (2L, "a", "B", "T", 10, 100.0), // duplicate -> n_parts = 2
      (3L, "a", "B", "T", 30, 200.0), // frontier: bigger, pricier
      (4L, "a", "B", "T", 20, 200.0), // dominated by (200, 30)
      (5L, "a", "B", "T", 5, 150.0),  // dominated by (100, 10)
      (6L, "a", "B", "T", 50, 300.0), // frontier
      (7L, "a", "B", "T", 40, 300.0)  // equal price, smaller -> dominated
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
    val dir = java.nio.file.Files.createTempDirectory("skyline")
    parts.write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = ops.RelationalExtras.skylineParts(spark, dir.toString)
      .collect().map(r => (r.getDouble(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq((100.0, 10, 2L), (200.0, 30, 1L), (300.0, 50, 1L)),
      s"skyline drifted from the dominance definition: $got")
  }
}
