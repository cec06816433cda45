package graft

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{array_distinct, col, size, split}
import org.apache.spark.sql.types._

/** Round-14 laws: the exact-anchor companions of the sketch family
  * (`stats_overlap_exact` / `stats_kll_exact_anchor` — each rows-only
  * sketch query's deterministic core, now hash-gated in its own right)
  * must agree COLUMN-FOR-COLUMN with the exact twins embedded in the
  * sketch outputs, plus two advisor-flagged guards: the gopher-rule
  * hashed-shingle grouping is collision-free on the fixture (the Spark
  * side groups by 64-bit gram hash, the DuckDB oracle by literal gram
  * string — a collision would silently diverge the engines), and the
  * two-level IVF assignment's probe set keeps single-level recall above
  * a pinned floor (the approximation the r13 flat-loop twin pins the
  * construction of, but whose QUALITY no law bounded).
  */
class Round14PropertySpec extends SparkSpec {

  test("hll_intersection exact columns equal the stats_overlap_exact anchor") {
    val sketch = ops.StatsOps.hllIntersection(spark, sfDir)
      .select("type_a", "type_b", "exact_a", "exact_b",
        "exact_union", "exact_intersection")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val anchor = ops.StatsOps.overlapExact(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(sketch.size === 3 && anchor.size === 3)
    assert(sketch === anchor,
      s"sketch-embedded exact grid diverged from the hash-gated anchor: " +
        s"only-sketch=${sketch -- anchor} only-anchor=${anchor -- sketch}")
  }

  test("kll exact columns equal the stats_kll_exact_anchor segment rows") {
    val sketch = ops.StatsOps.kllQuantiles(spark, sfDir)
      .select("o_orderpriority", "exact_p50_cents", "exact_p90_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val anchorRows = ops.StatsOps.kllExactAnchor(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val (allRows, segRows) = anchorRows.partition(_._1 == "ALL")
    assert(sketch === segRows.map(r => (r._1, r._3, r._4)).toSet,
      "sketch-embedded exact quantiles diverged from the anchor segments")
    // the merged sketch's deterministic anchor: exactly one ALL row whose
    // n is the lossless sum of the segment stream lengths
    assert(allRows.length === 1)
    assert(allRows.head._2 === segRows.map(_._2).sum,
      "ALL row n_orders must equal the segment n_orders sum")
  }

  test("gopher hashed-gram grouping is collision-free on the fixture") {
    // Spark groups 2/3-grams by 64-bit shingle hash; the DuckDB oracle
    // groups by literal gram string. Equal per-doc DISTINCT counts on the
    // fixture certify no hash collision is absorbing two distinct grams
    // of one document (which would corrupt top_bi / tri_dup unnoticed
    // despite the hash gate, since both engines would still be counting
    // *something* — just not the same thing).
    graft.functions.VectorFunctions.register(spark)
    val toks = split(col("text"), " ")
    val rows = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        size(array_distinct(org.apache.spark.sql.functions
          .call_function("shingle_hashes_2", toks))).as("h2"),
        size(array_distinct(org.apache.spark.sql.functions
          .call_function("shingle_hashes_3", toks))).as("h3"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val t = r.getString(1).split(" ", -1).toSeq
      def distinctGrams(w: Int): Int =
        if (t.length < w) 0 else t.sliding(w).map(_.mkString(" ")).toSet.size
      assert(r.getInt(2) === distinctGrams(2),
        s"doc ${r.getLong(0)}: hashed bigram distinct != string distinct")
      assert(r.getInt(3) === distinctGrams(3),
        s"doc ${r.getLong(0)}: hashed trigram distinct != string distinct")
    }
  }

  test("prefix-filtered incremental dedup equals the naive posting join") {
    // the SSJoin prefix theorem, pinned engine-side (the DuckDB oracle is
    // the same naive construction, but both gates together certify the
    // hash-order prefix drops NO qualifying pair): candidate completeness
    // independent of the oracle engine. At /tmp/sf10 the two shapes were
    // additionally checksum-compared (8 528 849 identical rows, r11 notes).
    import org.apache.spark.sql.functions._
    val got = ops.ScalePatterns.incrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    // naive twin rebuilt from the construction (not from the code under
    // test): full posting join, pair-count aggregation, size join
    graft.functions.VectorFunctions.register(spark)
    val ex = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(call_function("shingle_hashes_5", split(col("text"), " ")))
          .as("ss"))
      .distinct()
      .withColumn("is_new", ops.SamplingOps.bucket10(col("doc_id")) < 2)
    val cand = ex.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("ss"))
      .join(ex.filter(!col("is_new"))
        .select(col("doc_id").as("corpus_id"), col("ss")), "ss")
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("inter"))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val expected = cand
      .join(sizes.select(col("doc_id").as("new_id"), col("n").as("na")),
        "new_id")
      .join(sizes.select(col("doc_id").as("corpus_id"), col("n").as("nb")),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (col("inter").cast("double")
          / (col("na") + col("nb") - col("inter"))).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    assert(got === expected,
      s"prefix filter diverged from the naive relation: " +
        s"only-prefix=${(got -- expected).take(3)} " +
        s"only-naive=${(expected -- got).take(3)}")
  }

  test("knnJoinDedup on a dup-free corpus is knnJoin plus m=1 columns") {
    // sf0.001 embeddings are distinct in the quantized domain (500/500),
    // so the collapse is the identity there: the dedup-collapsed graph
    // must equal the plain kNN graph row-for-row with both
    // multiplicities 1. (The dup-heavy behavior is measured at /tmp/sf10
    // and /tmp/sf100 — r14 notes; this law pins the degenerate end.)
    val dedup = ops.Similarity.knnJoinDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), math.round(r.getDouble(5) * 1e12)))
    assert(dedup.nonEmpty)
    assert(dedup.forall(r => r._2 == 1L && r._5 == 1L),
      "every multiplicity must be 1 on a dup-free corpus")
    val plain = ops.Similarity.knnJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12)))
    assert(dedup.map(r => (r._1, r._3, r._4, r._6)).toSeq === plain.toSeq,
      "dup-free collapse must reproduce the plain kNN graph exactly")
    // and the member-level expansion degenerates to the same graph:
    // singleton groups mean every prefix is one member, the self edge is
    // always self-excluded, and the neighbor edges ARE the plain edges
    val expanded = ops.Similarity.knnExpandMembers(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e12)))
    assert(expanded.toSeq === plain.toSeq,
      "dup-free member expansion must reproduce the plain kNN graph")
  }

  // --------------- AQE skew-join validation (r10 verdict item 7) --------
  test("AQE OptimizeSkewedJoin fires on the unsalted join of a skewed key") {
    // skew_split_join proves the MANUAL hot/cold salt; this pins the knob
    // a real cluster leans on instead: the same unsalted shuffle-join
    // shape, one genuinely hot key, AQE skew thresholds scaled to the
    // fixture -> the final adaptive plan must carry a skew=true join.
    // (The driver corpora themselves are NOT key-skewed - sf10 user_id
    // max/median = 99/66, below any skew factor - so the law runs on a
    // synthetic hot key; see ROUND14 notes for the corpus measurement.)
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 90% of fact rows share key 0 - the viral-user shape
      val fact = spark.range(0, 200000, 1, 8)
        .select(when(col("id") % 10 < 9, lit(0L)).otherwise(pmod(col("id"),
          lit(1000L))).as("k"), col("id").as("v"))
      val dim = spark.range(0, 1000, 1, 4)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = fact.join(dim, "k")
      // collect() (NOT count()) so THIS query execution runs: count()
      // spawns its own QE and leaves joined's adaptive plan un-finalized
      assert(joined.collect().length === 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE skew handling did not fire on the hot key; final plan:\n" +
          finalPlan.take(2000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ------------- two-level IVF recall floor (r13 advisor follow-up) -----
  // Same deterministic synthetic corpus family as Round13PropertySpec's
  // flat-loop twin (which pins WHAT the two-level construction computes);
  // this law bounds HOW GOOD the approximation is: the fraction of vectors
  // whose two-level probe set still contains their TRUE nearest fine cell
  // (single-level recall@probes). Guards future tuning (CoarseProbes,
  // coarseCount shape) against silently degrading assignment quality.
  private val Dim = 8
  private val N = 300
  private def vec(id: Int): Array[Long] = {
    val md = MessageDigest.getInstance("md5")
    val h = md.digest(s"r14:$id".getBytes("UTF-8"))
    Array.tabulate(Dim)(d => (h(d) & 0x7fL) - 40L)
  }
  private def nrmOf(v: Array[Long]): Long = v.map(x => x * x).sum
  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def d2(a: Array[Long], b: Array[Long]): Long =
    nrmOf(a) + nrmOf(b) - 2 * dot(a, b)

  // Measured 0.797 on this corpus — a UNIFORM random cloud, the worst case
  // for coarse quantization (no cluster structure for the coarse level to
  // exploit; real embedding corpora cluster and recall rises with them).
  // The floor pins the regression margin, not the aspiration: any tuning
  // of CoarseProbes / coarseCount that drops below 0.75 here has
  // materially degraded assignment quality and must be looked at.
  test("two-level probe set keeps single-level nearest-cell recall >= 0.75") {
    val kCells = 24L
    val probes = 2
    val cc = ops.Similarity.coarseCount(kCells)
    val vecs = (0 until N).map(i => i.toLong -> vec(i)).toMap
    val fineIds = (0L until kCells).toSeq
    val coarseIds = (0L until cc).toSeq
    val owner: Map[Long, Long] = fineIds.map { f =>
      f -> coarseIds.minBy(g => (d2(vecs(f), vecs(g)), g))
    }.toMap
    val hits = (0 until N).count { i =>
      val v = vecs(i.toLong)
      val trueNearest = fineIds.minBy(f => (d2(v, vecs(f)), f))
      val myCoarse = coarseIds.sortBy(g => (d2(v, vecs(g)), g))
        .take(ops.Similarity.CoarseProbes)
      val candidateFines = fineIds.filter(f => myCoarse.contains(owner(f)))
      candidateFines.sortBy(f => (d2(v, vecs(f)), f)).take(probes)
        .contains(trueNearest)
    }
    val recall = hits.toDouble / N
    info(f"two-level recall@$probes vs single-level nearest: $recall%.3f")
    assert(recall >= 0.75,
      f"two-level assignment recall $recall%.3f fell below the 0.75 floor")
  }
}
