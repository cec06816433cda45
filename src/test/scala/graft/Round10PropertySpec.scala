package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 laws.
  *
  * Shared posting base (Dedup.positionalBase / tfBase / shingleArrays):
  * the session memo must be a pure work-saver — each derived layer has to
  * equal the direct recomputation from `documents.text`, and repeated
  * calls must read the SAME checkpoint (the memo hit that
  * removes the ~5.5s of repeated base derivation r9's bench measured).
  * Candidate-bound preservation needs no new law: the Round9 stop-shingle
  * and prefix-filter laws run THROUGH the memoized path (temp-dir corpora
  * key the memo per corpus), so a memo that changed any candidate bound
  * would fail those suites mechanically.
  */
class Round10PropertySpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("\u0001"))
      .toSeq.sorted

  test("positionalBase equals the direct posexplode over documents.text") {
    graft.functions.VectorFunctions.register(spark)
    val direct = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(call_function("shingle_hashes_5", split(col("text"), " ")))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
    assert(canon(ops.Dedup.positionalBase(spark, sfDir)) == canon(direct))
  }

  test("tfBase equals the direct multiset shingle counts") {
    graft.functions.VectorFunctions.register(spark)
    val direct = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(call_function("shingle_hashes_5", split(col("text"), " ")))
          .as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("tf"))
    assert(canon(ops.Dedup.tfBase(spark, sfDir)) == canon(direct))
  }

  test("shingleArrays equals the direct distinct shingle sets (as sets)") {
    graft.functions.VectorFunctions.register(spark)
    // collect_list order is whatever the grouped scan produced — compare
    // sorted, the only view any consumer (intersect/size) observes
    val direct = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(call_function("shingle_hashes_5",
          split(col("text"), " "))).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
    val derived = ops.Dedup.shingleArrays(spark, sfDir)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"))
    assert(canon(derived) == canon(direct))
  }

  test("incremental MinHash-LSH equals the exhaustive new×corpus Jaccard") {
    // recall law: at j ≥ 0.8 a banded miss has P ≈ 8e-8, so on a real
    // corpus the LSH-candidate pipeline must return EXACTLY the exhaustive
    // result — computed here by a genuinely different plan (flagged
    // cross-pairing + array_intersect, no bands, no posting join)
    graft.functions.VectorFunctions.register(spark)
    val bucket = ops.SamplingOps.bucket10(col("doc_id"))
    val d = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_distinct(call_function("shingle_hashes_5",
          split(col("text"), " "))).as("sh"),
        (bucket < 2).as("is_new"))
      .filter(size(col("sh")) > 0)
    val exhaustive = d.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("sh").as("sha"))
      .crossJoin(d.filter(!col("is_new"))
        .select(col("doc_id").as("corpus_id"), col("sh").as("shb")))
      .select(col("new_id"), col("corpus_id"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          (size(col("sha")) + size(col("shb")) -
            size(array_intersect(col("sha"), col("shb")))))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    assert(canon(ops.Dedup.incrementalMinhash(spark, sfDir)) ==
      canon(exhaustive))
  }

  test("unigram tokenizer: independent Scala re-derivation matches exactly") {
    // third evaluation strategy (after the Spark aggregate walk and the
    // DuckDB recursive-CTE oracle): plain-Scala vocab selection + greedy
    // longest-match, compared segmentation-for-segmentation — which pins
    // losslessness, vocab membership, AND greedy maximality at once
    import scala.collection.mutable
    val texts = Registry.table(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val wc = mutable.Map.empty[String, Long]
    texts.foreach(_.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1))
    val sub = mutable.Map.empty[String, Long]
    for ((w, c) <- wc; l <- 2 to 4; i <- 0 to w.length - l) {
      val p = w.substring(i, i + l); sub(p) = sub.getOrElse(p, 0L) + c
    }
    val top = sub.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(ops.TextOps.UnigramTopK).map(_._1)
    val vocab = (top ++ wc.keys.flatMap(_.map(_.toString))).toSet
    def seg(w: String): Seq[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val l = (4 to 2 by -1).find(l => i + l <= w.length &&
          vocab(w.substring(i, i + l))).getOrElse(1)
        out += w.substring(i, i + l); i += l
      }
      out.toSeq
    }
    val got = ops.TextOps.unigramSegment(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty && got.map(_._1).toSet == wc.keySet)
    got.foreach { case (w, c, k, s) =>
      val pieces = s.split("\\|").toSeq
      assert(pieces == seg(w),
        s"greedy mismatch for '$w': got $s exp ${seg(w).mkString("|")}")
      assert(pieces.mkString("") == w && k == pieces.length && c == wc(w))
    }
  }

  test("quantized embedding base equals the direct parse and memo-hits") {
    graft.functions.VectorFunctions.register(spark)
    val direct = Registry.table(spark, sfDir, "embeddings").select(
      col("vec_id"), col("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("qv"),
      transform(col("embedding"), x => greatest(lit(-127L),
        least(lit(127L), floor(x.cast("double") * 127.0).cast("long"))))
        .as("q8"))
      .withColumn("nrm", call_function("vec_dot_long", col("qv"), col("qv")))
    assert(canon(ops.Similarity.quantized(spark, sfDir)) == canon(direct))
    assert(sameCheckpoint(ops.Similarity.quantized(spark, sfDir),
      ops.Similarity.quantized(spark, sfDir)),
      "quantized recomputed instead of memo-hitting")
  }

  test("termTf word postings equal the direct tokenize-explode-group") {
    val direct = Registry.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z]+"),
          t => t =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(canon(ops.TextOps.termTf(spark, sfDir)) == canon(direct))
    assert(sameCheckpoint(ops.TextOps.termTf(spark, sfDir),
      ops.TextOps.termTf(spark, sfDir)),
      "termTf recomputed instead of memo-hitting")
  }

  test("directed trade weights equal the direct star-join reduction") {
    val cents = (col("l_extendedprice")
      .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * 100)
      .cast("long")
    val li = Registry.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), cents.as("c"))
    val sup = Registry.table(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("u"))
    val ord = Registry.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Registry.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("v"))
    val direct = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("u", "v").agg(sum("c").as("wc"))
    assert(canon(ops.GraphOps.directedTradeWeights(spark, sfDir)) ==
      canon(direct))
    assert(sameCheckpoint(ops.GraphOps.directedTradeWeights(spark, sfDir),
      ops.GraphOps.directedTradeWeights(spark, sfDir)),
      "directedTradeWeights recomputed instead of memo-hitting")
  }

  test("daily event counts equal the direct events scan-and-group") {
    val direct = Registry.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    assert(canon(ops.QualityOps.dailyEventCounts(spark, sfDir)) ==
      canon(direct))
    assert(sameCheckpoint(ops.QualityOps.dailyEventCounts(spark, sfDir),
      ops.QualityOps.dailyEventCounts(spark, sfDir)),
      "dailyEventCounts recomputed instead of memo-hitting")
  }

  test("phash signatures memo-hit") {
    assert(sameCheckpoint(ops.Multimodal.phashSigs(spark, sfDir),
      ops.Multimodal.phashSigs(spark, sfDir)),
      "phashSigs recomputed instead of memo-hitting")
  }

  test("shared-base memos are keyed per corpus — no cross-dir bleed") {
    // two real corpora of different content: a memo that ignored its dir
    // key would hand sf0.001's base to an sf0.01 caller (or vice versa)
    val dirB = "/root/testdata/sf0.01"
    graft.functions.VectorFunctions.register(spark)
    def distinctPlans(a: DataFrame, b: DataFrame): Unit = {
      assert(!sameCheckpoint(a, b),
        "same memoized plan returned for different corpora")
      assert(canon(a) != canon(b),
        "different corpora unexpectedly produced identical base content")
    }
    distinctPlans(ops.TextOps.termTf(spark, sfDir),
      ops.TextOps.termTf(spark, dirB))
    distinctPlans(ops.Similarity.quantized(spark, sfDir),
      ops.Similarity.quantized(spark, dirB))
    distinctPlans(ops.Dedup.tfBase(spark, sfDir),
      ops.Dedup.tfBase(spark, dirB))
    distinctPlans(ops.QualityOps.dailyEventCounts(spark, sfDir),
      ops.QualityOps.dailyEventCounts(spark, dirB))
  }

  test("HLL sketches: lossless union and the published error band") {
    // law 1 (merge losslessness): the union of per-segment sketches must
    // estimate EXACTLY what one global sketch over the same keys
    // estimates — HLL union is register-wise max, so segmenting the scan
    // cannot change the merged registers
    val o = Registry.table(spark, sfDir, "orders")
    val merged = o.groupBy("o_orderpriority")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .collect()(0).getLong(0)
    val global = o.agg(
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("e"))
      .collect()(0).getLong(0)
    assert(merged == global,
      s"segment-union estimate $merged != global-sketch estimate $global")
    // law 2 (error band): default lgK=12 gives ~1.6% RSE; 5 RSE is a
    // p<1e-6 bound — a violation means the sketch, not luck
    val exact = o.select(countDistinct(col("o_custkey"))).collect()(0)
      .getLong(0)
    assert(math.abs(merged - exact).toDouble / exact <= 0.08,
      s"HLL estimate $merged outside the error band around exact $exact")
  }

  test("the posting-base memo hits: repeated calls return the same plan") {
    val a = ops.Dedup.positionalBase(spark, sfDir)
    val b = ops.Dedup.positionalBase(spark, sfDir)
    assert(sameCheckpoint(a, b),
      "positionalBase recomputed instead of memo-hitting")
    assert(sameCheckpoint(ops.Dedup.tfBase(spark, sfDir),
      ops.Dedup.tfBase(spark, sfDir)))
    assert(sameCheckpoint(ops.Dedup.shingleArrays(spark, sfDir),
      ops.Dedup.shingleArrays(spark, sfDir)))
  }
}
