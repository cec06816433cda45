package graft

import org.apache.spark.sql.functions._

/** Round-8 laws (verdict #5): pin the `ann_knn_join` linearity win.
  *
  * The kNN join's candidate set comes from IVF dual assignment with a
  * corpus-SCALED cell count (`cells = max(16, n/128)`, constant per-cell
  * occupancy). With a fixed cell count the candidate set is n²/cells —
  * the r7 sf1 smoke measured that cliff at 123× wall-clock for 10× data
  * before the scaling was added. This law counts actual candidate pairs at
  * two corpus sizes past the scaling knee (n/128 > 16) and asserts the
  * growth is ≈ linear, so a future "tune nprobe/cells" edit can't silently
  * restore the quadratic shape.
  */
class Round8PropertySpec extends SparkSpec {

  /** Synthetic embeddings table (driver schema: vec_id long, embedding
    * array<float>, label int) of n seeded pseudo-random unit-scale vectors,
    * staged so `Registry.table(_, dir, "embeddings")` resolves.
    */
  private def mkCorpus(n: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(8675309L)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat), i % 5)
    }
    val dir = java.nio.file.Files.createTempDirectory(s"knn_linearity_$n")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  test("knn candidate pairs grow linearly in corpus size (no n²/cells cliff)") {
    // both sizes sit PAST the scaling knee (n/128 ≥ 16): 2048 → 16 cells,
    // 4096 → 32 cells. Linear scaling predicts pairs2/pairs1 ≈ n2/n1 = 2
    // (constant per-cell occupancy); a fixed 16-cell quantizer predicts ≈ 4
    // (occupancy doubles, pairs = n²/cells). The 2.8 bound sits between
    // the two with headroom for cell-balance noise on random vectors.
    val (n1, n2) = (2048, 4096)
    val p1 = ops.Similarity.knnCandidates(spark, mkCorpus(n1)).count()
    val p2 = ops.Similarity.knnCandidates(spark, mkCorpus(n2)).count()
    assert(p1 > 0 && p2 > 0)
    val growth = p2.toDouble / p1.toDouble
    assert(growth <= 2.8,
      f"candidate growth $growth%.2f for 2x corpus — the corpus-scaled " +
        "cell count (max(16, n/128)) is no longer keeping pairs linear")
    // absolute per-vector bound: dual assignment at ~128/cell target keeps
    // each vector's candidate list O(probes * occupancy); 8x covers skew
    assert(p2.toDouble / n2 <= 8 * 2 * 128,
      s"per-vector candidate count ${p2 / n2} exceeds the occupancy bound")
  }

  test("knn join on a scaled corpus still returns top-k per vector") {
    // end-to-end sanity at a post-knee size: every vector reports exactly
    // KnnK ranked neighbors (dense random corpus — no sparse-cell dropout)
    val dir = mkCorpus(2048)
    val knn = ops.Similarity.knnJoin(spark, dir)
    val perVec = knn.groupBy("vec_id").agg(count(lit(1)).as("k"))
      .agg(min("k").as("mn"), max("k").as("mx"), count(lit(1)).as("nv"))
      .collect()(0)
    assert(perVec.getLong(2) == 2048, "every vector must appear")
    assert(perVec.getLong(0) == 3 && perVec.getLong(1) == 3,
      "every vector must carry exactly KnnK=3 neighbors")
  }
}
