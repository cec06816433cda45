package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 laws: cast-stable predicate derivation (the r12 verdict's #4).
  * The analyzer coerces a date-vs-timestamp comparison by up-casting the
  * date side, which used to blind both derivation rules; the helper now
  * sees through order-preserving injective casts, inverting literals with
  * an exact round-trip check. Laws pin: (a) the derived bound exists in
  * the optimized plan for the cast-wrapped join shape, (b) results are
  * identical with the rules excluded (soundness on the boundary rows),
  * (c) off-image literals derive nothing rather than something wrong.
  */
class Round17PropertySpec extends SparkSpec {

  private val bothRules =
    "graft.plans.DeriveNonEquiJoinBounds,graft.plans.DeriveDisjunctiveDomains"
  // ConvertToLocalRelation folds a Filter over a local relation into the
  // relation itself before the derivation rules can read its constraints —
  // the real queries read parquet, where the Filter node survives, so the
  // laws exclude CTL to reproduce the parquet shape on in-memory frames.
  private val ctl =
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  private def withExcluded[A](rules: String)(body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rules)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
  private def withRulesOn[A](body: => A): A = withExcluded(ctl)(body)
  private def withRulesOff[A](body: => A): A = withExcluded(s"$ctl,$bothRules")(body)

  /** date attr joined against a timestamp attr: the analyzer inserts
    * Cast(d AS timestamp) on the date side, so the conjunct the rule sees
    * is Cast(d) > ts — the shape the cast-stable endpoints unlock.
    */
  private def castJoin(): DataFrame = {
    import spark.implicits._
    val fact = Seq(
      (0, Date.valueOf("1999-12-31")),
      (1, Date.valueOf("2000-06-01")),
      (2, Date.valueOf("2000-01-01"))).toDF("id", "d")
    val dim = Seq(
      (10, Timestamp.valueOf("2000-01-01 00:00:00")),
      (11, Timestamp.valueOf("2000-03-01 12:00:00")))
      .toDF("rid", "ts")
      .filter($"ts" >= Timestamp.valueOf("2000-01-01 00:00:00"))
    fact.join(dim, $"d".cast("timestamp") > $"ts").select("id", "rid")
  }

  test("cast chain: bound derived through Cast(date AS timestamp) reaches the date side") {
    // ts >= 2000-01-01T00:00 (midnight — ON the image of the date→ts
    // cast) ∧ cast(d) > ts ⟹ d > DATE'2000-01-01' must appear in the
    // optimized plan as a filter on the date attribute itself (invertible
    // literal), not on the cast.
    val plan = withRulesOn { castJoin().queryExecution.optimizedPlan.toString }
    // pushdown may re-express the bound on the pre-alias attribute, so
    // match any attribute compared strictly against the DATE literal
    // (the timestamp bound renders with a time component, so this regex
    // can only match the inverted date literal)
    assert("#\\d+ > 2000-01-01\\)".r.findFirstIn(plan).isDefined,
      s"derived inverted date bound missing from plan:\n$plan")
  }

  test("cast chain: rule-on == rule-off incl. the midnight boundary row") {
    // id=2 (d = 2000-01-01) has cast(d) = the dim's midnight ts exactly —
    // strict > drops it; a strictness or inversion bug would surface here.
    val on = withRulesOn {
      castJoin().collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    assert(on === Seq((1, 10), (1, 11)), s"unexpected matches: $on")
    val off = withRulesOff {
      castJoin().collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    assert(on === off, "cast-chain derivation changed results")
  }

  test("off-image literal: non-midnight timestamp bound derives nothing wrong") {
    import spark.implicits._
    // ts >= 12:00 is NOT on the date→timestamp image, so the round-trip
    // check must decline the inversion. A truncating inverse would derive
    // d >= Jan 5 — over-keeping the Jan 5 row, which the join itself then
    // masks — so the law here is plan-level: no derived bound on d at all.
    val fact = Seq(
      (0, Date.valueOf("2000-01-05")),
      (1, Date.valueOf("2000-01-06"))).toDF("id", "d")
    val dim = Seq((10, Timestamp.valueOf("2000-01-05 12:00:00")))
      .toDF("rid", "ts")
      .filter($"ts" >= Timestamp.valueOf("2000-01-05 12:00:00"))
    val q = fact.join(dim, $"d".cast("timestamp") > $"ts").select("id", "rid")
    withRulesOn {
      val plan = q.queryExecution.optimizedPlan.toString
      // Catalyst's own isnotnull inference may add a fact-side Filter; the
      // law is that no DATE-literal bound appears (the dim's timestamp
      // literal renders with a time component, so it cannot match this)
      assert(!"2000-01-05\\)".r.findFirstIn(plan).isDefined,
        s"off-image literal was inverted (unsound round-trip):\n$plan")
      val got = q.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      assert(got === Seq((1, 10)), s"wrong matches: $got")
    }
  }

  test("equality bound feeds the non-equi derivation (a = c acts as both bounds)") {
    import spark.implicits._
    val left = Seq((0, 4), (1, 6), (2, 9)).toDF("id", "x")
    val right = Seq((10, 5), (11, 5)).toDF("rid", "y").filter($"y" === 5)
    val q = left.join(right, $"x" > $"y").select("id", "rid")
    val (plan, on) = withRulesOn {
      (q.queryExecution.optimizedPlan.toString,
        q.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq)
    }
    assert("#\\d+ > 5\\)".r.findFirstIn(plan).isDefined,
      s"equality did not contribute a lower bound:\n$plan")
    assert(on === Seq((1, 10), (1, 11), (2, 10), (2, 11)))
    val off = withRulesOff {
      q.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    assert(on === off)
  }

  test("int-vs-long coercion: widened literal bound inverts to the int side") {
    import spark.implicits._
    // x is int, y is long: the analyzer compares as longs via
    // Cast(x AS bigint) > y; the bound y >= 5L must invert to int 5 on x.
    val left = Seq((0, 4), (1, 6)).toDF("id", "x")
    val right = Seq((10, 5L)).toDF("rid", "y").filter($"y" >= 5L)
    val q = left.join(right, $"x" > $"y").select("id", "rid")
    val on = withRulesOn {
      q.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    assert(on === Seq((1, 10)), s"unexpected matches: $on")
    val off = withRulesOff {
      q.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    assert(on === off, "widened-literal inversion changed results")
    // overflow guard: a bound beyond int range must NOT invert
    val bigRight = Seq((10, 5000000000L)).toDF("rid", "y")
      .filter($"y" >= 5000000000L)
    val bigPlan = withRulesOn {
      left.join(bigRight, $"x" > $"y").select("id", "rid")
        .queryExecution.optimizedPlan.toString
    }
    // 5000000000 overflows int: the TRY-mode down-cast nulls out, so after
    // removing the dim's own literal no numeric comparison may remain (a
    // wrapped-around or truncated inversion would leave one)
    val residue = bigPlan.replace("5000000000", "")
    assert(!"[<>]=? -?\\d".r.findFirstIn(residue).isDefined,
      s"out-of-range literal inverted into int domain:\n$bigPlan")
  }

  // ------------------------------------------- survivor-collapsed twins
  /** A duplicate-injected corpus: every 20th sf0.001 doc is cloned twice
    * under fresh doc_ids (df stays far under the posting cap, so the cap
    * is provably inert on both the member and the survivor universe).
    */
  private lazy val dupCorpusDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("dup_corpus").toString
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val picks = base.filter(col("doc_id") % 20 === 0)
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    val clones = picks.withColumn("doc_id", col("doc_id") + lit(maxId + 1))
      .unionByName(picks.withColumn("doc_id", col("doc_id") + lit(2 * maxId + 2)))
    base.unionByName(clones).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("collapsed jaccard twin reconstructs the pair query exactly on a dup-injected corpus") {
    // Law: mapping every member-level pair of dedup_ngram_jaccard through
    // doc -> survivor and counting must reproduce the collapsed rows
    // exactly — same (i, j) keys, same similarity, same n_pairs — and
    // nothing else. This is the member-reconstruction guarantee that lets
    // the collapsed form replace the quadratic pair listing at scale.
    val memberMap = ops.Dedup.shingleArrays(spark, dupCorpusDir)
      .select(col("doc_id"), sort_array(col("sh")).as("key"))
      .join(ops.Dedup.setClasses(spark, dupCorpusDir), "key")
      .select("doc_id", "sid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = ops.Dedup.jaccardPairs(spark, dupCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "dup injection produced no near-dup pairs")
    val expected = pairs.groupBy { case (a, b, _) =>
      val (sa, sb) = (memberMap(a), memberMap(b))
      (math.min(sa, sb), math.max(sa, sb))
    }.map { case (k, vs) =>
      val sims = vs.map(_._3).distinct
      assert(sims.size == 1,
        s"member pairs of survivor pair $k disagree on jaccard: $sims")
      (k._1, k._2, sims.head, vs.size.toLong)
    }.toSet
    val collapsed = ops.Dedup.jaccardCollapsed(spark, dupCorpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(collapsed === expected,
      s"collapsed != expanded-pair reconstruction\n  missing: ${(expected -- collapsed).take(5)}\n  extra: ${(collapsed -- expected).take(5)}")
  }

  test("collapsed twins equal the pair queries on the dup-free corpus (degenerate law)") {
    // On sf0.001 every class has m = 1: no intra rows, n_pairs all 1, and
    // dropping n_pairs must give exactly the pair-listing relation.
    val pairCols = Seq("i", "j", "jaccard")
    val a = ops.Dedup.jaccardPairs(spark, sfDir).select(pairCols.map(col): _*)
      .collect().map(_.toSeq).toSeq
    val b = ops.Dedup.jaccardCollapsed(spark, sfDir)
      .select(pairCols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(a === b, "jaccard collapsed != pairs on a dup-free corpus")
    val nPairs = ops.Dedup.jaccardCollapsed(spark, sfDir)
      .agg(max("n_pairs"), min("n_pairs")).head()
    assert(nPairs.getLong(0) == 1 && nPairs.getLong(1) == 1)
    val c = ops.Dedup.containmentPairs(spark, sfDir).drop("na", "nb")
      .collect().map(_.toSeq).toSeq
    val d = ops.Dedup.containmentCollapsed(spark, sfDir)
      .drop("na", "nb", "n_pairs").collect().map(_.toSeq).toSeq
    assert(c === d, "containment collapsed != pairs on a dup-free corpus")
    val e = ops.Dedup.shingleCosinePairs(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val f = ops.Dedup.shingleCosineCollapsed(spark, sfDir).drop("n_pairs")
      .collect().map(_.toSeq).toSeq
    assert(e === f, "cosine collapsed != pairs on a dup-free corpus")
  }

  test("cosine collapse separates set-identical docs with different tf vectors") {
    // Two docs with the SAME shingle set but different repeat counts must
    // NOT share a multiset class (cosine is tf-weighted), while the set
    // classes DO merge them. 21 tokens of a,b,...: doc 2 repeats the
    // 17-token body twice, so its 5-gram multiset doubles every tf but
    // first/last boundary shingles differ in count only, not identity.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tf_sep").toString
    val body = (0 until 17).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, body),
      (2L, body + " " + body), // same shingle set? no — crossing shingles differ
      (3L, body)
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val setCls = ops.Dedup.setClasses(spark, dir).collect()
    val msCls = ops.Dedup.multisetClasses(spark, dir).collect()
    // docs 1 and 3 are byte-identical: both collapses must merge them
    assert(setCls.exists(r => r.getAs[Long]("sid") == 1L && r.getAs[Long]("m") == 2L),
      s"set classes did not merge the identical docs: ${setCls.mkString(",")}")
    assert(msCls.exists(r => r.getAs[Long]("sid") == 1L && r.getAs[Long]("m") == 2L),
      s"multiset classes did not merge the identical docs: ${msCls.mkString(",")}")
    assert(msCls.length == 2 && setCls.length == 2)
  }

  test("GraftSession posture: bloom ceilings always set, patient timeouts local-only") {
    // BloomFilterAggregate silently clamps to these confs (the r12 ADVICE
    // finding): the builder must raise them everywhere, but the patient
    // heartbeat/network timeouts are a single-JVM-local rationale and must
    // NOT ship to a cluster master where they would delay dead-executor
    // detection by 20 minutes.
    val local = graftSessionOptions("local[8]")
    assert(local("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      == (256L << 20).toString)
    assert(local("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      == (32L << 20).toString)
    assert(local.contains("spark.network.timeout") &&
      local.contains("spark.executor.heartbeatInterval"))
    val cluster = graftSessionOptions("spark://host:7077")
    assert(cluster("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      == (256L << 20).toString, "bloom ceilings must apply on clusters too")
    assert(!cluster.contains("spark.network.timeout") &&
      !cluster.contains("spark.executor.heartbeatInterval"),
      "patient single-JVM timeouts leaked into a cluster posture")
  }

  test("collapse-first clusterMap equals the definitional member-level components") {
    // The r17 sf10 sweep watched the definitional form (components over
    // the member pair list) spill ~40 GB on a replica corpus; the
    // collapse-first form runs components over the survivor graph and
    // expands members afterward. The law: identical (doc_id, cluster_rep)
    // relations on a duplicate-injected corpus — same nodes (cross-edge
    // classes AND intra-only m>=2 classes), same component minima.
    val fast = ops.DedupClusters.clusterMap(spark, dupCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val slow = ops.DedupClusters.clusterMapDefinitional(spark, dupCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fast.nonEmpty, "dup injection produced no clusters")
    assert(fast === slow,
      s"collapse-first diverged: fast=${fast.size} rows slow=${slow.size} rows; " +
        s"first diff=${fast.zip(slow).find(p => p._1 != p._2)}")
    // non-vacuity: the injected clones must appear as m>=3 clusters
    val groups = fast.groupBy(_._2).values.map(_.size)
    assert(groups.exists(_ >= 3), s"no multi-member cluster: ${groups.toSeq.sorted}")
  }

  test("collapse-first curatedCorpus equals the definitional pair-restricted form") {
    // The curation family's loser rule ("drop j iff a passing i < j pairs
    // with it") now derives from class passing-minima + survivor edges;
    // the law pins identity with the pair form on the dup-injected corpus
    // (where intra-class losers actually exist) including the kept-count
    // arithmetic downstream queries aggregate.
    val fast = ops.Curation.curatedCorpus(spark, dupCorpusDir)
      .collect().map(_.toSeq).toSeq
    val slow = ops.Curation.curatedCorpusDefinitional(spark, dupCorpusDir)
      .collect().map(_.toSeq).toSeq
    assert(fast.nonEmpty && fast === slow,
      s"collapse-first curation diverged: fast=${fast.size} slow=${slow.size}")
    // non-vacuity: the clones must actually lose members vs the base corpus
    val base = ops.Curation.curatedCorpus(spark, sfDir).count()
    assert(fast.size < base + 50, "dup injection dropped nothing")
  }

  test("member-weighted df cap: collapsed == pair expansion where the caps diverge") {
    // The one corpus shape where a survivor-frequency cap and the
    // member-weighted cap give DIFFERENT answers: two classes of 600
    // identical docs sharing 8 of their 9 shingles. Member-df of every
    // shared shingle is 1200 > PostingDfCap (capped away, so the pair
    // query finds NO cross pair — each class keeps only its unique
    // shingle), while survivor-df is 2 (a survivor-frequency cap would
    // keep them and emit a cross pair at jaccard 8/10 = 0.8). The law:
    // the collapsed twin must agree with the member-level pair query —
    // zero cross rows, and each class's intra row carries exactly
    // C(600,2) member pairs, matching the pair query's count.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cap_diverge").toString
    val aText = (1 to 13).map(i => s"a$i").mkString(" ")
    val bText = ((1 to 12).map(i => s"a$i") :+ "b13").mkString(" ")
    val docs = (0 until 600).map(i => (i.toLong * 2, aText)) ++
      (0 until 600).map(i => (i.toLong * 2 + 1, bText))
    docs.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val collapsed = ops.Dedup.jaccardCollapsed(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(collapsed.forall(r => r._1 == r._2),
      s"cross survivor pair emitted through member-capped shingles: " +
        s"${collapsed.filter(r => r._1 != r._2).toSeq}")
    assert(collapsed.length == 2 &&
      collapsed.forall(r => r._3 == 1.0 && r._4 == 600L * 599 / 2),
      s"intra rows wrong: ${collapsed.toSeq}")
    val pairs = ops.Dedup.jaccardPairs(spark, dir).count()
    assert(pairs == 2L * (600L * 599 / 2),
      s"pair query disagrees with expansion arithmetic: $pairs")
  }
}
