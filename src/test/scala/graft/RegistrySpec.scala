package graft

/** Registry-wide smoke: every declared query runs at sf0.001 and returns a
  * stable, non-degenerate result. The value-level gate is the DuckDB oracle
  * compare (scripts/check.py / driver t2); this spec catches regressions
  * cheaply inside `sbt test`.
  */
class RegistrySpec extends SparkSpec {

  test("every query declares either an oracle or a documented rows-only check") {
    assert(Registry.all.nonEmpty)
    val noOracle = Registry.all.collect { case (n, QueryDef(_, None)) => n }
    // keep the rows-only list deliberate and small: each entry is a
    // sketch whose internals are engine-specific, gated instead by an
    // error-bound law against its exact hash-checked twin
    // (Round7PropertySpec for the two approx aggregates,
    // Round10PropertySpec for the HLL union laws,
    // Round11PropertySpec for the Count-Min and KLL laws,
    // Round12PropertySpec for the HLL inclusion–exclusion law)
    assert(noOracle.forall(
      Set("approx_count_distinct", "stats_approx_percentiles",
        "stats_hll_mergeable", "stats_hll_intersection",
        "stats_cms_heavyhitters", "stats_kll_quantiles").contains),
      s"unexpected oracle-less queries: $noOracle")
  }

  for ((name, q) <- Registry.all.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 with rows > 0") {
      val df = q.fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry() smoke (driver t1 contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql only references declared queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every ops module's queries map is merged into Registry.all, no collisions") {
    // the round-5 mv_join_delta lost-registration bug, automated: find every
    // `object X` in ops/*.scala source, reflectively load its `queries` map,
    // and require (a) each key reachable from SparkEntry.queries and (b) the
    // per-module sizes sum to the registry size — Map ++ silently overwrites
    // colliding keys, so a bare subset check cannot catch a collision
    val srcDir = Seq("src/main/scala/graft/ops",
        "/root/repo/src/main/scala/graft/ops")
      .map(new java.io.File(_)).find(_.isDirectory)
      .getOrElse(fail("ops source dir not found from test working dir"))
    val objNames = srcDir.listFiles.filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        "(?m)^object (\\w+)".r.findAllMatchIn(text).map(_.group(1))
      }.toSeq
    assert(objNames.nonEmpty)
    val withQueries = objNames.flatMap { n =>
      val clazz = Class.forName(s"graft.ops.$n$$")
      val module = clazz.getField("MODULE$").get(null)
      try {
        val m = clazz.getMethod("queries")
        Some(n -> m.invoke(module).asInstanceOf[Map[String, QueryDef]])
      } catch { case _: NoSuchMethodException => None }
    }
    assert(withQueries.size >= 20, s"suspiciously few query modules: $withQueries")
    for ((mod, qs) <- withQueries; k <- qs.keys)
      assert(SparkEntry.queries.contains(k),
        s"$mod declares query '$k' but it is not reachable from SparkEntry.queries")
    val moduleSum = withQueries.map(_._2.size).sum
    assert(moduleSum == Registry.all.size,
      s"module maps total $moduleSum but Registry.all has ${Registry.all.size} " +
        "- a key collision dropped entries in the ++ merge")
  }

  test("registry size matches the README claim") {
    val readme = Seq("README.md", "/root/repo/README.md")
      .map(new java.io.File(_)).find(_.isFile)
      .getOrElse(fail("README.md not found"))
    val src = scala.io.Source.fromFile(readme, "UTF-8")
    val text = try src.mkString finally src.close()
    val claimed = "Registered queries: (\\d+)".r.findFirstMatchIn(text)
      .getOrElse(fail("README lost its 'Registered queries: N' line"))
      .group(1).toInt
    assert(claimed == Registry.all.size,
      s"README claims $claimed queries, Registry.all has ${Registry.all.size}")
  }
}
