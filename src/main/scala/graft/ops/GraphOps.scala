package graft.ops

import graft.{QueryDef, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics expressed as composed DataFrame plans — the
  * family that proves the engine can run fixed-point algorithms (PageRank,
  * label propagation, connected components) without leaving Catalyst: each
  * power iteration is a join + aggregate, the loop unrolls in the driver,
  * and AQE still optimizes every stage. `DedupClusters` holds the
  * label-propagation sibling; this module holds weighted PageRank.
  *
  * Cross-engine exactness: ranks live on an integer 1e-9 grid and edge
  * shares on an integer 1e-6 grid; every step is integer multiply +
  * integral division (`div` / DuckDB `//`), so three iterations produce
  * bit-identical longs in any engine — no float accumulation anywhere.
  */
object GraphOps {

  private val Scale = 1000000000L // rank mass = 1e9 units per graph

  /** Weighted PageRank (damping 0.85, 3 unrolled power iterations) over the
    * international trade graph: nations are nodes; an edge u→v carries the
    * lineitem revenue supplied by nation u to customers of nation v. Edge
    * building is the q7-shape star join (fact scan + broadcast dims) and
    * aggregates straight to the (25×25-bounded) edge list, so the fact
    * table is read ONCE and never shuffled by more than (u, v).
    *
    * Each iteration folds ranks through the out-going SHARE table (share =
    * w·1e6 div out-weight, dollar-granularity weights) and re-aggregates
    * per destination — at a 100 TB fact scale the iteration cost is
    * O(edges), independent of the corpus, because the heavy reduction
    * happened once at edge-build time; since |edges| is nation²-bounded
    * the iterations run on the collected edge list (see inline note).
    * The 1e-6 share grid keeps every product within int64 up to ~1e12
    * dollars of single-edge mass; beyond that, coarsen the grid or lift
    * shares to decimal.
    *
    * Rank mass: teleport = (15·Scale) div (100·N) to each node, 85% of
    * each node's rank distributed by share, and DANGLING mass (nodes with
    * no out-edges — at small SFs most nations have customers but no
    * suppliers) redistributed uniformly each step, the textbook
    * completion; without it the dangling nodes bleed the graph (73% of
    * mass gone in 3 iterations at sf0.001). Total mass is conserved up to
    * integral-division remainders (< 1e-4·Scale per step — the mass law in
    * Round5PropertySpec pins it). Deterministic; the oracle replays the
    * identical arithmetic.
    */
  def pagerankNations(s: SparkSession, dir: String): DataFrame = {
    val edges = directedTradeWeights(s, dir)
      .withColumn("w6", expr("wc div 100"))
      .filter(col("w6") > 0)
    // The nation graph is STRUCTURALLY bounded: |edges| ≤ |nation|² = 625
    // rows whatever the fact scale — all O(100 TB) work is the single
    // edge-build reduction above. r7's plan audit showed the remaining
    // cost was pure stage COUNT (three unrolled iterations × several tiny
    // checkpointed joins each); like DedupClusters.driverUnionFind, the
    // iterations now run on the collected edge list. Everything is scaled
    // INTEGER arithmetic (div on non-negative longs), so the result is
    // bit-identical to the former DataFrame unrolling and to the oracle's
    // replay — the hash-compare proves it.
    val edgeList: Array[(Int, Int, Long)] = edges
      .select(col("u").cast("int"), col("v").cast("int"), col("w6"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    require(edgeList.length <= 1000000, // nation²-bounded; guard regardless
      s"pagerank edge list unexpectedly large (${edgeList.length})")
    val outw: Map[Int, Long] = edgeList.groupBy(_._1)
      .map { case (u, es) => u -> es.iterator.map(_._3).sum }
    val shares: Array[(Int, Int, Long)] = edgeList.map { case (u, v, w6) =>
      (u, v, (w6 * 1000000L) / outw(u))
    }
    val nodes: Array[Int] =
      (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct.sorted
    val nn = nodes.length.toLong
    val teleport = (15L * Scale) / (100L * nn)
    var ranks: Map[Int, Long] = nodes.map(n => n -> Scale / nn).toMap
    for (_ <- 1 to 3) {
      // per-edge floor-div BEFORE the sum — the exact order of the former
      // DataFrame expression `sum((ru * share) div 1000000)`
      val contribs: Map[Int, Long] = shares.groupBy(_._2).map {
        case (v, es) =>
          v -> es.iterator.map { case (u, _, sh) =>
            (ranks(u) * sh) / 1000000L
          }.sum
      }
      val dangling = nodes.iterator
        .filterNot(outw.contains).map(ranks).sum
      ranks = nodes.map { n =>
        n -> (teleport + (85L * contribs.getOrElse(n, 0L)) / 100L +
          (85L * dangling) / (100L * nn))
      }.toMap
    }
    import s.implicits._
    nodes.map(n => (n, ranks(n))).toSeq.toDF("nk", "r")
      .join(broadcast(Registry.table(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))), "nk")
      .select(col("n_name"), col("r").as("rank_scaled"),
        (col("r").cast("double") / 1e9).as("pagerank"))
      .orderBy(col("rank_scaled").desc, col("n_name"))
  }

  private val pagerankOracle = s"""
WITH edges AS (
  SELECT u, v, CAST(sum(c) AS BIGINT) // 100 AS w6
  FROM (
    SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
      CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer cu ON o.o_custkey = cu.c_custkey)
  GROUP BY u, v
  HAVING CAST(sum(c) AS BIGINT) // 100 > 0),
outw AS (SELECT u, CAST(sum(w6) AS BIGINT) AS wu FROM edges GROUP BY u),
shares AS (
  SELECT e.u, e.v, (e.w6 * 1000000) // o.wu AS share
  FROM edges e JOIN outw o ON e.u = o.u),
nodes AS (SELECT u AS nk FROM edges UNION SELECT v FROM edges),
tot AS (SELECT count(*) AS nn FROM nodes),
r0 AS (SELECT nk, $Scale // nn AS r FROM nodes CROSS JOIN tot),
d1 AS (
  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dg
  FROM r0 r WHERE r.nk NOT IN (SELECT u FROM outw)),
c1 AS (
  SELECT sh.v, CAST(sum((r.r * sh.share) // 1000000) AS BIGINT) AS sc
  FROM shares sh JOIN r0 r ON r.nk = sh.u GROUP BY sh.v),
r1 AS (
  SELECT n.nk,
    ${15 * Scale} // (100 * nn) + (85 * coalesce(c.sc, 0)) // 100
      + (85 * dg) // (100 * nn) AS r
  FROM nodes n CROSS JOIN tot CROSS JOIN d1 LEFT JOIN c1 c ON c.v = n.nk),
d2 AS (
  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dg
  FROM r1 r WHERE r.nk NOT IN (SELECT u FROM outw)),
c2 AS (
  SELECT sh.v, CAST(sum((r.r * sh.share) // 1000000) AS BIGINT) AS sc
  FROM shares sh JOIN r1 r ON r.nk = sh.u GROUP BY sh.v),
r2 AS (
  SELECT n.nk,
    ${15 * Scale} // (100 * nn) + (85 * coalesce(c.sc, 0)) // 100
      + (85 * dg) // (100 * nn) AS r
  FROM nodes n CROSS JOIN tot CROSS JOIN d2 LEFT JOIN c2 c ON c.v = n.nk),
d3 AS (
  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dg
  FROM r2 r WHERE r.nk NOT IN (SELECT u FROM outw)),
c3 AS (
  SELECT sh.v, CAST(sum((r.r * sh.share) // 1000000) AS BIGINT) AS sc
  FROM shares sh JOIN r2 r ON r.nk = sh.u GROUP BY sh.v),
r3 AS (
  SELECT n.nk,
    ${15 * Scale} // (100 * nn) + (85 * coalesce(c.sc, 0)) // 100
      + (85 * dg) // (100 * nn) AS r
  FROM nodes n CROSS JOIN tot CROSS JOIN d3 LEFT JOIN c3 c ON c.v = n.nk)
SELECT na.n_name, r3.r AS rank_scaled,
  CAST(r3.r AS DOUBLE) / 1e9 AS pagerank
FROM r3 JOIN nation na ON na.n_nationkey = r3.nk
ORDER BY rank_scaled DESC, n_name
"""

  /** Triangle count + local clustering coefficient over the undirected
    * nation trade graph — the second classic fixed-point-free graph
    * statistic (community density) after PageRank's centrality. Edge build
    * is the same q7-shape star join as [[pagerankNations]]: the fact table
    * is scanned ONCE and reduced straight to the ≤ 25×25 directed edge
    * list; everything after operates on that bounded list.
    *
    * Undirected edges: symmetrize with (least, greatest) and keep pairs
    * whose combined trade is ≥ the MEAN edge weight — a data-driven,
    * scale-free threshold (`w · n_edges ≥ total_w` in exact int64; w tops
    * out ~1e10 cents and n_edges ≤ 300 at any SF, far inside headroom),
    * so the graph is neither complete nor empty at every scale factor.
    *
    * Triangles a<b<c enumerate as path join (a,b)⋈(b,c) + LEFT SEMI probe
    * of the closing edge (a,c) — each triangle counted exactly once, no
    * post-dedup. On a nation graph all three joins are broadcast-sized; on
    * a general 100 TB graph this is the standard edge-oriented triangle
    * join whose cost is Σ deg(u)·deg(v) over edges — the node-iterator
    * bound — and it shuffles only edge keys, never adjacency lists.
    * Clustering = 2T / (deg·(deg−1)): exact integer numerator/denominator,
    * ONE IEEE division; null for degree-1 nodes (undefined, not 0).
    */
  /** Shared edge build for the undirected-graph queries: the fact table is
    * scanned ONCE and reduced to the ≤300-pair symmetrized trade graph
    * behind a checkpoint, then thresholded at the MEAN edge weight
    * (`w · n_edges ≥ total_w`, exact int64) — data-driven and scale-free,
    * because the raw nation graph is COMPLETE at every SF (measured), so
    * only a relative cut yields interesting structure.
    */
  /** Session memo of the thresholded edge list: four graph queries
    * (triangles, link prediction, label propagation, k-core) consume the
    * identical ≤300-row edge build, so the fact scan + symmetrize +
    * threshold job runs ONCE per session instead of once per query (the
    * `DedupClusters.clusterCache` pattern).
    */
  private val edgeCache = new graft.FrameMemo

  private def thresholdedTradeEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir)(thresholdedTradeEdgesUncached(s, dir))

  /** Directed nation-pair trade weights (u, v, wc) — the ONE O(fact)
    * reduction of the whole graph family: lineitem ⋈ supplier ⋈ orders ⋈
    * customer → groupBy(supplier nation, customer nation) → Σ cents. Both
    * pagerank (directed, div-100 scaled) and the thresholded undirected
    * edge list (symmetrize then re-sum — exact: int64 sums of sums
    * commute) derive from it, so the fact scan runs once per (session,
    * corpus) instead of once per entry-point. ≤ nation² = 625 rows out.
    */
  private val directedCache = new graft.FrameMemo

  private[graft] def directedTradeWeights(
      s: SparkSession, dir: String): DataFrame =
    directedCache.getOrElseUpdate(s, dir) {
      val cents = (col("l_extendedprice")
        .cast(org.apache.spark.sql.types.DecimalType(30, 2)) * 100)
        .cast("long")
      val li = Registry.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), cents.as("c"))
      val sup = Registry.table(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("u"))
      val ord = Registry.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = Registry.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("v"))
      // supplier stays hinted (bounded-ish dim); customer joins by AQE
      // stats — it scales with the corpus (15M rows at sf100)
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord.join(cust,
          col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("u", "v").agg(sum("c").as("wc"))
    }

  private def thresholdedTradeEdgesUncached(
      s: SparkSession, dir: String): DataFrame = {
    val und = directedTradeWeights(s, dir)
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("wc").as("c"))
      .groupBy("a", "b").agg(sum("c").as("w"))
    val tot = und.agg(count(lit(1)).as("ne"), sum("w").as("tw"))
    und.crossJoin(broadcast(tot))
      .filter(col("w") * col("ne") >= col("tw"))
      .select("a", "b")
  }

  def triangleClustering(s: SparkSession, dir: String): DataFrame = {
    val edges = thresholdedTradeEdges(s, dir)
    val paths = edges
      .join(edges.toDF("b", "c"), "b") // a<b and b<c ⇒ a<b<c, each once
    val tris = paths.join(edges.toDF("a", "c"), Seq("a", "c"), "left_semi")
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("nk"))
      .groupBy("nk").agg(count(lit(1)).as("triangles"))
    val degrees = edges.select(col("a").as("nk"))
      .union(edges.select(col("b").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("degree"))
    degrees
      .join(perNode, Seq("nk"), "left_outer")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .join(broadcast(Registry.table(s, dir, "nation")
        .select(col("n_nationkey").as("nk"), col("n_name"))), "nk")
      .select(col("n_name"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .as("clustering"))
      .orderBy("n_name")
  }

  private val triangleOracle = """
WITH e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b,
    CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS (
  SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
tris AS (
  SELECT p.a, p.b, p.c
  FROM (SELECT e1.a, e1.b, e2.b AS c
        FROM edges e1 JOIN edges e2 ON e1.b = e2.a) p
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = p.a AND e3.b = p.c)),
per_node AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT a AS nk FROM tris UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
  GROUP BY nk),
degrees AS (
  SELECT nk, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS nk FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY nk)
SELECT na.n_name, d.degree,
  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
  CASE WHEN d.degree >= 2
    THEN CAST(coalesce(p.triangles, 0) * 2 AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
  END AS clustering
FROM degrees d
LEFT JOIN per_node p ON p.nk = d.nk
JOIN nation na ON na.n_nationkey = d.nk
ORDER BY n_name
"""

  /** Jaccard link prediction on the thresholded trade graph: for every
    * NON-adjacent nation pair, score = |N(a)∩N(b)| / |N(a)∪N(b)| over
    * neighbor sets — the classic "which edge appears next" baseline, and
    * the third member of the graph family (centrality → density → link
    * prediction). Shares [[triangleClustering]]'s edge build verbatim
    * (fact scanned once, mean-weight threshold).
    *
    * Common-neighbor counting is the wedge join (adj ⋈ adj on the shared
    * endpoint — Σ deg² work, the node-iterator bound again); the union
    * size comes from degrees by inclusion–exclusion, NOT a second join:
    * `|N(a)∪N(b)| = deg(a)+deg(b)−inter`. Non-adjacency is one LEFT ANTI
    * against the edge list. Exact integer counts, ONE IEEE division per
    * scored pair; top-20 by (jaccard, a, b) so ties are total.
    */
  def jaccardLinks(s: SparkSession, dir: String): DataFrame = {
    val edges = thresholdedTradeEdges(s, dir)
    val adj = edges.select(col("a").as("n"), col("b").as("nb"))
      .union(edges.select(col("b").as("n"), col("a").as("nb")))
      .localCheckpoint()
    val deg = adj.groupBy("n").agg(count(lit(1)).as("d"))
    // wedge join: common neighbors of every ordered pair a<b
    val inter = adj.toDF("x", "w1")
      .join(adj.toDF("y", "w2"), col("w1") === col("w2") && col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(edges, Seq("a", "b"), "left_anti") // predicted links only
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("da") + col("db") - col("inter")).as("uni"),
        (col("inter").cast("double") /
          (col("da") + col("db") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  private val jaccardOracle = """
WITH e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b, CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
adj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n),
inter AS (
  SELECT x.n AS a, y.n AS b, CAST(count(*) AS BIGINT) AS inter
  FROM adj x JOIN adj y ON x.nb = y.nb AND x.n < y.n
  GROUP BY 1, 2),
scored AS (
  SELECT i.a, i.b, i.inter, da.d + db.d - i.inter AS uni,
    CAST(i.inter AS DOUBLE) / CAST(da.d + db.d - i.inter AS DOUBLE)
      AS jaccard
  FROM inter i
  JOIN deg da ON da.n = i.a
  JOIN deg db ON db.n = i.b
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e2 WHERE e2.a = i.a AND e2.b = i.b))
SELECT a, b, inter, uni, jaccard
FROM scored
ORDER BY jaccard DESC, a ASC, b ASC LIMIT 20
"""

  /** Synchronous label propagation (community detection) on the thresholded
    * trade graph — the fourth graph-family member (centrality → density →
    * link prediction → communities). Every node starts labeled with its own
    * id; each of the 3 unrolled rounds relabels every node with the MOST
    * FREQUENT label among its neighbors, ties broken by smallest label —
    * the deterministic variant of classic LPA (raw LPA tie-breaks
    * randomly, which would be oracle-hostile; min-tiebreak is the standard
    * derandomization).
    *
    * Scale shape: shares [[thresholdedTradeEdges]]'s scan-once edge build
    * (the only O(fact) work); the three synchronous vote rounds are
    * integer arg-max counts on the nation-bounded edge list, so they run
    * on [[collectedTradeEdges]] — bit-identical to the former per-round
    * join + window unrolling (most-frequent neighbor label, ties to the
    * smallest; the oracle hash-compare proves parity). On a graph that
    * GROWS with the data — not this one — the distributed round shape is
    * `DedupClusters.labelPropagation`.
    */
  def labelPropagation(s: SparkSession, dir: String): DataFrame = {
    val adj: Array[(Int, Int)] = collectedTradeEdges(s, dir)
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    var labels: Map[Int, Int] = adj.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      // synchronous: every node votes over its neighbors' PREVIOUS labels
      labels = adj.groupBy(_._1).map { case (n, nbs) =>
        val votes = nbs.groupBy(x => labels(x._2))
          .map { case (l, vs) => (l, vs.length) }
        n -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = labels.values.groupBy(identity)
      .map { case (l, vs) => l -> vs.size.toLong }
    import s.implicits._
    labels.toSeq.sortBy(_._1)
      .map { case (n, l) => (n, l.toLong, sizes(l)) }
      .toDF("n", "community", "community_size")
      .join(broadcast(Registry.table(s, dir, "nation")
        .select(col("n_nationkey").as("n"), col("n_name"))), "n")
      .select(col("n_name"), col("community"), col("community_size"))
      .orderBy("n_name")
  }

  private val lpaOracle = {
    def round(prev: String, out: String) = s"""
$out AS MATERIALIZED (
  SELECT n, lbl FROM (
    SELECT a.n, l.lbl, count(*) AS cnt,
      row_number() OVER (PARTITION BY a.n
        ORDER BY count(*) DESC, l.lbl ASC) AS rn
    FROM adj a JOIN $prev l ON l.n = a.nb
    GROUP BY a.n, l.lbl)
  WHERE rn = 1)"""
    s"""
WITH e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b, CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
adj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges),
lab0 AS (SELECT DISTINCT n, n AS lbl FROM adj),
${round("lab0", "lab1")},
${round("lab1", "lab2")},
${round("lab2", "lab3")},
sizes AS (
  SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
  FROM lab3 GROUP BY lbl)
SELECT na.n_name, CAST(l.lbl AS BIGINT) AS community, sz.community_size
FROM lab3 l
JOIN sizes sz ON sz.lbl = l.lbl
JOIN nation na ON na.n_nationkey = l.n
ORDER BY n_name
"""
  }

  /** The thresholded edge list, collected: nation-bounded (≤ |nation|²/2
    * undirected pairs) at ANY fact scale, so the iterative graph queries
    * run their rounds on it driver-side — the pagerank /
    * `DedupClusters.driverUnionFind` discipline. The distributed edge
    * BUILD (the only O(fact) work) still runs once per session via
    * [[thresholdedTradeEdges]]'s memo; only the ≤300-row result crosses
    * to the driver. Non-iterative consumers (triangles, link prediction)
    * stay as single-pass distributed joins — the collapse only pays where
    * per-round stage count dominates.
    */
  private def collectedTradeEdges(s: SparkSession, dir: String): Array[(Int, Int)] = {
    val rows = thresholdedTradeEdges(s, dir)
      .select(col("a").cast("int"), col("b").cast("int")).collect()
    require(rows.length <= 1000000, // nation²-bounded; guard regardless
      s"trade edge list unexpectedly large (${rows.length})")
    rows.map(r => (r.getInt(0), r.getInt(1)))
  }

  /** 3-core decomposition of the thresholded trade graph — the density
    * filter a graph pipeline runs before community work: iteratively
    * drop nodes of degree < 3 (each removal can push neighbors below the
    * bar, hence the rounds) and report who survives. The three synchronous
    * prune rounds are pure degree counts on the nation-bounded edge list,
    * so they run on [[collectedTradeEdges]] (bit-identical to the former
    * per-round semi-join unrolling — integer counts only; the oracle
    * hash-compare proves it). Output is anchored on all 25 nations
    * (`in_core` flag + post-prune degree) so convergence is visible in
    * the row set.
    */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    var adj: Array[(Int, Int)] = collectedTradeEdges(s, dir)
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    for (_ <- 1 to 3) {
      // synchronous round: keep-set from the CURRENT adjacency, then both
      // endpoints filtered against that same set
      val keep = adj.groupBy(_._1).collect {
        case (n, xs) if xs.length >= 3 => n
      }.toSet
      adj = adj.filter { case (n, nb) => keep(n) && keep(nb) }
    }
    val coreDeg = adj.groupBy(_._1).map { case (n, xs) => n -> xs.length.toLong }
    import s.implicits._
    val degDf = coreDeg.toSeq.sortBy(_._1).toDF("n", "core_degree")
    Registry.table(s, dir, "nation")
      .select(col("n_nationkey").as("n"), col("n_name"))
      .join(broadcast(degDf), Seq("n"), "left_outer")
      .select(col("n_name"),
        col("core_degree").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .orderBy("n_name")
  }

  private val kcoreOracle = {
    def round(prev: String, out: String) = s"""
keep$out AS MATERIALIZED (
  SELECT n FROM (SELECT n, count(*) AS deg FROM $prev GROUP BY n)
  WHERE deg >= 3),
$out AS MATERIALIZED (
  SELECT a.n, a.nb FROM $prev a
  WHERE a.n IN (SELECT n FROM keep$out)
    AND a.nb IN (SELECT n FROM keep$out))"""
    s"""
WITH e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b, CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
adj0 AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges),
${round("adj0", "adj1")},
${round("adj1", "adj2")},
${round("adj2", "adj3")},
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS core_degree
  FROM adj3 GROUP BY n)
SELECT na.n_name, d.n IS NOT NULL AS in_core,
  coalesce(d.core_degree, 0) AS core_degree
FROM nation na
LEFT JOIN deg d ON d.n = na.n_nationkey
ORDER BY n_name
"""
  }

  /** Undirected adjacency over [[collectedTradeEdges]] — shared by the two
    * BFS consumers below.
    */
  private def undirectedAdj(s: SparkSession, dir: String): Map[Int, Array[Int]] =
    collectedTradeEdges(s, dir)
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }

  /** Hop distances from `src` — THE frontier loop, one definition for
    * single-source ([[bfsHops]]) and all-sources ([[closenessCentrality]])
    * traversals (was hand-copied in both).
    */
  private def bfsFrom(adj: Map[Int, Array[Int]], src: Int)
      : scala.collection.mutable.Map[Int, Long] = {
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = List(src)
    var h = 0L
    while (frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Int]))
        .distinct.filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h)
    }
    dist
  }

  /** BFS hop distances from nation 0 over the thresholded trade graph —
    * the reachability/shortest-path primitive the family lacked. The
    * frontier rounds run on [[collectedTradeEdges]] (the adjudicated
    * driver-side pattern: the node set is structurally ≤|nation| at ANY
    * fact scale, the O(fact) edge build stays distributed and
    * session-memoized); the oracle is an independently-expressed
    * `WITH RECURSIVE` walk with `min(hops)` per node, so the hash compare
    * certifies the whole traversal. Unreached nations report hops = −1,
    * anchoring the full nation list in the row set.
    */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val dist = bfsFrom(undirectedAdj(s, dir), 0)
    import s.implicits._
    val d = dist.toSeq.map { case (n, hh) => (n.toLong, hh) }
      .toDF("n", "hops")
    Registry.table(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .join(broadcast(d), col("n_nationkey") === col("n"), "left_outer")
      .select(col("n_name"), coalesce(col("hops"), lit(-1L)).as("hops"))
      .orderBy("n_name")
  }

  private val bfsOracle = """
WITH RECURSIVE e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b, CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
adj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges),
walk(n, hops) AS (
  SELECT 0, 0
  UNION
  SELECT a.nb, w.hops + 1
  FROM walk w JOIN adj a ON a.n = w.n
  WHERE w.hops < 25),
dist AS (SELECT n, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY n)
SELECT na.n_name, coalesce(d.hops, -1) AS hops
FROM nation na LEFT JOIN dist d ON d.n = na.n_nationkey
ORDER BY n_name
"""

  /** Closeness centrality (Bavelas) per nation over the same thresholded
    * trade graph: C(u) = (r_u − 1) / Σ_v d(u, v) over u's reachable set —
    * all-sources BFS on the [[collectedTradeEdges]] adjacency (≤|nation|²
    * work on ≤625 integer edges at ANY fact scale; the O(fact) edge build
    * stays distributed and memo-shared with the rest of the family). The
    * cross-engine discipline is the usual one: reachable count and
    * distance sum stay exact integers, closeness is ONE final double
    * division (0.0 for isolated nations — r = 1, Σd = 0). Oracle: the
    * bfs walk generalized to every source, min-hops aggregated per
    * (src, node) — independent evaluation, hash-certified.
    */
  def closenessCentrality(s: SparkSession, dir: String): DataFrame = {
    val adj = undirectedAdj(s, dir)
    val perSource = adj.keys.toSeq.map { src =>
      val dist = bfsFrom(adj, src)
      (src.toLong, dist.size.toLong, dist.values.sum)
    }
    import s.implicits._
    val d = perSource.toDF("n", "n_reachable", "total_dist")
    Registry.table(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
      .join(broadcast(d), col("n_nationkey") === col("n"), "left_outer")
      .select(col("n_name"),
        coalesce(col("n_reachable"), lit(1L)).as("n_reachable"),
        coalesce(col("total_dist"), lit(0L)).as("total_dist"),
        when(coalesce(col("total_dist"), lit(0L)) > 0,
          (coalesce(col("n_reachable"), lit(1L)) - 1).cast("double") /
            col("total_dist")).otherwise(lit(0.0)).as("closeness"))
      .orderBy("n_name")
  }

  private val closenessOracle = """
WITH RECURSIVE e AS (
  SELECT s.s_nationkey AS u, cu.c_nationkey AS v,
    CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  WHERE s.s_nationkey <> cu.c_nationkey),
und AS MATERIALIZED (
  SELECT least(u, v) AS a, greatest(u, v) AS b, CAST(sum(c) AS BIGINT) AS w
  FROM e GROUP BY 1, 2),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ne, CAST(sum(w) AS BIGINT) AS tw
  FROM und),
edges AS MATERIALIZED (SELECT a, b FROM und CROSS JOIN tot WHERE w * ne >= tw),
adj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM edges
  UNION ALL SELECT b, a FROM edges),
walk(src, n, hops) AS (
  SELECT DISTINCT n, n, 0 FROM adj
  UNION
  SELECT w.src, a.nb, w.hops + 1
  FROM walk w JOIN adj a ON a.n = w.n
  WHERE w.hops < 25),
dist AS (
  SELECT src, n, min(hops) AS hops FROM walk GROUP BY src, n),
cl AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_reachable,
    CAST(sum(hops) AS BIGINT) AS total_dist
  FROM dist GROUP BY src)
SELECT na.n_name,
  coalesce(c.n_reachable, 1) AS n_reachable,
  coalesce(c.total_dist, 0) AS total_dist,
  CASE WHEN coalesce(c.total_dist, 0) > 0
    THEN CAST(coalesce(c.n_reachable, 1) - 1 AS DOUBLE) / c.total_dist
    ELSE 0.0 END AS closeness
FROM nation na LEFT JOIN cl c ON c.src = na.n_nationkey
ORDER BY n_name
"""

  val queries: Map[String, QueryDef] = Map(
    "graph_bfs_hops" -> QueryDef(bfsHops, Some(bfsOracle)),
    "graph_closeness_centrality" ->
      QueryDef(closenessCentrality, Some(closenessOracle)),
    "graph_kcore" -> QueryDef(kcore, Some(kcoreOracle)),
    "graph_pagerank_nations" -> QueryDef(pagerankNations, Some(pagerankOracle)),
    "graph_triangle_clustering" ->
      QueryDef(triangleClustering, Some(triangleOracle)),
    "graph_jaccard_links" -> QueryDef(jaccardLinks, Some(jaccardOracle)),
    "graph_label_propagation" ->
      QueryDef(labelPropagation, Some(lpaOracle))
  )
}
