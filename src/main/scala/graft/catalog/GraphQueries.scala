package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** The graph family: PageRank, triangle counting, label propagation and
  * BFS over the customer-orders graph. */
object GraphQueries extends Family {

  /** The customer↔supplier order graph of graph_pagerank and
    * graph_bfs: (nodes, edges), an edge when a customer's order
    * contains a line from the supplier, in both directions. Node ids
    * are 2·custkey for customers and 2·suppkey+1 for suppliers. */
  private def orderGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val pairs = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("c"),
        (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
      .distinct()
    val nodes = t(s, dir, "customer")
      .select((col("c_custkey") * 2).cast("long").as("id"))
      .unionByName(t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).cast("long").as("id")))
    (nodes, graft.operators.Graph.bothDirections(pairs, "c", "sp"))
  }

  query("graph_pagerank") { (s, dir) =>
    // Exact-integer PageRank over the customer↔supplier order graph
    // (both directions, so the walk is undirected). Fixed 5
    // iterations of scaled-long floor-division rank flow
    // (operators/Graph.scala) — reproducible at any parallelism, so
    // the oracle can unroll the identical 5 iterations as chained
    // CTEs and hash-match the raw ranks.
    val (nodes, edges) = orderGraph(s, dir)
    graft.operators.Graph.pageRank(nodes, edges, iters = 5)
      .select(col("id").as("node_id"),
        when(pmod(col("id"), lit(2L)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("id div 2").as("node_key"),
        col("rank").as("rank_scaled"))
      .orderBy("node_id")
  }.oracle {
    // PageRank: the engine's 5 fixed iterations of scaled-long
    // floor-division rank flow unrolled as 5 chained CTEs — every
    // division is integer floor on positive values in both engines,
    // every sum is an exact BIGINT, so the raw ranks hash-match.
    val base = "15 * 1000000000000 // (100 * (SELECT count(*) FROM nodes))"
    def iterCte(k: Int): String =
      s"""r$k AS (
         |  SELECT n.id,
         |    CAST($base
         |      + (85 * coalesce(sum(x.contrib), 0)) // 100 AS BIGINT)
         |      AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, r${k - 1}.rank // d.outdeg AS contrib
         |    FROM edges e JOIN r${k - 1} ON e.src = r${k - 1}.id
         |    JOIN deg d ON d.src = e.src) x ON x.id = n.id
         |  GROUP BY n.id)"""
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT c AS src, sp AS dst FROM pairs
       |          UNION ALL SELECT sp, c FROM pairs),
       |nodes AS (SELECT c_custkey * 2 AS id FROM customer
       |          UNION ALL SELECT s_suppkey * 2 + 1 FROM supplier),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |r0 AS (SELECT id, CAST(1000000000000
       |         // (SELECT count(*) FROM nodes) AS BIGINT) AS rank
       |       FROM nodes),
       |${(1 to 5).map(iterCte).mkString(",\n")}
       |SELECT CAST(id AS BIGINT) AS node_id,
       |  CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |    AS node_type,
       |  CAST(id // 2 AS BIGINT) AS node_key,
       |  rank AS rank_scaled
       |FROM r5 ORDER BY node_id""".stripMargin
  }

  query("graph_triangles") { (s, dir) =>
    // Per-node triangle counts + local clustering coefficient over a
    // deterministic circulant graph on the document ids (offsets
    // 1/2/4 plus a sparse 7-offset for every third node, so degrees
    // VARY and the degree-orientation actually reorders edges). The
    // synthesis is the multimodal pattern: build the structure from
    // corpus ids, exercise the REAL operator (degree orientation,
    // wedge join, closing-edge join), and let the oracle re-derive
    // the same graph and count in SQL. coeff is exact integer micros
    // — 2·tri·1e6 div deg·(deg−1) — so the ratio hash-matches.
    val ids = t(s, dir, "documents").select(col("doc_id").as("i"))
    val nDf = ids.agg((max(col("i")) + 1).as("n"))
    val withN = ids.crossJoin(broadcast(nDf))
    // all four offsets from ONE pass (r16): the former 3-way union +
    // conditional extra re-scanned the ids×n subtree once per branch
    // (no reuse across differently-projected union arms); same rows
    val offEdge = (o: Long) =>
      struct(col("i").as("a"), pmod(col("i") + o, col("n")).as("b"))
    val all = withN.select(explode(concat(
        array(offEdge(1L), offEdge(2L), offEdge(4L)),
        when(col("i") % 3 === 0, array(offEdge(7L)))
          .otherwise(array().cast("array<struct<a:bigint,b:bigint>>"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    graft.operators.Graph.triangleCounts(all)
      .select(col("node"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .as("coeff_micros"))
      .orderBy("node")
  }.oracle(
    // Triangles: the oracle re-derives the circulant-plus-sparse
    // graph, the degree orientation, the id-ordered wedge set and the
    // both-ways closing join — the identical counting discipline, so
    // per-node triangle counts and the integer-micros clustering
    // coefficient hash-match.
    """WITH ids AS (SELECT doc_id AS i FROM documents),
      |nn AS (SELECT max(i) + 1 AS n FROM ids),
      |edges AS (
      |  SELECT i AS a, (i + 1) % n AS b FROM ids, nn
      |  UNION ALL SELECT i, (i + 2) % n FROM ids, nn
      |  UNION ALL SELECT i, (i + 4) % n FROM ids, nn
      |  UNION ALL SELECT i, (i + 7) % n FROM ids, nn WHERE i % 3 = 0),
      |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
      |deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY a),
      |ori AS (
      |  SELECT s.a AS src, s.b AS dst FROM sym s
      |  JOIN deg dA ON dA.node = s.a JOIN deg dB ON dB.node = s.b
      |  WHERE dA.degree < dB.degree
      |     OR (dA.degree = dB.degree AND s.a < s.b)),
      |wedges AS (
      |  SELECT e1.src, e1.dst AS v, e2.dst AS w
      |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst),
      |closing AS (SELECT src AS v, dst AS w FROM ori
      |            UNION ALL SELECT dst, src FROM ori),
      |tri AS (SELECT wg.src, wg.v, wg.w FROM wedges wg
      |        JOIN closing c ON c.v = wg.v AND c.w = wg.w),
      |corners AS (
      |  SELECT node, count(*) AS triangles FROM (
      |    SELECT src AS node FROM tri UNION ALL SELECT v FROM tri
      |    UNION ALL SELECT w FROM tri) GROUP BY node)
      |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
      |  CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
      |  CASE WHEN d.degree >= 2 THEN
      |    CAST((2 * coalesce(c.triangles, 0) * 1000000)
      |      // (d.degree * (d.degree - 1)) AS BIGINT) END AS coeff_micros
      |FROM deg d LEFT JOIN corners c ON c.node = d.node
      |ORDER BY d.node""".stripMargin)

  query("graph_label_prop") { (s, dir) =>
    // Community detection by synchronous label propagation over a
    // deterministic "caveman" graph on the document ids: blocks of 50
    // wired by local chains (i±1, i±2), a per-block hub, and weak
    // hub-to-hub bridges. Four pinned rounds with the (count desc,
    // label asc) tie-break make the labels a pure function of the
    // graph — the oracle unrolls the identical rounds.
    val ids = t(s, dir, "documents").select(col("doc_id").as("i"))
    val mDf = ids.agg(max(col("i")).as("m"))
    val withM = ids.crossJoin(broadcast(mDf))
    val sameBlock = (o: Int) =>
      expr(s"(i div 50) = ((i + $o) div 50)") && col("i") + o <= col("m")
    // all four wiring rules from ONE pass (r16): the former 4-way
    // union re-scanned the ids×m subtree once per branch (no reuse
    // across differently-filtered, differently-projected arms); a
    // per-element when(cond, struct) + null filter emits the same rows
    val und0 = withM.select(explode(filter(array(
        when(sameBlock(1),
          struct(col("i").as("a"), (col("i") + 1).as("b"))),
        when(sameBlock(2),
          struct(col("i").as("a"), (col("i") + 2).as("b"))),
        when(col("i") % 50 =!= 0,
          struct(col("i").as("a"), expr("(i div 50) * 50").as("b"))),
        when(col("i") % 50 === 0 && col("i") + 50 <= col("m"),
          struct(col("i").as("a"), (col("i") + 50).as("b")))),
        x => x.isNotNull)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val und = und0.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b")).distinct()
    graft.operators.Graph.labelPropagation(ids.select(col("i").as("id")),
        graft.operators.Graph.bothDirections(und, "a", "b"), iters = 4)
      .orderBy("id")
  }.oracle {
    // Label propagation: the caveman graph and all four synchronous
    // rounds (count desc / label asc tie-break as a row_number) are
    // replayed verbatim.
    def round(k: Int): String =
      s"""c$k AS (
         |  SELECT e.src AS nid, p.lbl, count(*) AS cnt
         |  FROM edges e JOIN l${k - 1} p ON p.id = e.dst
         |  GROUP BY 1, 2),
         |b$k AS (
         |  SELECT nid, lbl AS nbl FROM (
         |    SELECT nid, lbl, row_number() OVER (
         |      PARTITION BY nid ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$k) WHERE rn = 1),
         |l$k AS (
         |  SELECT p.id, coalesce(b.nbl, p.lbl) AS lbl
         |  FROM l${k - 1} p LEFT JOIN b$k b ON b.nid = p.id)"""
    s"""WITH ids AS (SELECT doc_id AS i FROM documents),
       |mm AS (SELECT max(i) AS m FROM ids),
       |und0 AS (
       |  SELECT i AS a, i + 1 AS b FROM ids, mm
       |    WHERE i + 1 <= m AND (i // 50) = ((i + 1) // 50)
       |  UNION ALL SELECT i, i + 2 FROM ids, mm
       |    WHERE i + 2 <= m AND (i // 50) = ((i + 2) // 50)
       |  UNION ALL SELECT i, (i // 50) * 50 FROM ids WHERE i % 50 <> 0
       |  UNION ALL SELECT i, i + 50 FROM ids, mm
       |    WHERE i % 50 = 0 AND i + 50 <= m),
       |und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |        FROM und0),
       |edges AS (SELECT a AS src, b AS dst FROM und
       |          UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT i AS id, i AS lbl FROM ids),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT id, lbl FROM l4 ORDER BY id""".stripMargin
  }

  query("graph_bfs") { (s, dir) =>
    // Multi-source BFS over the customer↔supplier order graph
    // ([[orderGraph]], as graph_pagerank): minimum hops from the nation-0
    // customers, 4 rounds. Frontier-only expansion per round — see
    // Graph.bfsHops. Deterministic by construction (hop counts are
    // integers, first-reach = min), so the oracle unrolls the same 4
    // frontier steps as chained CTEs and takes min(hop) per node.
    val (nodes, edges) = orderGraph(s, dir)
    val seeds = t(s, dir, "customer")
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).cast("long").as("id"))
    graft.operators.Graph.bfsHops(nodes, edges, seeds, maxHops = 4)
      .select(col("id").as("node_id"),
        when(pmod(col("id"), lit(2L)) === 0, lit("customer"))
          .otherwise(lit("supplier")).as("node_type"),
        expr("id div 2").as("node_key"),
        col("hops"))
      .orderBy("node_id")
  }.oracle(
    // min hop over exact-length walk sets: a length-k walk exists iff
    // distance <= k, so min(h) over the chained neighbor sets is the
    // shortest-path distance — identical to first-reach frontier BFS
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS c,
      |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (
      |  SELECT c AS src, sp AS dst FROM pairs
      |  UNION ALL SELECT sp, c FROM pairs),
      |n AS (
      |  SELECT CAST(c_custkey * 2 AS BIGINT) AS id FROM customer
      |  UNION ALL
      |  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) FROM supplier),
      |s0 AS (
      |  SELECT CAST(c_custkey * 2 AS BIGINT) AS id FROM customer
      |  WHERE c_nationkey = 0),
      |s1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s0 ON e.src = s0.id),
      |s2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s1 ON e.src = s1.id),
      |s3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s2 ON e.src = s2.id),
      |s4 AS (SELECT DISTINCT e.dst AS id FROM e JOIN s3 ON e.src = s3.id),
      |lv AS (
      |  SELECT id, 0 AS h FROM s0
      |  UNION ALL SELECT id, 1 FROM s1
      |  UNION ALL SELECT id, 2 FROM s2
      |  UNION ALL SELECT id, 3 FROM s3
      |  UNION ALL SELECT id, 4 FROM s4),
      |d AS (SELECT id, CAST(min(h) AS BIGINT) AS hops FROM lv GROUP BY id)
      |SELECT n.id AS node_id,
      |  CASE WHEN n.id % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS node_type,
      |  n.id // 2 AS node_key, d.hops
      |FROM n LEFT JOIN d ON n.id = d.id
      |ORDER BY node_id""".stripMargin)
}
