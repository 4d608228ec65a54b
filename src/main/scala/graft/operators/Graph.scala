package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative graph analytics (SURVEY.md §2.2 extension): PageRank
  * over the customer–supplier co-purchase graph derived from
  * orders×lineitem. Complements `dedup_clusters` (the other iterative
  * graph operator — connected components): same join-per-round shape,
  * different fixpoint.
  *
  * Determinism discipline: ranks live in INTEGER micro-units with
  * explicit floor division (`r DIV outdeg`, `85·Σ DIV 100`) — every
  * intermediate is a BIGINT, so shuffle merge order cannot perturb a
  * single ulp and the DuckDB oracle unrolls the identical iterations
  * to hash equality. (A double-valued PageRank sums contributions in
  * shuffle order — nondeterministic across runs AND engines; the
  * integer form is the portable fixpoint. The floor-division rank
  * leak — ≤ outdeg−1 micro-units per node per round — is identical in
  * both engines, which is what the gate requires.)
  *
  * Scale shape per iteration: ranks ⋈ edges on src (edges
  * pre-partitioned once; ranks are nodes-scale), then one map-side-
  * combinable sum by dst — the standard distributed PR round. 5
  * rounds = 5 bounded shuffles; state is one (node, rank) row per
  * node, persisted per round via the implicit scope.
  */
object Graph {
  val PrIters = 5
  /** Supplier node ids offset into their own range (cust/supp key
    * spaces overlap numerically). */
  val SuppOffset = 1000000L

  /** (src, dst) distinct directed edges, both directions of every
    * customer–supplier purchase relation — undirected interpretation,
    * so every node has outdeg ≥ 1 and no dangling-mass handling is
    * needed. */
  private def edges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val co = purchases(s, d).distinct()
    co.select(col("c").as("src"), col("p").as("dst"))
      .union(co.select(col("p").as("src"), col("c").as("dst")))
  }

  /** (c, p) customer–supplier purchase rows, one per lineitem. */
  private def purchases(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("p"))

  /** Oracle twin of [[edges]]: the head `WITH co AS (...)` holds the
    * distinct purchase relation, and [[undirectedSql]] doubles it. */
  private def coSql: String =
    s"""WITH co AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + $SuppOffset AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)"""
  private def undirectedSql: String =
    "SELECT c AS src, p AS dst FROM co UNION ALL SELECT p, c FROM co"

  /** Checkpoint cadence for long pagerank runs: every this many
    * rounds the rank lineage is truncated via eager
    * `localCheckpoint`. At the default 5 iterations nothing
    * checkpoints — the whole chain stays ONE linear DAG. */
  val PrCheckpointEvery = 8

  /** PageRank in integer micro-units: init 1_000_000 per node;
    * r'(v) = 150_000 + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100. */
  def pagerank(edges: DataFrame, iters: Int = PrIters)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val e = edges.transform(scope.persist)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .transform(scope.persist)
    // edges carry their outdeg once (one join instead of one per round)
    val ed = e.join(outdeg, Seq("src")).transform(scope.persist)
    var ranks = outdeg.select(col("src").as("node"), lit(1000000L).as("rank"))
    for (i <- 1 to iters) {
      // fixed iteration count and each round consumed exactly once →
      // the chain is a linear DAG: no per-round action is needed for
      // correctness (dedup_clusters checkpoints because its
      // convergence check must INSPECT each round; PageRank has
      // nothing to inspect). `iters` is a public parameter though, so
      // past PrCheckpointEvery rounds the lineage is truncated every
      // k-th round — an unbounded analyzed-plan chain grows
      // linearly in size and super-linearly in analysis time, the
      // classic iterative-algorithm plan blowup
      // shuffle-hash on the NODE-scale state side (r15, guide §3.1):
      // the per-round sort-merge join sorted the edge-scale side every
      // round — hash-building the node-scale state per partition skips
      // both sorts (A/B min-of-5 at sf0.1: 6.33 → 5.21 s same-session;
      // the same hint is applied to every per-round state join in this
      // file). Build-side memory is the node shard per partition —
      // the bounded side of every iteration by construction.
      ranks = ed.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"), expr("150000L + (85 * s) div 100").as("rank"))
      if (i % PrCheckpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  val pagerankTop = QueryDef(
    "graph_pagerank",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        e AS ($undirectedSql),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg)""")
      for (it <- 1 to PrIters) {
        sb.append(s""",
        r$it AS (SELECT e.dst AS node,
            CAST(150000 + (85 * sum(r.rank // d.outdeg)) // 100 AS BIGINT) AS rank
          FROM e JOIN r${it - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
          GROUP BY e.dst)""")
      }
      sb.append(s"""
        SELECT node, rank FROM (
          SELECT node, rank, row_number() OVER (ORDER BY rank DESC, node) AS rk
          FROM r$PrIters) t WHERE rk <= 20 ORDER BY rank DESC, node""")
      sb.toString
    },
    (s, d) => pagerank(edges(s, d))
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
      .orderBy(col("rank").desc, col("node")))

  /** Degree-ordered distributed triangle counting (Cohen 2009 /
    * Suri–Vassilvitskii WWW'11) over the part co-purchase graph
    * (parts co-occurring in an order; ~6% dense at the gate scale).
    * Each undirected edge is oriented from its lower-(degree, id)
    * endpoint to its higher one; a triangle {a, b, c} in rank order
    * has oriented edges a→b, a→c, b→c and is counted exactly once, at
    * edge (a, b), as c ∈ N⁺(a) ∩ N⁺(b). The count is therefore
    * Σ over oriented edges of |N⁺(u) ∩ N⁺(v)| — computed edge-iterator
    * style: each source's SORTED out-neighbor list is exploded into its
    * edges (u, v) and joined once to v's list, and the native
    * merge-walk intersect ([[graft.functions.
    * SortedInterSizeExpr]]). Wedges are NEVER materialized: the r5
    * first cut generated every rank-ordered out-neighbor pair (41 M
    * rows at sf0.1) and shuffled them into a semi-join against the
    * edge set — 16.5 of the query's 23 s; the adjacency-intersect
    * form replaces both shuffles with per-edge O(deg⁺(u)+deg⁺(v))
    * merge walks. Degree ordering still bounds every list at
    * O(√|E|) (the arboricity argument), which is what kills the
    * hub-adjacency explosion a naive id-ordering suffers on skewed
    * degree distributions at 100 TB.
    *
    * The oracle counts the SAME triangles by the straightforward
    * id-ordered 3-way self-join — orientation changes which wedges
    * are generated, never the closed-triangle count, so count
    * equality is precisely the correctness statement for the
    * degree-ordered rewrite. Wedge count Σ C(deg, 2) is
    * orientation-independent and exact-integer; the clustering
    * coefficient is one IEEE division. */
  val triangles = QueryDef(
    "graph_triangles",
    Some(s"""${partEdgesSql("count(*)")},
      ne AS (SELECT count(*) AS n_edges FROM e),
      wed AS (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      tri AS (SELECT count(*) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      SELECT n_edges, n_wedges, n_triangles,
        round(3.0 * n_triangles / n_wedges, 6) AS clustering
      FROM ne, wed, tri"""),
    (s, d) => triangleStats(partEdges(s, d)))

  /** The part co-purchase graph of [[triangles]] and [[clusteringCoeff]]:
    * distinct (u, v) part pairs with u < v sharing an order. */
  private def partEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val co = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    co.as("a").join(co.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
  }

  /** Oracle twin of [[partEdges]] (`co`, `e`) plus the degree table
    * `deg(node, dg)`, `dg` being the given aggregate over the
    * endpoint multiset. */
  private def partEdgesSql(dg: String): String =
    s"""WITH co AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM co a JOIN co b ON a.o = b.o AND a.p < b.p),
      deg AS (SELECT node, $dg AS dg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t GROUP BY node)"""

  /** The degree orientation shared by [[triangleStats]] and
    * [[localClustering]] over a distinct (u, v) edge set, u < v.
    * Returns the node degrees `(node, dg)` and one row per oriented
    * edge `(src, dst)` carrying both endpoints' SORTED out-neighbor
    * lists `nu`, `nv`.
    *
    * The adjacency is built with ONE shuffle; its total payload is |E|
    * longs regardless of degree skew (each edge appears in exactly one
    * list), and sort_array gives the merge walk its contract. The
    * edges come back out of the adjacency itself (the edge iterator:
    * `explode(nbrs)` next to the source's own list `nu`), so the one
    * list join is dst to its list `nv`. It carries no hint: AQE's
    * runtime size statistics turn it into a broadcast join when the
    * adjacency (≈8 B/edge) is under
    * `spark.sql.adaptive.autoBroadcastJoinThreshold`, and beyond that
    * it stays a shuffle join with per-edge list replication as the
    * cost (the MapReduce edge-iterator trade). `ori` feeds only the
    * adjacency build and is not persisted; `e`, `deg` and `adj` each
    * have several consumers. */
  private def orientedLists(edges: DataFrame)(
      implicit scope: graft.CacheScope): (DataFrame, DataFrame) = {
    val e = edges.transform(scope.persist)
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      .transform(scope.persist)
    // orient lower (deg, id) → higher
    val ori = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("dg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("dg", "dv"), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("r"))
      .select(col("r.src"), col("r.dst"))
    val adj = ori.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .transform(scope.persist)
    val lists = adj.select(col("src"), col("nbrs").as("nu"), explode(col("nbrs")).as("dst"))
      .join(adj.select(col("src").as("v_"), col("nbrs").as("nv")), col("dst") === col("v_"))
    (deg, lists)
  }

  /** Degree-ordered triangle statistics over a distinct undirected
    * edge set given as (u, v) rows with u < v. See [[triangles]] for
    * the algorithm and scale argument. Returns one row:
    * (n_edges, n_wedges, n_triangles, clustering). */
  def triangleStats(edges: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    graft.functions.Natives.ensure(edges.sparkSession)
    val (deg, lists) = orientedLists(edges)
    val tri = lists
      // coalesce: a triangle-free graph can drop EVERY edge at the
      // inner list join (no dst has out-neighbors), leaving sum() = null
      .agg(coalesce(sum(graft.functions.SortedInter.interSize(col("nu"), col("nv"))
        .cast("long")), lit(0L)).as("n_triangles"))
    // every edge adds 1 to two degrees; coalesce: no edge, no degree
    val sizes = deg.agg(coalesce(expr("sum(dg) div 2"), lit(0L)).as("n_edges"),
      sum(expr("(dg * (dg - 1)) div 2")).as("n_wedges"))
    sizes.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("clustering"))
  }

  /** Degree-bucket CASE ladder shared with the oracle: power-of-two
    * buckets over deg ≥ 2 (bucket 2^k covers [2^k, 2^(k+1))). */
  private def degBucketSql(dg: String): String =
    "CASE " + (1 to 20).map(k =>
      s"WHEN $dg < ${1L << (k + 1)} THEN CAST(${1L << k} AS BIGINT)").mkString(" ") +
      s" ELSE CAST(${1L << 21} AS BIGINT) END"

  /** Per-node LOCAL clustering coefficients summarized by degree
    * bucket — the Watts–Strogatz readout [[triangleStats]]'s single
    * global transitivity hides (the two famously disagree on skewed
    * graphs: hubs close few of their wedges, leaves close most, and
    * the per-degree profile is how that structure is READ). Triangles
    * attribute to ALL THREE corners: the degree-ordered
    * adjacency-intersect from [[triangleStats]] runs unchanged, but
    * with the intersection ELEMENTS kept (native `array_intersect` on
    * the sorted lists) and exploded — output volume is exactly
    * 3·#triangles, the honest floor for per-node attribution, with
    * every list still O(√|E|) by the arboricity bound. Per node:
    * cc = tri/(deg choose 2) as an exact half-up MICRO-unit integer
    * (the round6Ratio construction), so the per-bucket average is ONE
    * IEEE division of exact sums. */
  def localClustering(edges: DataFrame)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val (deg, lists) = orientedLists(edges)
    val corners = lists.select(col("src"), col("dst"),
      explode(expr("array_intersect(nu, nv)")).as("w"))
    // ONE pass over the corner rows: the r11–r14 form unioned three
    // projections of `corners`, re-running the heaviest join (adjacency
    // intersect + explode) THREE times — exploding the 3-corner array
    // once emits the identical (node) multiset (r15, guide §1.2)
    val tric = corners
      .select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("tri"))
    deg.filter(col("dg") >= 2)
      .join(tric, Seq("node"), "left")
      .selectExpr(s"${degBucketSql("dg")} AS deg_bucket",
        "coalesce(tri, CAST(0 AS BIGINT)) AS tri",
        "(dg * (dg - 1)) div 2 AS wed")
      .groupBy(col("deg_bucket"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum(col("tri")).cast("long").as("n_tri_corners"),
        sum(col("wed")).cast("long").as("n_wedges"),
        sum(expr("(tri * 2000000 + wed) div (2 * wed)")).cast("long").as("cc_micro"))
      .selectExpr("deg_bucket", "n_nodes", "n_tri_corners", "n_wedges",
        "CAST(cc_micro AS DOUBLE) / (1000000.0 * CAST(n_nodes AS DOUBLE)) AS avg_local_cc")
      .orderBy(col("deg_bucket"))
  }

  /** graph_clustering_coeff: local clustering profile of the part
    * co-purchase graph (same edge derivation as [[triangles]]); the
    * oracle attributes the SAME triangles by the id-ordered 3-way
    * self-join crediting all three corners — corner-count equality
    * per node is exactly the correctness statement for the
    * degree-ordered intersect attribution. */
  val clusteringCoeff = QueryDef(
    "graph_clustering_coeff",
    Some {
      val tri3 = "FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v"
      s"""${partEdgesSql("CAST(count(*) AS BIGINT)")},
      tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
          SELECT e1.u AS node $tri3
          UNION ALL SELECT e1.v $tri3
          UNION ALL SELECT e2.v $tri3) t GROUP BY node),
      per AS (SELECT ${degBucketSql("deg.dg")} AS deg_bucket,
          coalesce(tc.tri, CAST(0 AS BIGINT)) AS tri,
          (deg.dg * (deg.dg - 1)) // 2 AS wed
        FROM deg LEFT JOIN tc ON deg.node = tc.node WHERE deg.dg >= 2)
      SELECT deg_bucket, CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(tri) AS BIGINT) AS n_tri_corners,
        CAST(sum(wed) AS BIGINT) AS n_wedges,
        CAST(CAST(sum((tri * 2000000 + wed) // (2 * wed)) AS BIGINT) AS DOUBLE)
          / (1000000.0 * CAST(count(*) AS DOUBLE)) AS avg_local_cc
      FROM per GROUP BY deg_bucket ORDER BY deg_bucket"""
    },
    (s, d) => localClustering(partEdges(s, d)))

  /** Default mega-order cap for [[nodeSimilarityTopK]]: orders with
    * more parts than this are excluded from pair generation (gate
    * orders carry ≤ 7 parts — the cap never fires there, but it is
    * ENFORCED, the same discipline as DedupApi's `maxBucketSize` and
    * substring's `maxFpDocs`). */
  val MaxOrderSize = 1000

  /** Item–item neighborhood Jaccard over a (o, p) distinct
    * co-occurrence table — see [[nodeSimilarity]] for semantics.
    * `maxOrderSize` is the mega-order guard: the per-order pair
    * expansion is O(k²), so ONE pathological basket with 10⁵ items
    * would emit 5×10⁹ pairs inside a single task; baskets beyond the
    * cap are dropped BEFORE expansion (the standard co-occurrence-
    * engine cap — a mega-basket's pairs are near-meaningless
    * co-occurrence signal anyway, every market-basket system trims
    * them). The filter costs one key-bounded count + co-partitioned
    * join on the already-persisted table; degrees are computed over
    * the KEPT baskets so `|∩| ≤ min(du, dv)` stays invariant. */
  def nodeSimilarityTopK(co: DataFrame, k: Int = 20, maxOrderSize: Int = MaxOrderSize)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val coP = co.transform(scope.persist)
    val kept = coP.join(
        coP.groupBy(col("o")).agg(count(lit(1)).as("osz"))
          .filter(col("osz") <= maxOrderSize).select(col("o")),
        Seq("o"))
      .transform(scope.persist)
    val deg = kept.groupBy(col("p")).agg(count(lit(1)).as("dg"))
    val pairs = kept.as("a").join(kept.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(deg.select(col("p").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("p").as("v"), col("dg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("inter"), col("du"), col("dv"),
        round(col("inter").cast("double") / (col("du") + col("dv") - col("inter")), 6).as("jac"))
      .orderBy(col("jac").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Item–item neighborhood similarity ("related items"): top part
    * pairs by Jaccard of their order neighborhoods in the co-purchase
    * bipartite graph. Candidates are only pairs sharing ≥ 1 order —
    * everything else has J = 0 — generated by the per-order pair
    * expansion (O(k²) per order, k = parts/order, the bounded fan-out
    * every item-item co-occurrence engine rides), with orders above
    * [[MaxOrderSize]] parts excluded BEFORE expansion (the r5 verdict's
    * one flagged scale-killer: the cap is now enforced, not merely
    * documented, and mirrored in the oracle). `|∩|` falls out of the
    * distinct co-occurrence count; `|∪| = dᵤ + dᵥ − |∩|` from the
    * parts-scale degree table (AQE broadcasts it at gate scale; at
    * parts ≫ memory the join shuffles on the pair's endpoints — both
    * key-bounded). Jaccard is one rounded division of exact integers;
    * the top-20 runs through `TakeOrderedAndProject` on the
    * (jac, u, v) total order. */
  val nodeSimilarity = QueryDef(
    "graph_node_similarity",
    Some(s"""WITH co0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      ok AS (SELECT o FROM co0 GROUP BY o HAVING count(*) <= $MaxOrderSize),
      co AS (SELECT co0.o, co0.p FROM co0 JOIN ok ON co0.o = ok.o),
      deg AS (SELECT p, count(*) AS dg FROM co GROUP BY p),
      pr AS (SELECT a.p AS u, b.p AS v, count(*) AS inter
        FROM co a JOIN co b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p)
      SELECT u, v, inter, da.dg AS du, db.dg AS dv,
        round(CAST(inter AS DOUBLE) / (da.dg + db.dg - inter), 6) AS jac
      FROM pr JOIN deg da ON pr.u = da.p JOIN deg db ON pr.v = db.p
      ORDER BY jac DESC, u, v LIMIT 20"""),
    (s, d) => {
      val co = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      nodeSimilarityTopK(co)
    })

  /** Sparsification predicate for the connected-components gate: the
    * "strategic relationship" subgraph — max-quantity, deep-discount
    * purchases. At sf0.01 this yields 65 components over 369 nodes
    * (biggest 24), so the fixpoint, the label choice, AND the
    * per-component rollup are all exercised nontrivially; the
    * unfiltered graph is one giant component and would only prove
    * convergence. */
  val CcPredicate = "l_quantity >= 50 AND l_discount >= 0.08"

  /** Connected components of the sparsified customer–supplier purchase
    * graph, summarized per component (label = min node id, size,
    * customers/suppliers per side). The fixpoint is
    * [[graft.dedup.DedupApi.nearDupClusters]] — alternating
    * large-star/small-star contraction (Kiveris et al. SoCC'14),
    * O(log n) rounds of bounded groupBy+join with the edge set as the
    * only state, lineage truncated per round — the same machinery that
    * labels near-dup clusters, applied here as the general graph
    * operator (one CC kernel, two surfaces; reference capability:
    * grouping related records, `iceberg_evolve` has no graph engine so
    * the published MapReduce-CC algorithm is the design source). The
    * per-component rollup is ONE shuffle on the label; sides are told
    * apart by the supplier id offset, exact integer conditional sums.
    *
    * The oracle reaches the same labels by min-label recursive CTE —
    * transitive-closure pairs, fine at gate scale, quadratic in
    * component size and oracle-only. Label agreement is exact: both
    * engines name a component by its minimum node id. */
  val connectedComponents = QueryDef(
    "graph_connected_components",
    Some(s"""WITH RECURSIVE co AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + $SuppOffset AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE $CcPredicate),
      e AS (SELECT c AS u, p AS v FROM co UNION SELECT p, c FROM co),
      nodes AS (SELECT DISTINCT u AS n FROM e),
      reach AS (SELECT n AS node, n AS lbl FROM nodes
        UNION SELECT e.v, r.lbl FROM reach r JOIN e ON e.u = r.node),
      comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
      SELECT component, count(*) AS n_nodes,
        CAST(sum(CASE WHEN node < $SuppOffset THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        CAST(sum(CASE WHEN node >= $SuppOffset THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
      FROM comp GROUP BY component ORDER BY n_nodes DESC, component"""),
    (s, d) => {
      val co = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .filter(expr(CcPredicate))
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), (col("l_suppkey") + SuppOffset).as("p"))
        .distinct()
      componentSummary(co)
    })

  /** Per-component rollup of the bipartite edge set `(c, p)`: label,
    * size, and side counts (customers below [[SuppOffset]], suppliers
    * at/above). One CC fixpoint + one shuffle on the label. */
  def componentSummary(co: DataFrame): DataFrame = {
    val nodes = co.select(col("c").as("id")).union(co.select(col("p").as("id"))).distinct()
    val labeled = graft.dedup.DedupApi.nearDupClusters(
      nodes, "id", co.select(col("c").as("doc_a"), col("p").as("doc_b")))
    labeled.groupBy(col("cluster").as("component"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(col("node") < SuppOffset, 1L).otherwise(0L)).as("n_customers"),
        sum(when(col("node") >= SuppOffset, 1L).otherwise(0L)).as("n_suppliers"))
      .orderBy(col("n_nodes").desc, col("component"))
  }

  /** k-core peel parameters: remove nodes of degree < [[KCoreK]],
    * cascade for exactly [[KCoreRounds]] rounds (both engines run the
    * same fixed schedule, so the gate is SF-independent; at the test
    * scales the peel converges well inside the budget — the spec
    * proves it by running one extra round and asserting a fixpoint). */
  val KCoreK = 8
  val KCoreRounds = 10

  /** Iterative k-core peeling over the undirected edge list (both
    * directions present, so degree = out-degree). Each round is one
    * degree aggregation + two semi-joins — the standard distributed
    * peel (Montresor et al. 2013 shape, synchronous variant); rounds
    * are driver-bounded and the edge set only shrinks, so every
    * shuffle is no larger than the first. Early exit when the node
    * count is stable (remaining rounds are then no-ops, so the fixed
    * [[KCoreRounds]] oracle schedule computes the identical set). */
  def kcore(edges0: DataFrame, k: Int = KCoreK, rounds: Int = KCoreRounds): DataFrame = {
    var e = edges0.localCheckpoint(true)
    var n = e.select(col("src")).distinct().count()
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      e = e.join(keep.hint("shuffle_hash"), e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi")
        .localCheckpoint(true)
      val n2 = e.select(col("src")).distinct().count()
      stable = n2 == n
      n = n2
      r += 1
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy(col("node"))
  }

  val kcoreQuery = QueryDef(
    "graph_kcore",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        e0 AS MATERIALIZED ($undirectedSql)""")
      // MATERIALIZED is load-bearing: each round references the prior
      // round three times (once directly, twice through k), so inlined
      // CTEs would expand the base scan 3^rounds times
      for (it <- 1 to KCoreRounds) {
        sb.append(s""",
        k$it AS MATERIALIZED (SELECT src FROM e${it - 1} GROUP BY src HAVING count(*) >= $KCoreK),
        e$it AS MATERIALIZED (SELECT e.src, e.dst FROM e${it - 1} e
          JOIN k$it a ON e.src = a.src JOIN k$it b ON e.dst = b.src)""")
      }
      sb.append(s"""
        SELECT src AS node, count(*) AS deg FROM e$KCoreRounds GROUP BY src ORDER BY node""")
      sb.toString
    },
    (s, d) => kcore(edges(s, d)))

  /** Test hook: the co-purchase edge list (private builder) exposed
    * for the kcore fixpoint spec. */
  def edgesForTest(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    edges(s, d)

  // ------------------------------------------------------------- bfs
  /** BFS round budget: the co-purchase graph's effective diameter is
    * tiny (dense bipartite); both engines run the identical fixed
    * schedule so the gate is SF-independent. */
  val BfsRounds = 4

  /** Multi-source BFS hop distances — `dist(v) = min hops to any
    * seed`, the reachability/radius staple (impact analysis: "how far
    * does a recalled part / flagged supplier propagate?"). Each round
    * is the standard distributed relaxation `d' = min(d, d⋈e + 1)`:
    * one node-keyed min-aggregate over the frontier-expanded union —
    * map-side combinable, state is one (node, dist) row per reached
    * node, lineage truncated per round. Distances are exact integers,
    * so no merge-order hazard exists at any partitioning. Unreached
    * nodes are reported as one `dist = -1` bucket (count derived from
    * the node table, never a per-node anti-join output).
    *
    * r9: level-synchronous FRONTIER expansion — round r joins edges
    * against only the rows first reached in round r−1 (`dist = r−1`,
    * a filter over the checkpointed state, no extra pass), not the
    * full settled state. Identical fixpoint: a node settled at dist k
    * was expanded once at round k+1 and every later re-expansion
    * could only mint dist k+1 candidates the min-merge already holds
    * (unit edges ⇒ dist = first-reach round). The per-round edge-join
    * input drops from |reached so far| to |level r| — on the dense
    * co-purchase graph that is rounds× less join work (the r8
    * verdict's delta-BFS item). */
  def bfs(edges0: DataFrame, seeds: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val e = edges0.localCheckpoint(true)
    var d = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint(true)
    var frontier = d
    for (r <- 1 to rounds) {
      val expanded = e.join(frontier.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      d = d.unionAll(expanded)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      frontier = d.filter(col("dist") === r)
    }
    d
  }

  /** Seed predicate for [[bfsQuery]]: every 100th customer node —
    * present at all scale factors, shared with the oracle. */
  val BfsSeedModulus = 100L

  val bfsQuery = QueryDef(
    "graph_bfs",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        e AS MATERIALIZED ($undirectedSql),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS n FROM e),
        d0 AS MATERIALIZED (SELECT n AS node, CAST(0 AS BIGINT) AS dist FROM nodes
          WHERE n < $SuppOffset AND n % $BfsSeedModulus = 0)""")
      for (it <- 1 to BfsRounds) {
        sb.append(s""",
        d$it AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM d${it - 1}
          UNION ALL
          SELECT e.dst, d.dist + 1 FROM d${it - 1} d JOIN e ON d.node = e.src) GROUP BY node)""")
      }
      sb.append(s"""
        SELECT dist, count(*) AS n_nodes FROM d$BfsRounds GROUP BY dist
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
          (SELECT count(*) FROM nodes) - (SELECT count(*) FROM d$BfsRounds)
        ORDER BY dist""")
      sb.toString
    },
    (s, d) => {
      // checkpoint the edge build ONCE: `nodes` and [[bfs]]'s internal
      // checkpoint each materialized their own copy of the
      // orders⋈lineitem distinct derivation before r15 (guide §1.2)
      val e = edges(s, d).localCheckpoint(true)
      val nodes = e.select(col("src").as("node")).distinct().localCheckpoint(true)
      val seeds = nodes.filter(col("node") < SuppOffset &&
        col("node") % BfsSeedModulus === 0)
      val reached = bfs(e, seeds)
      val hist = reached.groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
      val unreached = nodes.agg(count(lit(1)).as("total"))
        .crossJoin(broadcast(reached.agg(count(lit(1)).as("r"))))
        .select(lit(-1L).as("dist"), (col("total") - col("r")).as("n_nodes"))
      hist.unionAll(unreached).orderBy(col("dist"))
    })

  // --------------------------------------------------- closeness
  /** Target seed-set SIZE for [[closenessQuery]] — sampled-source
    * closeness (Eppstein–Wang 2004: estimator error depends on the
    * seed COUNT O(log n/ε²), not a sampling RATE; exact all-pairs
    * closeness is Θ(V·E) and never runs at scale). The modulus is
    * DERIVED from one corpus count (`n_customers div target`, the
    * [[graft.similarity.AnnApi.planesFor]] discipline), so BFS state
    * (seed, node, dist) stays Θ(target · V) at any corpus size —
    * a fixed rate would grow it ~V²/rate. */
  val ClosenessSeedTarget = 64L

  /** `max(1, n div target)` — identical BIGINT truncating division in
    * Spark (`div`) and DuckDB (`//`) on the non-negative count. */
  def closenessSeedModulus(nCustomers: Long): Long =
    math.max(1L, nCustomers / ClosenessSeedTarget)

  /** Bits per bitmask word; the sign bit stays clear. */
  private val BitW = 63

  /** The bitmask BFS core shared by [[closeness]] and [[anf]]: runs
    * the per-round `bit_or` relaxation from the given (sorted) seed
    * ids and returns the unioned NEWS rows (w, newbits, r) — every
    * (seed-bit, node) pair appears in exactly one round's rows, its
    * first-reach round (dist 0 never enters: a seed's own bit is set
    * before round 1). See the [[closeness]] scaladoc for the design
    * argument. */
  private def bitmaskBfsNews(edges0: DataFrame, seedIds: Array[Long],
      rounds: Int): DataFrame = {
    val sp = edges0.sparkSession
    import sp.implicits._
    val e = edges0.localCheckpoint(true)
    var st = seedIds.zipWithIndex.toSeq
      .map { case (id, i) => (id, i / BitW, 1L << (i % BitW)) }
      .toDF("node", "w", "mask").localCheckpoint(true)
    var delta = st
    val news = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val cand = e.join(delta.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("node"), col("w"))
        .agg(expr("bit_or(mask)").as("cand"))
      val merged = st.join(cand, Seq("node", "w"), "full_outer")
        .select(col("node"), col("w"),
          expr("coalesce(mask, CAST(0 AS BIGINT)) | coalesce(cand, CAST(0 AS BIGINT))").as("mask"),
          expr("coalesce(cand, CAST(0 AS BIGINT)) & ~coalesce(mask, CAST(0 AS BIGINT))").as("newbits"))
        .localCheckpoint(true)
      delta = merged.filter(col("newbits") =!= 0L)
        .select(col("node"), col("w"), col("newbits").as("mask"))
      news += merged.filter(col("newbits") =!= 0L)
        .select(col("w"), col("newbits"), lit(r).as("r"))
      st = merged.select(col("node"), col("w"), col("mask"))
    }
    news.reduce(_ unionAll _)
  }

  /** Per-seed closeness readout off a [[bitmaskBfsNews]] frame —
    * split out so [[pipelineGraphCentrality]] can feed BOTH readouts
    * from ONE BFS run. */
  private def closenessFromNews(news: DataFrame, seedIds: Array[Long],
      rounds: Int): DataFrame = {
    val sp = news.sparkSession
    import sp.implicits._
    // popcounts per (bit, round) are the labeled engine's
    // per-distance counts
    val bitsOf = s"filter(transform(sequence(0, ${BitW - 1}), b -> " +
      s"CASE WHEN (shiftright(newbits, b) & 1) = 1 THEN w * $BitW + b END), x -> x IS NOT NULL)"
    val bits = news.select(col("r"), explode(expr(bitsOf)).as("sb"))
    val cs = (1 to rounds).map(k =>
      sum(when(col("r") === k, 1L).otherwise(0L)).as(s"c$k"))
    val counts = bits.groupBy(col("sb")).agg(cs.head, cs.tail: _*)
    val mapDf = seedIds.zipWithIndex.toSeq.map { case (id, i) => (i, id) }
      .toDF("sb", "seed")
    counts.join(broadcast(mapDf), Seq("sb"))
      .selectExpr("seed", s"${closenessReachedSql(rounds)} AS reached",
        s"${closenessHarmonicSql(rounds)} AS closeness")
      .orderBy(col("seed"))
  }

  /** The distinct seed ids, sorted: the bit order of [[bitmaskBfsNews]]. */
  private def seedIdsOf(seeds: DataFrame): Array[Long] =
    seeds.select(col("node")).distinct().collect().map(_.getLong(0)).sorted

  /** Harmonic closeness per seed over a bounded-radius BFS: the
    * labeled multi-source relaxation (state = one (seed, node, dist)
    * row per reached pair, key = (seed, node) — the same `min(d,
    * d⋈e + 1)` rounds as [[bfs]] carrying the seed identity), then
    * harmonic centrality Σ_{v≠s} 1/d(s,v) — the standard
    * disconnected-safe closeness (Boldi–Vigna 2014).
    *
    * Determinism: distances are exact integers; the harmonic sum is
    * computed from the per-distance COUNTS (≤ `rounds` values), so it
    * is one fixed-order IEEE expression `c1 + c2/2 + … + c_r/r` over
    * exact integers shared with the oracle — never a float sum whose
    * order depends on row order.
    *
    * r9 engine: SEED-BITMASK multi-source BFS (the HyperBall/
    * Boldi–Vigna frame, exact here because the sampled seed count is
    * pinned ≈ [[ClosenessSeedTarget]] ≤ a few machine words). The r8
    * labeled relaxation carried one (seed, node, dist) row per pair —
    * |seeds|·|V| state re-shuffled every round (~68M expanded rows in
    * the worst sf0.1 round); this engine carries one 63-bit word per
    * (node, word) — |V|·⌈seeds/63⌉ rows — and each round is one
    * edge-scale join + `bit_or` merge (~2M rows), a ~30× shuffle cut
    * that GROWS with seed count. Per round only the NEWLY-set bits
    * propagate (the delta-BFS argument per bit: a bit first set on a
    * node at round r was offered to all neighbors at round r+1;
    * re-sending it can only re-mint held bits), and `newbits = cand &
    * ~mask` recovers first-reach rounds exactly — dist(seed, node) =
    * the round its bit appears, identical to the labeled fixpoint, so
    * the oracle (which unrolls the labeled form) and every fixture
    * are untouched. All ops are exact integer bit-algebra
    * (merge-order-free ⇒ partition-invariant); the final per-seed
    * distance counts explode only the news rows (≤ |seeds|·|V| bits
    * ONCE, keyed-aggregated). The seed list itself is collected to
    * the driver — metadata-scale BY DESIGN (Eppstein–Wang: the seed
    * COUNT is the pinned estimator knob), the centroid-collect
    * discipline. */
  def closeness(edges0: DataFrame, seeds: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val sp = edges0.sparkSession
    import sp.implicits._
    val seedIds = seedIdsOf(seeds)
    if (seedIds.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("seed", "reached", "closeness")
    closenessFromNews(bitmaskBfsNews(edges0, seedIds, rounds), seedIds, rounds)
  }

  /** Radius-cumulative pair counts off a [[bitmaskBfsNews]] frame —
    * see [[closenessFromNews]]. */
  private def anfFromNews(news: DataFrame, nSeeds: Long): DataFrame = {
    val sp = news.sparkSession
    import sp.implicits._
    val perRound = news
      .select(col("r"), expr("bit_count(newbits)").as("c"))
      .groupBy(col("r")).agg(sum(col("c")).cast(LongType).as("c"))
      .unionAll(Seq((0, nSeeds)).toDF("r", "c"))
    val wAsc = Window.orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perRound
      .withColumn("n_pairs", sum(col("c")).over(wAsc).cast(LongType))
      .crossJoin(broadcast(perRound.agg(sum(col("c")).cast(LongType).as("tot"))))
      .selectExpr("CAST(r AS BIGINT) AS radius", "n_pairs",
        "CAST(n_pairs AS DOUBLE) / tot AS frac",
        "n_pairs * 10 >= tot * 9 AS reaches_90pct")
      .orderBy(col("radius"))
  }

  /** Neighborhood function / effective-radius readout over the
    * sampled seeds (the ANF of Palmer et al. KDD'02 and HyperANF of
    * Boldi–Vigna WWW'11 — here EXACT over the pinned ≈64-seed sample
    * rather than probabilistic over all nodes, the same
    * Eppstein–Wang sampling contract as [[closeness]]):
    * N(r) = #(seed, node) pairs with dist ≤ r, the per-radius
    * coverage fraction, and the 90%-coverage flag whose first TRUE
    * radius IS the sampled effective diameter — the "how many hops
    * until everything is reachable" readout capacity planning and
    * partition-strategy choices read. One `bit_count` popcount per
    * news row (never a per-bit explode — counts don't need seed
    * identity), radius-scale algebra after; the 90% test is the exact
    * integer cross-multiplication `n·10 ≥ tot·9` (no float
    * threshold). Shares [[bitmaskBfsNews]] with [[closeness]]. */
  def anf(edges0: DataFrame, seeds: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val sp = edges0.sparkSession
    import sp.implicits._
    val seedIds = seedIdsOf(seeds)
    if (seedIds.isEmpty)
      return Seq.empty[(Long, Long, Double, Boolean)]
        .toDF("radius", "n_pairs", "frac", "reaches_90pct")
    anfFromNews(bitmaskBfsNews(edges0, seedIds, rounds), seedIds.length.toLong)
  }

  /** pipeline_graph_centrality (r9): BOTH bitmask-BFS readouts —
    * per-seed harmonic closeness and the radius neighborhood
    * function — off ONE BFS run, united into a (readout, k)-keyed
    * report: the `pipeline_ml_readouts` train-once/read-many pattern
    * applied to the graph tier (the BFS rounds are ~all the cost;
    * both readouts are cheap algebra over the same news rows — the
    * composed gate's bench target is ≈ one single's cost, not two).
    * The standalone `graph_closeness`/`graph_anf` gates rerun the BFS
    * by gate-isolation design; this is the production shape. Oracle =
    * the shared labeled-BFS CTE block + both readout blocks. */
  def pipelineGraphCentrality(edges0: DataFrame, seeds: DataFrame,
      rounds: Int = BfsRounds): DataFrame = {
    val sp = edges0.sparkSession
    import sp.implicits._
    val seedIds = seedIdsOf(seeds)
    if (seedIds.isEmpty)
      return Seq.empty[(String, String, Long, Double)]
        .toDF("readout", "k", "n", "v")
    val news = bitmaskBfsNews(edges0, seedIds, rounds)
      .localCheckpoint(true) // ONE BFS feeds both readouts
    // the union report key is a STRING: a DOUBLE key (r9) would
    // collide two seed ids above 2^53 in the readout — BIGINT→string
    // is identical across engines and collision-free at any magnitude
    val cl = closenessFromNews(news, seedIds, rounds)
      .selectExpr("'closeness' AS readout", "CAST(seed AS STRING) AS k",
        "CAST(reached AS BIGINT) AS n", "closeness AS v")
    val an = anfFromNews(news, seedIds.length.toLong)
      .selectExpr("'anf' AS readout", "CAST(radius AS STRING) AS k",
        "n_pairs AS n", "frac AS v")
    an.unionAll(cl).orderBy(col("readout"), col("k"))
  }

  /** `reached` / `closeness` sums shared with the oracle (identical
    * fixed-order IEEE sum over the exact distance counts). */
  private def closenessReachedSql(rounds: Int): String =
    (1 to rounds).map(k => s"c$k").mkString(" + ")
  private def closenessHarmonicSql(rounds: Int): String =
    (1 to rounds).map(k => s"CAST(c$k AS DOUBLE) / $k").mkString(" + ")

  /** Oracle of the sampled-seed BFS behind [[closeness]], [[anf]] and
    * [[pipelineGraphCentrality]]: the labeled relaxation the bitmask
    * engine's fixpoint equals, as `e`, `cust`, the size-derived seed
    * modulus `m` of [[closenessSeeds]], and rounds `d0` … `d`BfsRounds
    * of (seed, node, dist). */
  private def labeledBfsSql: String =
    s"""$coSql,
        e AS MATERIALIZED ($undirectedSql),
        cust AS MATERIALIZED (SELECT DISTINCT src AS node FROM e WHERE src < $SuppOffset),
        m AS (SELECT greatest(CAST(1 AS BIGINT), count(*) // $ClosenessSeedTarget) AS mm FROM cust),
        d0 AS MATERIALIZED (SELECT node AS seed, node, CAST(0 AS BIGINT) AS dist
          FROM cust WHERE node % (SELECT mm FROM m) = 0)""" +
      (1 to BfsRounds).map(it => s""",
        d$it AS MATERIALIZED (SELECT seed, node, min(dist) AS dist FROM (
          SELECT seed, node, dist FROM d${it - 1}
          UNION ALL
          SELECT d.seed, e.dst, d.dist + 1 FROM d${it - 1} d JOIN e ON d.node = e.src) GROUP BY seed, node)""").mkString

  /** Oracle: per-seed distance counts `counts(seed, c1 … c`BfsRounds`)`
    * off [[labeledBfsSql]]. */
  private def seedCountsSql: String = {
    val cs = (1 to BfsRounds)
      .map(k => s"CAST(sum(CASE WHEN dist = $k THEN 1 ELSE 0 END) AS BIGINT) AS c$k")
      .mkString(", ")
    s"counts AS (SELECT seed, $cs FROM d$BfsRounds WHERE dist > 0 GROUP BY seed)"
  }

  /** Oracle: radius-cumulative pair counts `anf(r, n_pairs)` and their
    * total `tot(t)` off [[labeledBfsSql]]. */
  private def anfCtesSql: String =
    s"""cnts AS (SELECT dist AS r, CAST(count(*) AS BIGINT) AS c FROM d$BfsRounds GROUP BY dist),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnts),
        anf AS (SELECT r, CAST(sum(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs FROM cnts)"""

  /** The customer–supplier edges, checkpointed ONCE, and the sampled
    * seeds of [[closenessSeeds]]: the seed-modulus count, the seed
    * collect and the BFS all read the one edge build, and `cust` the
    * count and the collect. */
  private def seededEdges(s: org.apache.spark.sql.SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = edges(s, d).localCheckpoint(true)
    val cust = e.select(col("src").as("node")).distinct()
      .filter(col("node") < SuppOffset).localCheckpoint(true)
    (e, closenessSeeds(cust))
  }

  val closenessQuery = QueryDef(
    "graph_closeness",
    Some(s"""$labeledBfsSql,
        $seedCountsSql
        SELECT seed, ${closenessReachedSql(BfsRounds)} AS reached,
          ${closenessHarmonicSql(BfsRounds)} AS closeness
        FROM counts ORDER BY seed"""),
    (s, d) => { val (e, seeds) = seededEdges(s, d); closeness(e, seeds) })

  val anfQuery = QueryDef(
    "graph_anf",
    Some(s"""$labeledBfsSql,
        $anfCtesSql
        SELECT anf.r AS radius, anf.n_pairs,
          CAST(anf.n_pairs AS DOUBLE) / tot.t AS frac,
          anf.n_pairs * 10 >= tot.t * 9 AS reaches_90pct
        FROM anf, tot ORDER BY radius"""),
    (s, d) => { val (e, seeds) = seededEdges(s, d); anf(e, seeds) })

  val pipelineGraphCentralityQuery = QueryDef(
    "pipeline_graph_centrality",
    Some(s"""$labeledBfsSql,
        $seedCountsSql,
        cl AS (SELECT 'closeness' AS readout, CAST(seed AS VARCHAR) AS k,
          CAST(${closenessReachedSql(BfsRounds)} AS BIGINT) AS n,
          ${closenessHarmonicSql(BfsRounds)} AS v FROM counts),
        $anfCtesSql,
        an AS (SELECT 'anf' AS readout, CAST(anf.r AS VARCHAR) AS k,
          anf.n_pairs AS n, CAST(anf.n_pairs AS DOUBLE) / tot.t AS v FROM anf, tot)
        SELECT * FROM an UNION ALL SELECT * FROM cl ORDER BY readout, k"""),
    (s, d) => { val (e, seeds) = seededEdges(s, d); pipelineGraphCentrality(e, seeds) })

  /** Size-derived seed selection over a `node` column: ONE one-row
    * count broadcast into the modulus filter, so the seed count stays
    * ≈ [[ClosenessSeedTarget]] at ANY corpus size (a fixed RATE would
    * grow BFS state ~V²/rate — the r7 verdict's scale-killer). */
  def closenessSeeds(cust: DataFrame): DataFrame = {
    val m = cust.agg(greatest(lit(1L),
      (count(lit(1)) / lit(ClosenessSeedTarget)).cast("long")).as("mm"))
    cust.crossJoin(broadcast(m))
      .filter(col("node") % col("mm") === 0).select(col("node"))
  }

  // ------------------------------------------------------------ hits
  /** Fixed HITS round count — both engines unroll the same rounds. */
  val HitsIters = 3
  /** Integer scale the per-side score mass is renormalized to. */
  val HitsTotalUnits = 1000000000000L

  /** HITS (Kleinberg, JACM 1999) on the DIRECTED customer→supplier
    * purchase graph — customers are HUBS, suppliers AUTHORITIES:
    * a(p) = Σ_{c→p} h(c), h(c) = Σ_{c→p} a(p), each side renormalized
    * per round. The renormalization is the pure-BIGINT DIVISOR trick
    * `x div max(1, Σx div `[[HitsTotalUnits]]`)` — no product that
    * can wrap, `//` ≡ `div` on non-negatives, and the sums are exact
    * integers (merge-order-free), so the whole iteration is
    * bit-reproducible under any partitioning (the pagerank
    * discipline; a float-normalized HITS differs across shuffle merge
    * orders). Overflow bound: between renormalizations a sum grows at
    * most max-degree × total ≈ maxdeg·1e12 — BIGINT-safe for
    * maxdeg < 9·10⁶ (drop the unit a decade per decade beyond).
    *
    * 100 TB shape: per round two edge-scale equi-joins + map-
    * combinable sums; the renormalization totals ride one-row
    * broadcasts; top-k per side is TakeOrderedAndProject. */
  def hits(co0: DataFrame, iters: Int = HitsIters, truncate: Boolean = true)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): (DataFrame, DataFrame) = {
    val co = co0.select(col("c"), col("p")).distinct().transform(scope.persist)
    def rescale(raw: DataFrame): DataFrame =
      raw.crossJoin(broadcast(raw.agg(sum(col("s0")).cast(LongType).as("tt"))))
        .selectExpr("node",
          s"s0 div greatest(CAST(1 AS BIGINT), tt div $HitsTotalUnits) AS score")
    var h = co.select(col("c").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("score"))
    var a: DataFrame = null
    for (i <- 1 to iters) {
      // truncate = false keeps the full linear DAG (plan guards
      // inspect it); production keeps per-round truncation. The CUT
      // sits on the grouped PRE-rescale frame (r9, the r8 ADVICE
      // item): rescale references its input twice (base + the one-row
      // total), so checkpointing after it re-ran each half-round's
      // edge-scale join+groupBy twice — checkpointed before, the
      // rescale is a node-scale map over the checkpoint and the
      // edge-scale work runs once per half-round.
      def cut(df: DataFrame) = if (truncate) df.localCheckpoint(true) else df
      a = rescale(cut(co.join(h.withColumnRenamed("node", "c").hint("shuffle_hash"), Seq("c"))
        .groupBy(col("p").as("node")).agg(sum(col("score")).cast(LongType).as("s0"))))
      h = rescale(cut(co.join(a.withColumnRenamed("node", "p").hint("shuffle_hash"), Seq("p"))
        .groupBy(col("c").as("node")).agg(sum(col("score")).cast(LongType).as("s0"))))
    }
    (h, a)
  }

  val hitsQuery = QueryDef(
    "graph_hits",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        h0 AS (SELECT DISTINCT c AS node, CAST(1000000 AS BIGINT) AS score FROM co)""")
      for (it <- 1 to HitsIters) {
        sb.append(s""",
        ar$it AS (SELECT co.p AS node, CAST(sum(h.score) AS BIGINT) AS s0
          FROM co JOIN h${it - 1} h ON h.node = co.c GROUP BY co.p),
        at$it AS (SELECT CAST(sum(s0) AS BIGINT) AS tt FROM ar$it),
        a$it AS (SELECT node, s0 // greatest(CAST(1 AS BIGINT), tt // $HitsTotalUnits) AS score
          FROM ar$it, at$it),
        hr$it AS (SELECT co.c AS node, CAST(sum(a.score) AS BIGINT) AS s0
          FROM co JOIN a$it a ON a.node = co.p GROUP BY co.c),
        ht$it AS (SELECT CAST(sum(s0) AS BIGINT) AS tt FROM hr$it),
        h$it AS (SELECT node, s0 // greatest(CAST(1 AS BIGINT), tt // $HitsTotalUnits) AS score
          FROM hr$it, ht$it)""")
      }
      sb.append(s"""
        SELECT side, rk, node, score FROM (
          SELECT 'auth' AS side, node, score,
            row_number() OVER (ORDER BY score DESC, node) AS rk FROM a$HitsIters
          UNION ALL
          SELECT 'hub' AS side, node, score,
            row_number() OVER (ORDER BY score DESC, node) AS rk FROM h$HitsIters) t
        WHERE rk <= 10 ORDER BY side, rk""")
      sb.toString
    },
    (s, d) => {
      val (h, a) = hits(purchases(s, d))
      val top = (df: DataFrame, side: String) => df
        .orderBy(col("score").desc, col("node")).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("score").desc, col("node"))))
        .selectExpr(s"'$side' AS side", "rk", "node", "score")
      top(a, "auth").unionAll(top(h, "hub"))
        .orderBy(col("side"), col("rk"))
    })

  // ------------------------------------------- label propagation
  /** Fixed synchronous LPA schedule — both engines unroll the same
    * rounds, so oscillation (inherent to synchronous LPA on bipartite
    * graphs) is identically reproduced rather than worked around. */
  val LpaRounds = 3

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * near-linear community-detection staple): every node starts as
    * its own label; each round every node adopts its neighborhood's
    * MODE label, ties broken by the smallest label — the
    * deterministic variant (the randomized original is not
    * gate-able). Per round: one edge-scale join + (node, label)
    * count aggregate (map-side combinable) + a per-node window
    * (key-bounded — frame size = the node's distinct neighbor-label
    * count, ≤ degree). Labels are node ids (exact integers); the
    * argmax order `(count DESC, label ASC)` is a total order, so any
    * partitioning yields the identical labeling. */
  def labelPropagation(edges0: DataFrame, rounds: Int = LpaRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges0.localCheckpoint(true)
    var l = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val cnt = e.join(l.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst")).orderBy(col("c").desc, col("lbl"))
      l = cnt.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("dst").as("node"), col("lbl"))
        .localCheckpoint(true)
    }
    l
  }

  /** Oracle: label-propagation rounds `l1` … `l`LpaRounds over `e`
    * from `l0`, the unrolled [[labelPropagation]]. */
  private def lpaRoundsSql: String = (1 to LpaRounds).map(it => s""",
        l$it AS MATERIALIZED (SELECT node, lbl FROM (
          SELECT e.dst AS node, l.lbl, count(*) AS c,
            row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.lbl) AS rk
          FROM e JOIN l${it - 1} l ON e.src = l.node GROUP BY e.dst, l.lbl) t WHERE rk = 1)""").mkString

  val labelPropQuery = QueryDef(
    "graph_label_prop",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        e AS MATERIALIZED ($undirectedSql),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e)""")
      sb.append(lpaRoundsSql)
      sb.append(s"""
        SELECT lbl AS community, count(*) AS n_nodes FROM l$LpaRounds
        GROUP BY lbl ORDER BY n_nodes DESC, community""")
      sb.toString
    },
    (s, d) => labelPropagation(edges(s, d))
      .groupBy(col("lbl").as("community")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community")))

  // --------------------------------------------- degree distribution
  /** Degree-distribution histogram over the co-purchase graph — the
    * first sanity check on ANY graph pipeline (a power-law tail says
    * "expect hubs: salt or cap them"; its absence says uniform
    * partitioning is safe — this is how the triangles/node_similarity
    * cap parameters get set). Buckets are powers of two via exact
    * INTEGER arithmetic (`length(bin(deg)) − 1` = ⌊log₂ deg⌋ — no
    * float log, so bucket edges can't disagree across engines). One
    * map-combinable degree aggregate + one bucket-scale aggregate;
    * nothing else touches the edge list. */
  val degreeStats = QueryDef(
    "graph_degree_stats",
    Some(s"""$coSql,
      e AS ($undirectedSql),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
      SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket, count(*) AS n_nodes,
        CAST(min(deg) AS BIGINT) AS min_deg, CAST(max(deg) AS BIGINT) AS max_deg
      FROM deg GROUP BY 1 ORDER BY bucket"""),
    (s, d) => {
      val deg = edges(s, d).groupBy(col("src")).agg(count(lit(1)).as("deg"))
      deg.select((length(bin(col("deg"))) - 1).cast("long").as("bucket"), col("deg"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy(col("bucket"))
    })

  // ------------------------------------------------------ modularity
  /** Newman modularity of the LPA partition — the community-quality
    * audit (Q = Σ_c [win_c/2m − (d_c/2m)²]; Q near 0 says the
    * "communities" are no better than random, and that verdict should
    * gate whether a partition is USED). Directed-edge form: with both
    * edge directions present, 2m = Σ_c d_c and win_c counts
    * within-community directed edges — all EXACT integers from one
    * labeled-edge aggregate (labels are the gated [[labelPropagation]]
    * fixpoint; the label join is two node-keyed hash joins). The
    * per-community contribution is one shared fixed-order IEEE
    * expression; 2m derives from the community table, so the edge
    * list is scanned once past the labeling. */
  val modularityQuery = QueryDef(
    "graph_modularity",
    Some {
      val sb = new StringBuilder(
        s"""$coSql,
        e AS ($undirectedSql),
        l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)""")
      sb.append(lpaRoundsSql)
      sb.append(s""",
        cs AS (SELECT ls.lbl AS community,
            CAST(count(*) AS BIGINT) AS d_c,
            CAST(sum(CASE WHEN ls.lbl = ld.lbl THEN 1 ELSE 0 END) AS BIGINT) AS win_c
          FROM e JOIN l$LpaRounds ls ON e.src = ls.node JOIN l$LpaRounds ld ON e.dst = ld.node
          GROUP BY ls.lbl),
        mm AS (SELECT CAST(sum(d_c) AS DOUBLE) AS m2 FROM cs)
        SELECT community, d_c, win_c,
          round(win_c / m2 - (d_c / m2) * (d_c / m2), 6) AS contribution
        FROM cs, mm ORDER BY community""")
      sb.toString
    },
    (s, d) => {
      val e = edges(s, d).localCheckpoint(true)
      modularityOf(e, labelPropagation(e))
    })

  /** Per-community modularity contributions of a (node, lbl)
    * labeling over a directed edge list (both directions present) —
    * see [[modularityQuery]]. Σ contribution = Newman's Q. */
  def modularityOf(e: DataFrame, l: DataFrame): DataFrame = {
    val cs = e
      .join(l.withColumnRenamed("node", "src").withColumnRenamed("lbl", "sl")
        .hint("shuffle_hash"), Seq("src"))
      .join(l.withColumnRenamed("node", "dst").withColumnRenamed("lbl", "dl")
        .hint("shuffle_hash"), Seq("dst"))
      .groupBy(col("sl").as("community"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("sl") === col("dl"), 1L).otherwise(0L)).as("win_c"))
      .localCheckpoint(true) // communities-scale; feeds 2m and the output
    val mm = cs.agg(sum(col("d_c")).cast("double").as("m2"))
    cs.crossJoin(broadcast(mm))
      .selectExpr("community", "d_c", "win_c",
        "round(win_c / m2 - (d_c / m2) * (d_c / m2), 6) AS contribution")
      .orderBy(col("community"))
  }

  // --------------------------------------------------- assortativity
  /** Degree assortativity — Pearson correlation of (deg(src),
    * deg(dst)) across directed edges (Newman 2002): the one-number
    * answer to "do hubs attach to hubs?", which decides whether
    * degree-based partitioning/salting will help. Degrees are one
    * map-combinable aggregate joined back onto the edge list (two
    * node-keyed, key-bounded joins); the correlation runs on exact
    * integer degree pairs through the q43 DECIMAL moment discipline
    * and one fixed-order IEEE expression. Bipartite co-purchase
    * graphs skew negative — high-degree customers buy from many
    * ordinary suppliers. */
  val assortativity = QueryDef(
    "graph_assortativity",
    Some(s"""$coSql,
      e AS ($undirectedSql),
      deg AS (SELECT src AS node, count(*) AS dg FROM e GROUP BY src),
      pr AS (SELECT a.dg AS dx, b.dg AS dy
        FROM e JOIN deg a ON e.src = a.node JOIN deg b ON e.dst = b.node),
      m AS (SELECT count(*) AS n,
          CAST(sum(CAST(dx AS DECIMAL(18,0))) AS DOUBLE) AS sx,
          CAST(sum(CAST(dy AS DECIMAL(18,0))) AS DOUBLE) AS sy,
          CAST(sum(CAST(dx * dx AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(dy * dy AS DECIMAL(28,0))) AS DOUBLE) AS syy,
          CAST(sum(CAST(dx * dy AS DECIMAL(28,0))) AS DOUBLE) AS sxy
        FROM pr)
      SELECT n AS n_edges,
        round((sxy - sx * sy / n) /
          sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS assortativity
      FROM m"""),
    (s, d) => {
      val e = edges(s, d).localCheckpoint(true)
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val pr = e
        .join(deg.withColumnRenamed("node", "src").withColumnRenamed("dg", "dx"), Seq("src"))
        .join(deg.withColumnRenamed("node", "dst").withColumnRenamed("dg", "dy"), Seq("dst"))
      val m = pr.agg(count(lit(1)).as("n"),
        sum(col("dx").cast(org.apache.spark.sql.types.DecimalType(18, 0))).cast("double").as("sx"),
        sum(col("dy").cast(org.apache.spark.sql.types.DecimalType(18, 0))).cast("double").as("sy"),
        sum((col("dx") * col("dx")).cast(org.apache.spark.sql.types.DecimalType(28, 0))).cast("double").as("sxx"),
        sum((col("dy") * col("dy")).cast(org.apache.spark.sql.types.DecimalType(28, 0))).cast("double").as("syy"),
        sum((col("dx") * col("dy")).cast(org.apache.spark.sql.types.DecimalType(28, 0))).cast("double").as("sxy"))
      m.selectExpr("n AS n_edges",
        """round((sxy - sx * sy / n) /
           sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS assortativity""")
    })

  /** Hub cap for [[linkPredictionTopK]] wedge expansion: middle nodes
    * with degree above this are excluded BEFORE the O(deg²) pair
    * fan-out (the `MaxOrderSize` discipline — and for link prediction
    * the cut is also SEMANTIC: a hub's 1/ln(deg) Adamic–Adar weight
    * is near-zero information, which is the whole point of the AA
    * weighting; every production LP system trims hubs). Gate degrees
    * stay far below the cap, but it is ENFORCED and mirrored in the
    * oracle. */
  val MaxWedgeDegree = 1000L

  /** Link-prediction gate's item-graph sparsifier: quantity ≥ 45
    * co-purchases (the CC-gate idea at lower selectivity — the full
    * item graph's wedge volume is quadratic in co-purchase degree
    * and belongs to the capped candidate machinery, not a gate). */
  val LpPredicate = "l_quantity >= 45"

  /** Top-k link prediction over an undirected simple graph given as
    * DISTINCT (u, v) pairs with u < v — the "related but not yet
    * linked" recommender (Liben-Nowell & Kleinberg 2003): candidate
    * pairs are 2-hop neighbors (a wedge through a shared middle node
    * z) that are NOT edges, scored by common-neighbor count, the
    * neighborhood Jaccard, and Adamic–Adar Σ_z 1/ln(deg z) — the
    * inverse-log weighting that discounts promiscuous middles.
    *
    * Distributed shape: wedges come from ONE self-join of the doubled
    * edge list on the middle node, with middles above `maxDeg`
    * dropped BEFORE the O(deg²) expansion ([[MaxWedgeDegree]]);
    * existing edges leave via a left-anti join on the (u, v) key;
    * degrees ride nodes-scale joins (AQE broadcasts them at gate
    * scale). Ranking is on the EXACT DECIMAL Adamic–Adar sum (each
    * wedge term 12-dp-rounded, merge-order free — the ngram_lm
    * discipline), ties on (u, v); the top-k runs through
    * `TakeOrderedAndProject`. Middles need deg ≥ 2 to form a wedge,
    * so ln(deg z) ≥ ln 2 and the division is always defined. */
  def linkPredictionTopK(g: DataFrame, k: Int = 20, maxDeg: Long = MaxWedgeDegree)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    val gP = scope.persist(g)
    val e = scope.persist(
      gP.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(gP.select(col("v").as("src"), col("u").as("dst"))))
    val deg = e.groupBy(col("src").as("nd")).agg(count(lit(1)).cast("long").as("dg"))
    val mid = deg.filter(col("dg") >= 2 && col("dg") <= maxDeg)
    val w = e.as("a").join(e.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .join(mid, col("a.src") === col("nd"))
      .select(col("a.dst").as("u"), col("b.dst").as("v"), col("dg").as("dgz"))
    val ag = w.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("long").as("cn"),
        sum(expr("CAST(round(CAST(1 AS DOUBLE) / ln(CAST(dgz AS DOUBLE)), 12) AS DECIMAL(28,12))"))
          .as("aa"))
    ag.join(gP, Seq("u", "v"), "left_anti")
      .join(deg.select(col("nd").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("nd").as("v"), col("dg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        round(col("cn").cast("double") / (col("du") + col("dv") - col("cn")), 6).as("jac"),
        col("aa"))
      .orderBy(col("aa").desc, col("u"), col("v"))
      .limit(k)
      .selectExpr("u", "v", "cn", "du", "dv", "jac", "CAST(aa AS DOUBLE) AS aa")
  }

  /** graph_link_prediction: Adamic–Adar / common-neighbor link
    * prediction over the sparsified co-purchase ITEM graph (parts
    * co-bought in a quantity-≥-45 order) — the unipartite projection
    * where "not yet an edge" is a REAL exclusion (the raw
    * customer–supplier graph is bipartite: same-side pairs are never
    * adjacent and the anti-join would be vacuous). Complements
    * `graph_node_similarity`, which scores pairs that DO share an
    * order; this ranks the pairs one hop further out — the
    * recommender's "you may also like" frontier. */
  val linkPrediction = QueryDef(
    "graph_link_prediction",
    Some(s"""WITH co0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE $LpPredicate),
      ok AS (SELECT o FROM co0 GROUP BY o HAVING count(*) <= $MaxOrderSize),
      co AS (SELECT co0.o, co0.p FROM co0 JOIN ok ON co0.o = ok.o),
      g AS (SELECT DISTINCT a.p AS u, b.p AS v FROM co a JOIN co b ON a.o = b.o AND a.p < b.p),
      e AS (SELECT u AS src, v AS dst FROM g UNION ALL SELECT v, u FROM g),
      deg AS (SELECT src AS nd, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY src),
      mid AS (SELECT nd, dg FROM deg WHERE dg >= 2 AND dg <= $MaxWedgeDegree),
      w AS (SELECT a.dst AS u, b.dst AS v, m.dg AS dgz
        FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
        JOIN mid m ON a.src = m.nd),
      ag AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
          sum(CAST(round(CAST(1 AS DOUBLE) / ln(CAST(dgz AS DOUBLE)), 12) AS DECIMAL(28,12))) AS aa
        FROM w GROUP BY u, v),
      nn AS (SELECT ag.* FROM ag WHERE NOT EXISTS (SELECT 1 FROM g WHERE g.u = ag.u AND g.v = ag.v)),
      res AS (SELECT nn.u, nn.v, nn.cn, da.dg AS du, db.dg AS dv,
          round(CAST(nn.cn AS DOUBLE) / (da.dg + db.dg - nn.cn), 6) AS jac, nn.aa
        FROM nn JOIN deg da ON nn.u = da.nd JOIN deg db ON nn.v = db.nd
        ORDER BY nn.aa DESC, nn.u, nn.v LIMIT 20)
      SELECT u, v, cn, du, dv, jac, CAST(aa AS DOUBLE) AS aa FROM res"""),
    (s, d) => {
      val co0 = Tables.lineitem(s, d).filter(LpPredicate)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val coP = graft.CacheScope.untracked.persist(co0)
      val kept = coP.join(
        coP.groupBy(col("o")).agg(count(lit(1)).as("osz"))
          .filter(col("osz") <= MaxOrderSize).select(col("o")), Seq("o"))
      val g = kept.as("a").join(kept.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      linkPredictionTopK(g)
    })

  val defs: Seq[QueryDef] = Seq(pagerankTop, triangles, nodeSimilarity,
    connectedComponents, kcoreQuery, bfsQuery, labelPropQuery, degreeStats,
    modularityQuery, assortativity, closenessQuery, hitsQuery, anfQuery,
    pipelineGraphCentralityQuery, linkPrediction, clusteringCoeff)
}
