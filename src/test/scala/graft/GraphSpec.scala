package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The integer-arithmetic PageRank must be EXACTLY reproducible under
  * any partitioning (the property the micro-unit/floor-div discipline
  * buys — a double-valued PR differs across shuffle merge orders),
  * and structurally sane: rank mass concentrates on high-degree
  * nodes. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def chain(edges: Seq[(Long, Long)], parts: Int) = {
    import spark.implicits._
    val und = edges ++ edges.map(e => (e._2, e._1))
    CacheScope.withScope { implicit s =>
      operators.Graph.pagerank(und.toDF("src", "dst").repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
  }

  test("pagerank is bit-reproducible across partitionings and favors hubs") {
    val rnd = new scala.util.Random(83)
    // a hub (node 0) plus random sparse edges
    val edges = (1L to 40L).map(v => (0L, v)) ++
      (0 until 60).map(_ => (1 + rnd.nextInt(40).toLong, 1 + rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
    val a = chain(edges, 2)
    val b = chain(edges, 13)
    assert(a == b, "integer pagerank must not depend on partitioning")
    val hubRank = a(0L)
    assert(a.values.count(_ > hubRank) == 0, "the hub must carry the top rank")
  }

  test("pagerank iters=20 finishes with truncated lineage (checkpoint interval)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    val und = edges ++ edges.map(e => (e._2, e._1))
    val r = CacheScope.withScope { implicit s =>
      operators.Graph.pagerank(und.toDF("src", "dst"), iters = 20)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    }
    assert(r.size == 4 && r.values.forall(_ > 0))
    // 20 iterations cross the checkpoint cadence twice (rounds 8 and
    // 16) — the run completing at all is the point: an unbounded
    // 20-round lineage is the analyzed-plan blowup the interval
    // prevents for library callers with user-set iters
    assert(r.values.sum > 4 * 150000L)
  }

  test("node similarity drops mega-orders before the O(k^2) expansion") {
    import spark.implicits._
    // 3 small baskets sharing parts, plus one planted mega-basket
    // whose size exceeds the cap — its C(n,2) pairs must NOT appear
    val small = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L),
      (3L, 11L), (3L, 12L))
    val mega = (100L until 160L).map(p => (99L, p)) // basket of 60 > cap 50
    val co = (small ++ mega).toDF("o", "p")
    val rows = CacheScope.withScope { implicit s =>
      operators.Graph.nodeSimilarityTopK(co, k = 1000, maxOrderSize = 50).collect()
    }
    // every surviving pair comes from the small baskets (parts < 100);
    // the mega-basket's 1770 pairs are gone
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < 100L && r.getLong(1) < 100L),
      s"mega-order pairs leaked: ${rows.filter(r => r.getLong(0) >= 100L).mkString(",")}")
    // and degrees are computed over kept baskets only: part 10 appears
    // in baskets 1 and 2 -> du = 2 for the (10, 11) pair
    val p1011 = rows.find(r => r.getLong(0) == 10L && r.getLong(1) == 11L).get
    assert(p1011.getLong(3) == 2L && p1011.getLong(2) == 2L)
    // below-cap run keeps everything: raising the cap re-admits the mega pairs
    val all = CacheScope.withScope { implicit s =>
      operators.Graph.nodeSimilarityTopK(co, k = 100000, maxOrderSize = 60).collect()
    }
    assert(all.length == rows.length + 60 * 59 / 2)
  }

  test("degree-ordered triangle count equals the naive count, at any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // random sparse graph with a skewed hub (node 0 touches everything)
    // — precisely the degree profile the orientation exists for
    val n = 60
    val raw = (1 to 500).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
      (1L until n.toLong).map((0L, _))
    val edges = raw.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = edges.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).toSet) }
      .withDefaultValue(Set.empty[Long])
    // yield the full (u, v, w) triple: the inner generator is a Set,
    // so yielding a constant would collapse per-edge matches to one
    val naive = (for {
      (u, v) <- edges
      w <- adj(v) if adj(u).contains(w)
    } yield (u, v, w)).size
    for (parts <- Seq(2, 9)) {
      val row = CacheScope.withScope { implicit s =>
        operators.Graph.triangleStats(edges.toDF("u", "v").repartition(parts))
          .collect().head
      }
      assert(row.getLong(0) == edges.size.toLong, "edge count")
      assert(row.getLong(2) == naive.toLong,
        s"degree-ordered count ${row.getLong(2)} != naive $naive at $parts partitions")
    }
  }

  test("triangleStats and localClustering on an empty and on a triangle-free edge set") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    // a 4-cycle with a two-edge tail: every degree ≥ 1, no triangle
    val free = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val stats = "StructType(StructField(n_edges,LongType,false),StructField(n_wedges,LongType,true)," +
      "StructField(n_triangles,LongType,false),StructField(clustering,DoubleType,true))"
    val local = "StructType(StructField(deg_bucket,LongType,false),StructField(n_nodes,LongType,false)," +
      "StructField(n_tri_corners,LongType,true),StructField(n_wedges,LongType,true)," +
      "StructField(avg_local_cc,DoubleType,true))"
    for ((e, wantStats, wantLocal) <- Seq(
        (empty, Seq("[0,null,0,null]"), Seq.empty[String]),
        (free, Seq("[6,7,0,0.0]"), Seq("[2,5,0,7,0.0]")))) {
      CacheScope.withScope { implicit s =>
        val t = operators.Graph.triangleStats(e)
        assert(t.collect().map(_.toString).toSeq == wantStats)
        assert(t.schema.toString == stats)
        val l = operators.Graph.localClustering(e)
        assert(l.collect().map(_.toString).toSeq == wantLocal)
        assert(l.schema.toString == local)
      }
    }
  }

  test("graph_triangles runs at most 19 jobs once its table's schema is known") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Harness.isDrainMarker(e)) jobs.incrementAndGet()
    }
    Tables.lineitem(spark, TestSpark.sfDir) // the one schema inference
    spark.sparkContext.addSparkListener(counter)
    try {
      Harness.eachQuery(spark, Seq("graph_triangles"))((_, q) => Harness.runNoop(q(TestSpark.sfDir)))
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
    } finally spark.sparkContext.removeSparkListener(counter)
    // AQE stages of the edge build, the degree and adjacency caches and
    // the one list join; 26 when every read inferred its schema and the
    // oriented edges were cached and joined back to their source's list
    assert(jobs.get <= 19, s"graph_triangles ran ${jobs.get} jobs")
  }

  test("component summary labels planted components by min id, any partitioning") {
    import spark.implicits._
    val off = operators.Graph.SuppOffset
    // component A: customers {1,2,3} via supplier off+1; component B:
    // customers {10,11} via suppliers off+2, off+3 (a 2-supplier chain);
    // component C: the isolated pair (20, off+9)
    val co = Seq(
      (1L, off + 1), (2L, off + 1), (3L, off + 1),
      (10L, off + 2), (11L, off + 2), (11L, off + 3),
      (20L, off + 9))
    for (parts <- Seq(1, 7)) {
      val rows = operators.Graph.componentSummary(
          co.toDF("c", "p").repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        (1L, 4L, 3L, 1L),   // {1,2,3,off+1} labeled by min id 1
        (10L, 4L, 2L, 2L),  // {10,11,off+2,off+3}
        (20L, 2L, 1L, 1L)), // {20,off+9}
        s"component summary at $parts partitions: ${rows.toSeq}")
    }
  }

  test("kcore: result is a true k-core fixpoint (one extra peel is a no-op) and peels known shell nodes") {
    import spark.implicits._
    val k = operators.Graph.KCoreK
    // synthetic: a (k+1)-clique (every node degree k) plus a pendant
    // chain hanging off it — the chain must peel away, the clique stays
    val clique = for { a <- 0 to k; b <- 0 to k if a != b } yield (a.toLong, b.toLong)
    val chain = Seq((0L, 100L), (100L, 0L), (100L, 101L), (101L, 100L))
    val e = (clique ++ chain).toDF("src", "dst")
    val core = operators.Graph.kcore(e).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core.map(_._1).toSet == (0 to k).map(_.toLong).toSet, s"chain must peel: ${core.toSeq}")
    assert(core.forall(_._2 >= k), "every surviving node keeps degree >= k")
    // fixpoint on the real graph: surviving degrees all >= k means one
    // more peel round removes nothing
    val real = operators.Graph.kcore(
      operators.Graph.edgesForTest(spark, TestSpark.sfDir)).collect()
    assert(real.nonEmpty, "real co-purchase graph has a nonempty 8-core at sf0.001")
    assert(real.forall(_.getLong(1) >= k), "converged: no node below k remains after the round budget")
  }

  test("bfs: planted path distances exact, disconnected pair unreached, partition invariant") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a disconnected pair {10, 11}
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val e = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    for (parts <- Seq(2, 7)) {
      val seeds = Seq(1L).toDF("node")
      val d = operators.Graph.bfs(e.repartition(parts), seeds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L),
        s"path distances at $parts partitions: $d")
    }
  }

  test("bfs: multi-source takes the min over seeds") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val d = operators.Graph.bfs(e, Seq(1L, 5L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("label propagation: disconnected cliques converge to distinct single labels") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a != b } yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L))).toDF("src", "dst")
    for (parts <- Seq(2, 5)) {
      val l = operators.Graph.labelPropagation(e.repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(l.keySet == Set(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
      // with no bridge, each clique settles onto exactly one label
      // (the min id, reached by round 2 under the (count DESC, label
      // ASC) tie order) and the components cannot share one
      assert(l.filter(_._1 <= 4L).values.toSet == Set(1L), s"clique A: $l")
      assert(l.filter(_._1 >= 11L).values.toSet == Set(11L), s"clique B: $l")
    }
  }

  test("modularity of two disconnected cliques under their LPA labels is exactly 1/2") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a != b } yield (a, b)
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L))).toDF("src", "dst")
    val rows = operators.Graph.modularityOf(e, operators.Graph.labelPropagation(e))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // each clique: d_c = win_c = 12 directed edges, m2 = 24:
    // contribution = 1/2 - 1/4 = 1/4; Q = 1/2 (the closed form for
    // two equal disconnected communities)
    assert(rows.map(_._1).toSet == Set(1L, 11L))
    rows.foreach { r =>
      assert(r._2 == 12L && r._3 == 12L)
      assert(r._4 == 0.25)
    }
    assert(rows.map(_._4).sum == 0.5)
  }

  test("assortativity of a star is strongly negative; value bounded") {
    // the query runs on the co-purchase graph; pin the metric's sign
    // convention on the canonical disassortative structure by
    // replicating the moment algebra over a star via the public parts
    val r = operators.Graph.assortativity.build(spark, TestSpark.sfDir).collect().head
    val (n, a) = (r.getLong(0), r.getDouble(1))
    assert(n > 0)
    assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"correlation out of range: $a")
    assert(a < 0, "bipartite co-purchase graphs are disassortative (hubs attach to leaves)")
  }

  test("label propagation: bridged graph labels are partition-count invariant") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a != b } yield (a, b)
    val bridge = Seq((3L, 13L), (13L, 3L))
    val e = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L)) ++ bridge)
      .toDF("src", "dst")
    def run(parts: Int) = operators.Graph.labelPropagation(e.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(run(2) == run(7), "the (count DESC, label ASC) total order must make sync LPA deterministic")
  }

  test("closeness: planted path hits the harmonic closed form, disconnected node excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // path 1-2-3-4-5 (undirected) + isolated pair 100-101; seed at 1:
    // dists 1,2,3,4 → harmonic = 1 + 1/2 + 1/3 + 1/4
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (100L, 101L))
    val e = (path ++ path.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = operators.Graph.closeness(e, seeds).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 1L)
    assert(row.getLong(1) == 4L, "reached must exclude self and the disconnected pair")
    assert(row.getDouble(2) == 1.0 + 1.0 / 2 + 1.0 / 3 + 1.0 / 4)
    // partition invariance: exact integer counts → identical doubles
    val r7 = operators.Graph.closeness(e.repartition(7), seeds).collect().head
    assert(r7.getDouble(2) == row.getDouble(2))
  }

  test("closeness: star center beats leaves on the gated seed semantics") {
    import spark.implicits._
    // star: center 0, leaves 1..6; seeds at center and one leaf
    val es = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L)))
    val e = es.toDF("src", "dst")
    val r = operators.Graph.closeness(e, Seq(0L, 1L).toDF("node"))
      .collect().map(x => (x.getLong(0), x.getDouble(2))).toMap
    assert(r(0L) == 6.0, "center reaches all 6 leaves at distance 1")
    assert(r(1L) == 1.0 + 5.0 / 2, "leaf: center at 1, five siblings at 2")
  }

  test("closenessSeeds: seed count tracks the TARGET, not a rate, across corpus sizes (r8)") {
    import spark.implicits._
    val t = operators.Graph.ClosenessSeedTarget
    for (n <- Seq(300L, 3000L)) {
      // node ids with gaps (every 3rd id), like custkeys with orders
      val cust = spark.range(0, n).select((col("id") * 3).as("node"))
      val seeds = operators.Graph.closenessSeeds(cust).count()
      // modulus = n div target, so count is within a 2x band of target
      // at ANY n >= target (a fixed rate would scale count with n)
      assert(seeds >= t / 2 && seeds <= t * 2,
        s"n=$n: got $seeds seeds for target $t")
    }
    // tiny corpus: modulus floors at 1 -> every node seeds
    val tiny = spark.range(0, 10).select(col("id").as("node"))
    assert(operators.Graph.closenessSeeds(tiny).count() == 10L)
  }
}
