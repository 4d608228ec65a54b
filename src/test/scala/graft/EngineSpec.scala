package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level checks: plans (pushdown, broadcast), flagship rows,
  * sketch error bounds, native expression vs independent impl. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and matches its oracle's column set") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, d)
      assert(df.columns.nonEmpty, name)
      // builders are lazy: run the full plan, then free its blocks
      Harness.runNoop(df)
      Harness.dropAllBlocks(spark)
    }
  }

  test("q2 pushes filters and prunes columns at the parquet scan") {
    val plan = operators.Relational.q2.build(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_shipdate"), "shipdate filter should be pushed")
    // pruned read schema: no l_extendedprice in the scan
    assert(!plan.contains("l_extendedprice"), "scan must not read unused columns")
  }

  test("q12 broadcasts the dimension tables") {
    val plan = operators.Relational.q12.build(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("approx_distinct within configured 2% rsd of exact (loose 10% gate)") {
    val rows = operators.Sketches.approxDistinct.build(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parts_within_bound"), r.toString)
      assert(r.getAs[Boolean]("orders_within_bound"), r.toString)
    }
  }

  test("approx_quantiles within the configured accuracy of exact") {
    val rows = operators.Sketches.approxQuantiles.build(spark, d).collect()
    val groups = rows.map(_.getString(0)).distinct.length
    assert(rows.length == 3 * groups, s"expected 3 quantile rows per group, got ${rows.length} for $groups groups")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("within_bound"), r.toString)
    }
  }

  test("native rolling-hash expression matches an independent fold") {
    import spark.implicits._
    val texts = Seq("hello world", "", "héllo ünïcode ☃", "a" * 1000)
    val df = texts.toDF("s")
      .withColumn("h", functions.RollingHash.rollingHash(col("s"), 1000000007L))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ref(s: String): Long = // independent: fold over codepoints
      s.codePoints.toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    texts.foreach(t => assert(got(t) == ref(t), s"mismatch for '$t'"))
  }

  test("rolling hash participates in codegen (no fallback errors) and works in SQL") {
    val n = spark.sql("SELECT graft_rolling_hash('abc', 1000000007) AS h").collect()(0).getLong(0)
    assert(n == (((('a'.toLong * 31) + 'b') * 31 + 'c') % 1000000007L))
  }

  test("dedup_exact keeps one row per distinct normalized text") {
    val out = dedup.Dedup.exact.build(spark, d).collect()
    val docs = Tables.documents(spark, d).count()
    assert(out.map(_.getAs[Long]("n_copies")).sum == docs)
  }

  test("ann_lsh recall vs brute force is nontrivial") {
    val brute = similarity.Similarity.bruteTopK.build(spark, d)
      .select("id_p", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = similarity.Similarity.lsh.build(spark, d)
      .select("id_p", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall > 0.15, s"LSH recall too low: $recall") // 8-bit buckets, small corpus
    assert(lsh.nonEmpty)
  }

  test("ann_range_search returns only above-threshold pairs with bucketed recall") {
    val tau = similarity.Similarity.RangeTau
    val got = similarity.Similarity.annRange.build(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._2 >= tau), "every returned pair must clear the radius")
    // brute threshold scan over the same probes: returned set ⊆ brute,
    // with nontrivial recall (bucketing is the documented trade)
    val n = similarity.AnnApi.normalized(
      Tables.embeddings(spark, d), "vec_id", "embedding")
    val brute = n.as("a").join(n.as("b"),
        col("a.vec_id") < 10 && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("p"), col("b.vec_id").as("c"),
        expr("graft_dot(a.v, b.v) / (a.nrm * b.nrm)").as("cos"))
      .filter(col("cos") >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = got.map(_._1).toSet
    assert(gotSet.subsetOf(brute), "range search must never invent a pair")
    val recall = (brute & gotSet).size.toDouble / brute.size
    assert(recall > 0.15, s"range recall too low: $recall")
  }

  test("vec_rp_project preserves corpus-mean squared norm (JL unbiasedness) and is exact on scaling") {
    val p = similarity.Similarity.vecRpProject.build(spark, d).collect()
    assert(p.length > 0)
    val projSq = p.map(r => (1 to similarity.Similarity.RpDim)
      .map(j => { val x = r.getDouble(j); x * x }).sum)
    val n = similarity.AnnApi.normalized(Tables.embeddings(spark, d), "vec_id", "embedding")
      .select(col("vec_id"), (col("nrm") * col("nrm")).as("sq"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val ratio = projSq.sum / p.map(r => n(r.getLong(0))).sum
    // E[||Px||^2] = ||x||^2 for the ±1/√d matrix; 8 dims is noisy per
    // vector but tight on the corpus mean
    assert(ratio > 0.5 && ratio < 1.5, s"JL energy ratio off: $ratio")
  }

  test("ann_knn_graph: at most k neighbors per source, ranked by cosine, mutual flag exact") {
    val k = similarity.Similarity.KnnGraphK
    val rows = similarity.Similarity.annKnnGraph.build(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_._1)
    assert(bySrc.values.forall(_.length <= k))
    bySrc.values.foreach { es =>
      val sorted = es.sortBy(_._2)
      assert(sorted.map(_._4).zip(sorted.tail.map(_._4)).forall { case (a, b) => a >= b },
        "cosine must be non-increasing in rank")
    }
    val edgeSet = rows.map(e => (e._1, e._3)).toSet
    rows.foreach { e =>
      assert(e._5 == edgeSet.contains((e._3, e._1)),
        s"mutual flag of ${(e._1, e._3)} must equal reverse-edge membership") }
    assert(rows.exists(_._5), "a tight corpus has at least one mutual pair")
  }

  test("hard negatives: every mined pair crosses labels and is a suffix-filter of brute ranking") {
    val labels = Tables.embeddings(spark, d).select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val hn = similarity.Similarity.hardNegatives.build(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(hn.nonEmpty)
    hn.foreach { case (p, _, c) =>
      assert(labels(p) != labels(c), s"negative $c shares probe $p's label") }
    // consistency with brute ranking: each probe's hard negatives are
    // exactly the first k cross-label entries of the unfiltered ranking
    val brute = similarity.AnnApi.bruteTopK(Tables.embeddings(spark, d), "vec_id", "embedding",
        Tables.embeddings(spark, d).filter(col("vec_id") < 10).select(col("vec_id")), k = 1000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byProbe = hn.groupBy(_._1)
    byProbe.foreach { case (p, es) =>
      val want = brute.filter(_._1 == p).sortBy(_._2).map(_._3)
        .filter(c => labels(c) != labels(p)).take(es.length)
      assert(es.sortBy(_._2).map(_._3).toSeq == want.toSeq,
        s"probe $p: mining must equal the cross-label prefix of brute order")
    }
  }

  test("knnGraph: the bucket cap suppresses a planted megabucket; planesFor scales with n") {
    import spark.implicits._
    val dim = similarity.Similarity.Dim
    val rng = new scala.util.Random(7)
    // 25 IDENTICAL vectors: same sign code in every table → one
    // megabucket per table (the degenerate near-duplicate mass)
    val shared = Array.fill(dim)(rng.nextDouble() - 0.5)
    val mega = (1000L until 1025L).map(i => (i, shared.toSeq))
    val normal = (1L to 10L).map(i => (i, Array.fill(dim)(rng.nextDouble() - 0.5).toSeq))
    val corpus = (mega ++ normal).toDF("vec_id", "embedding")
    val capped = graft.CacheScope.withScope { implicit s =>
      similarity.AnnApi.knnGraph(corpus, "vec_id", "embedding", k = 3, maxBucketSize = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    // megabucket members only ever co-occur in over-cap buckets →
    // zero intra-cluster edges survive
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      s"planted megabucket must contribute no pairs: ${capped.filter(_._1 >= 1000L).take(5)}")
    assert(capped.exists { case (a, b) => a < 1000L && b < 1000L },
      "normal vectors must keep their graph edges")
    val uncapped = graft.CacheScope.withScope { implicit s =>
      similarity.AnnApi.knnGraph(corpus, "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    assert(uncapped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "uncapped control: identical vectors flood the graph")
    // plane scaling: constant at small n, log2-grows past the target
    assert(similarity.AnnApi.planesFor(1000, 256) == similarity.Similarity.PlanesPerTable)
    assert(similarity.AnnApi.planesFor(1L << 20, 256) == 12)
    assert(similarity.AnnApi.planesFor(1L << 30, 256) == 22)
    // wider codes actually change the bucket expression arity
    val wide = similarity.Similarity.bucketExprSparkFor(0, 6)
    assert(wide.split("shiftleft").length - 1 == 6)
  }

  test("k-means IVF recall vs brute force at least matches label-cell IVF") {
    val brute = similarity.Similarity.bruteTopK.build(spark, d)
      .select("id_p", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val km = similarity.Similarity.ivfKmeans.build(spark, d)
      .select("id_p", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & km).size.toDouble / brute.size
    assert(recall > 0.3, s"k-means IVF recall too low: $recall")
    // every vector is assigned exactly one cell, and cells are non-trivial
    val cells = similarity.AnnApi.kmeansCells(
      Tables.embeddings(spark, d), "vec_id", "embedding")
    assert(cells.count() == Tables.embeddings(spark, d).count())
    assert(cells.select("cell").distinct().count() > 1)
  }

  test("count-min guarantee and HLL union bound hold on the corpus") {
    val hh = operators.Sketches.approxHeavyHitters.build(spark, d).collect()
    assert(hh.length == 5)
    assert(hh.forall(_.getBoolean(3)), "CMS must never underestimate")
    assert(hh.forall(_.getBoolean(4)), "CMS estimate must stay within eps*N")
    val un = operators.Sketches.approxHllUnion.build(spark, d).collect().head
    assert(un.getLong(0) > 1, "union must actually merge several source sketches")
    assert(un.getBoolean(2), "unioned HLL estimate within the error envelope")
  }

  test("PII scrub redacts adversarial mixes and leaves clean text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // multiple PII classes in one line, adjacent punctuation
      ("Mail a.b+c@x-y.co.uk, host 192.168.0.1, call 555-1234 now.",
        "Mail <EMAIL>, host <IP>, call <PHONE> now."),
      // IP digits must not be re-eaten by the phone pattern and
      // version strings (two dots) must not match the IP pattern
      ("v1.2.3 then 10.0.0.255 then 555-0000", "v1.2.3 then <IP> then <PHONE>"),
      // email scrubs before its dotted domain can look like anything else
      ("x@a.bc and x@a.b is not an email (1-char TLD)", "<EMAIL> and x@a.b is not an email (1-char TLD)"),
      // word boundaries: digits embedded in longer runs don't match
      ("order 1234-56789 is not a phone; 1.2.3.4.5 has no clean boundary", // 1.2.3.4 still matches inside
        "order 1234-56789 is not a phone; <IP>.5 has no clean boundary"),
      ("no pii here at all", "no pii here at all"))
    val got = cases.map(_._1).toDF("t")
      .select(functions.TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"\n$got\nvs\n${cases.map(_._2)}")
  }
}
