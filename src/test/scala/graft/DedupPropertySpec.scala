package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactness properties for the sub-quadratic dedup/ANN paths on
  * seeded random corpora — the banded/filtered plans must equal their
  * brute-force references for EVERY input, not just the planted
  * fixtures, and index builds must be partitioning-invariant. */
class DedupPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic corpus: token sequences with heavy overlap so
    * near-dup pairs actually occur at every tested threshold. */
  private def corpus(nDocs: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val docs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until nDocs).foreach { i =>
      // half the docs are one-token mutations of an ACTUAL earlier
      // doc, so high-similarity pairs exist at every tested threshold
      val toks =
        if (i > 0 && rnd.nextBoolean()) {
          val prev = docs(rnd.nextInt(i))
          prev.updated(rnd.nextInt(prev.size), vocab(rnd.nextInt(vocab.size)))
        } else Vector.fill(12 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      docs += toks
    }
    docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, if (i % 2 == 0) "a" else "b", t.mkString(" "))
    }.toSeq.toDF("doc_id", "source", "text")
  }

  test("native graft_ngrams equals the composed substring/distinct form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = "abc déφñ xyz" // 2-byte UTF-8 chars mixed in
    val strs = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ ((200L, "")) :+ ((201L, "abcd")) :+ ((202L, "ababababab"))
    val df = strs.toDF("id", "s")
    for (n <- Seq(2, 3, 5)) {
      val rows = df.select(col("id"),
          functions.Ngrams.ngrams(col("s"), n).as("fast"),
          expr(s"""CASE WHEN length(s) >= $n
              THEN array_distinct(transform(sequence(1, length(s) - ${n - 1}), i -> substring(s, i, $n)))
              ELSE array() END""").as("slow"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1).toSet == r.getSeq[String](2).toSet,
          s"n=$n id=${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
      }
    }
  }

  test("native graft_sorted_inter_size equals array_intersect size on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector.tabulate(60)(i => f"g$i%02d") ++ Vector("déφ", "ñx", "") // non-ASCII + empty string
    val rows = (0 until 300).map { i =>
      val a = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)).distinct.sorted
      val b = rnd.shuffle(vocab).take(rnd.nextInt(vocab.size)).distinct.sorted
      (i.toLong, a, b)
    } :+ ((300L, Seq.empty[String], Seq("g01"))) :+ ((301L, Seq.empty[String], Seq.empty[String]))
    val out = rows.toDF("id", "a", "b")
      .select(col("id"),
        functions.SortedInter.interSize(array_sort(col("a")), array_sort(col("b"))).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("slow"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)}: ${r.getInt(1)} vs ${r.getInt(2)}")
    }
  }

  test("native graft_ngrams output is sorted ascending (SortedInter contract)") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val alphabet = "abc déφñ xyz"
    val strs = (0 until 100).map { i =>
      (i.toLong, (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val rows = strs.toDF("id", "s")
      .select(col("id"), functions.Ngrams.ngrams(col("s"), 3).as("gr"),
        array_sort(functions.Ngrams.ngrams(col("s"), 3)).as("sorted"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id=${r.getLong(0)} not sorted: ${r.getSeq[String](1)}")
    }
  }

  test("wrong-typed inputs to the r4 native expressions fail analysis with a cast hint") {
    // graft_sorted_inter_size reads UTF8String element layouts and
    // graft_winnow reads the child as UTF8String — on wrong types they
    // must fail ANALYSIS (like graft_dot/graft_vecsum_dec), not read
    // garbage offsets or throw ClassCastException mid-query.
    import spark.implicits._
    val df = Seq((Array(1.5, 2.5), 1.5, "abc", 7)).toDF("da", "d", "s", "i")
    val cases = Seq(
      // array<double> is in NEITHER supported family (string / bigint)
      ("graft_sorted_inter_size(da, da)", "array<string>"),
      ("graft_winnow(i, 3, 2)", "string"),
      ("graft_dbits(i)", "double"))
    for ((sql, hint) <- cases) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(expr(sql)).collect()
      }
      assert(e.getMessage.contains(hint), s"$sql: ${e.getMessage}")
    }
    // correct types still pass through each gate — both element families
    assert(df.select(expr("graft_sorted_inter_size(array('a','b'), array('b','c'))"))
      .collect()(0).getInt(0) == 1)
    assert(df.select(expr("graft_sorted_inter_size(array(1L,2L,5L), array(2L,5L,9L))"))
      .collect()(0).getInt(0) == 2)
    assert(df.select(expr("graft_winnow(s, 2, 2)")).collect()(0).getSeq[Long](0).nonEmpty)
    assert(df.select(expr("graft_dbits(d)")).collect()(0).getLong(0) ==
      java.lang.Double.doubleToLongBits(1.5))
  }

  test("native graft_dot is bit-identical to the zip_with/aggregate fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2e3 - 1e3),
        Array.fill(64)(rnd.nextDouble() * 2e-3 - 1e-3))
    }
    val out = rows.toDF("id", "a", "b")
      .select(col("id"),
        expr("graft_dot(a, b)").as("fast"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)").as("slow"),
        expr("graft_dot(a, a)").as("fastn"),
        expr("aggregate(transform(a, x -> x * x), CAST(0 AS DOUBLE), (p, q) -> p + q)").as("slown"))
      .collect()
    out.foreach { r =>
      // bit-identical, not approximately equal: same left-to-right order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id=${r.getLong(0)} dot differs")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(4)), s"id=${r.getLong(0)} norm differs")
    }
    // null semantics: ragged lengths and null elements both yield null,
    // exactly as the composed fold does
    val edge = Seq(
      (0L, Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0, 3.0))),
      (1L, Some(Seq(1.0, Double.NaN)), Some(Seq(1.0, 2.0))),
      (2L, None: Option[Seq[Double]], Some(Seq(1.0)))).toDF("id", "a", "b")
      .select(col("id"), expr("graft_dot(a, b)").as("fast"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, p) -> acc + p)").as("slow"))
      .collect()
    edge.foreach { r =>
      val (f, s) = (r.isNullAt(1), r.isNullAt(2))
      assert(f == s, s"id=${r.getLong(0)}: null-ness differs")
      if (!f) assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id=${r.getLong(0)} differs")
    }
  }

  test("native graft_winnow equals the composed window-minima form") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val alphabet = "abcd efg déφñ hij" // multibyte chars in the gram windows
    val strs = (0 until 120).map { i =>
      (i.toLong, (0 until (30 + rnd.nextInt(120))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ ((120L, "x" * 34)) :+ ((121L, "y" * 35)) // below/at the k+w-1 boundary
    val (k, w) = (20, 16)
    val h = s"CAST(conv(substring(md5(substring(s, i, $k)), 1, 15), 16, 10) AS BIGINT)"
    val hs = s"transform(sequence(1, length(s) - ${k - 1}), i -> $h)"
    val composed = s"element_at(transform(array($hs), h -> array_distinct(" +
      s"transform(sequence(1, size(h) - ${w - 1}), i -> array_min(slice(h, i, $w))))), 1)"
    val rows = strs.toDF("id", "s")
      .filter(length(col("s")) >= k + w - 1)
      .select(col("id"),
        functions.Winnow.fingerprints(col("s"), k, w).as("fast"),
        expr(composed).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1).toSet == r.getSeq[Long](2).toSet,
        s"id=${r.getLong(0)}: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
    }
    // below the boundary: no full window, empty fingerprint set
    val short = Seq((0L, "x" * 34)).toDF("id", "s")
      .select(functions.Winnow.fingerprints(col("s"), k, w).as("f"))
      .collect()(0).getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("winnowed substring pairs detect every planted shared span at arbitrary offsets") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // shared span >= k + w - 1 = 35 normalized chars: the winnow
    // guarantee says every such pair MUST collide, wherever the span
    // sits in each document
    val shared = randText(40)
    val docs = (0 until 30).map { i =>
      if (i % 3 == 0)
        (i.toLong, randText(rnd.nextInt(50)) + shared + randText(rnd.nextInt(50)))
      else (i.toLong, randText(80 + rnd.nextInt(60)))
    }.toDF("doc_id", "text")
    val pairs = dedup.DedupApi.substringPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 30).filter(_ % 3 == 0).map(_.toLong)
    for (a <- planted; b <- planted if a < b)
      assert(pairs.contains((a, b)), s"planted pair ($a,$b) missing from $pairs")
  }

  test("native graft_word_shingles equals the composed distinct/concat/h60 form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(59)
    // multibyte tokens + heavy repetition so dedup and UTF-8 offsets
    // are both exercised
    val vocab = Vector("alpha", "héllo", "日本語", "b", "wörd", "gamma", "δδ")
    val docs = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(30)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
    for (k <- Seq(1, 3, 5)) {
      val base = docs.select(col("id"), Portable.normText(col("text")).as("txt"))
        .withColumn("toks", split(col("txt"), " "))
      val composed = base
        .select(col("id"), when(size(col("toks")) >= k,
          sort_array(transform(Portable.wordShingles(col("toks"), k), s => Portable.h60(s))))
          .otherwise(expr("array()").cast("array<bigint>")).as("shs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = base
        .select(col("id"), functions.WordShingles.hashes(col("txt"), k).as("shs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == composed, s"k=$k mismatch")
      assert(composed.values.exists(_.nonEmpty))
    }
  }

  test("native graft_simhash equals the composed per-bit aggregate form") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(rnd.nextLong() & ((1L << 60) - 1)))
    } :+ ((300L, Seq.empty[Long]))
    val df = rows.toDF("id", "hs")
    val bits = dedup.DedupApi.SimhashBits
    val out = df.select(col("id"),
        functions.Simhash.simhash(col("hs"), bits).as("fast"),
        expr(s"""aggregate(sequence(0, ${bits - 1}), CAST(0 AS BIGINT), (acc, i) ->
          acc + IF(2 * size(filter(hs, h -> (shiftright(h, i) & 1) = 1)) > size(hs),
          shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""").as("slow"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.getLong(0)}"))
  }

  test("native graft_minhash_sigs equals the composed array_min/transform form") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(math.abs(rnd.nextLong()) % Portable.P))
    }
    val df = rows.toDF("id", "hs")
    val slow = (0 until Portable.NumHashes).map(j =>
      Portable.minhashOfHashes(col("hs"), j).as(s"s$j"))
    val out = df.select((col("id") +: functions.MinhashSigs.sigs(col("hs")).as("ms") +: slow): _*)
      .collect()
    out.foreach { r =>
      val ms = r.getSeq[Long](1)
      (0 until Portable.NumHashes).foreach { j =>
        assert(ms(j) == r.getLong(2 + j), s"id=${r.getLong(0)} j=$j")
      }
    }
  }

  test("ngram prefix+positional+length filtering is lossless at every threshold") {
    val docs = corpus(60, seed = 7).cache()
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val filtered = dedup.DedupApi.ngramJaccardPairs(docs, "doc_id", "text", "source",
          n = 5, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force: same gram definition, all pairs within source
      val brute = {
        val gg = docs.select(col("doc_id"), col("source"), Portable.normText(col("text")).as("s"))
          .filter(length(col("s")) >= 5)
          .select(col("doc_id"), col("source"),
            expr("array_distinct(transform(sequence(1, length(s) - 4), i -> substring(s, i, 5)))").as("gr"))
        gg.as("a").join(gg.as("b"),
            col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            (size(array_intersect(col("a.gr"), col("b.gr"))).cast("double") /
              (size(col("a.gr")) + size(col("b.gr")) - size(array_intersect(col("a.gr"), col("b.gr"))))).as("jac"))
          .filter(col("jac") >= t)
          .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jaccard"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      assert(filtered == brute, s"threshold $t: filtered ${filtered.size} vs brute ${brute.size}")
      if (t <= 0.7) assert(brute.nonEmpty, s"threshold $t produced no pairs — weak test corpus")
    }
  }

  test("banded simhash equals the quadratic scan on a random corpus") {
    val docs = corpus(80, seed = 13)
    for (d <- Seq(2, 4, 6)) {
      val banded = dedup.DedupApi.simhashPairs(docs, "doc_id", "text", maxHamming = d, banded = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val quad = dedup.DedupApi.simhashPairs(docs, "doc_id", "text", maxHamming = d, banded = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == quad, s"maxHamming $d: banded ${banded.size} vs quadratic ${quad.size}")
      if (d == 6) assert(quad.nonEmpty, "planted near-dups must yield hamming<=6 pairs")
    }
  }

  test("incremental banded pairs equal the quadratic cross scan (new x existing)") {
    val docs = corpus(80, seed = 41)
    val existing = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(2)) === 0)
    val incoming = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.lit(2)) === 1)
    for (d <- Seq(0, 3, 6)) {
      val inc = dedup.DedupApi.simhashPairsIncremental(existing, incoming, "doc_id", "text", maxHamming = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val so = dedup.DedupApi.simhashSignatures(existing, "doc_id", "text")
      val sn = dedup.DedupApi.simhashSignatures(incoming, "doc_id", "text")
      val quad = so.as("a").join(sn.as("b"),
          org.apache.spark.sql.functions.expr("bit_count(a.simhash ^ b.simhash)") <= d)
        .selectExpr("a.doc_id", "b.doc_id", "CAST(bit_count(a.simhash ^ b.simhash) AS INT)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(inc == quad, s"maxHamming $d: incremental ${inc.size} vs quadratic ${quad.size}")
      if (d == 6) assert(quad.nonEmpty, "planted near-dups must yield cross pairs")
    }
  }

  test("k-means assignment is invariant to input partitioning") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val a = similarity.AnnApi.kmeansCells(emb.repartition(3), "vec_id", "embedding",
        kCells = 8, iters = 2, trainMod = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = similarity.AnnApi.kmeansCells(emb.repartition(11), "vec_id", "embedding",
        kCells = 8, iters = 2, trainMod = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "k-means cells differ across partitionings")
    assert(a.nonEmpty)
  }

  test("semantic pairs are the within-cell subset of the all-pairs scan, with high recall on near-identical pairs") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val all = dedup.DedupApi.cosinePairs(emb, "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = dedup.DedupApi.semanticPairs(emb, "vec_id", "embedding", threshold = 0.4,
        kCells = 8, iters = 2, trainMod = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(sem.nonEmpty, "cell-local scan found no pairs at the gate threshold")
    assert(sem.subsetOf(all), s"cell-local pairs not a subset of all-pairs: ${sem.diff(all)}")
    // SemDeDup's trade: only cross-cell pairs are lost. Near-identical
    // vectors (the dedup targets, cos >= 0.9) land in the same cell —
    // a same-direction pair splitting across cells would need the
    // boundary to pass between them, rare by construction at k=8.
    val tight = dedup.DedupApi.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (tight.nonEmpty) {
      val kept = tight.intersect(sem)
      assert(kept.size * 2 >= tight.size,
        s"cell blocking lost most near-identical pairs: ${kept.size}/${tight.size}")
    }
  }

  test("cosinePairsLsh bucket cap suppresses a planted identical-vector megabucket") {
    import spark.implicits._
    val dim = graft.similarity.Similarity.Dim
    val rng = new scala.util.Random(11)
    val shared = Array.fill(dim)(rng.nextDouble() - 0.5)
    // 30 identical vectors → one bucket per table holds them all
    val mega = (1000L until 1030L).map(i => (i, shared.toSeq))
    val normal = (1L to 8L).map(i => (i, Array.fill(dim)(rng.nextDouble() - 0.5).toSeq))
    val corpus = (mega ++ normal).toDF("vec_id", "embedding")
    val capped = graft.CacheScope.withScope { implicit s =>
      dedup.DedupApi.cosinePairsLsh(corpus, "vec_id", "embedding",
          threshold = 0.4, maxBucketSize = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      s"megabucket pairs must be dropped: ${capped.filter(_._1 >= 1000L).take(5)}")
    val uncapped = graft.CacheScope.withScope { implicit s =>
      dedup.DedupApi.cosinePairsLsh(corpus, "vec_id", "embedding", threshold = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(uncapped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "uncapped control: the identical cluster floods the pair scan")
  }
}
