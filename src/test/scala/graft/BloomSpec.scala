package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the native Bloom pair: NO false negatives ever (the
  * property the prefilter→exact-verify recipe's correctness rests
  * on), partitioning/merge-order invariance of the built blob, a
  * sane false-positive rate at the design load, self-describing-blob
  * mismatch rejection, and analysis-time type gates.
  */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def buildBlob(keys: Seq[Long], parts: Int, mBits: Long = 4096L, k: Int = 7): Array[Byte] = {
    import spark.implicits._
    keys.toDF("hk").repartition(parts)
      .agg(expr(s"graft_bloom_agg(hk, ${mBits}L, $k)"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  test("no false negatives: every inserted key probes true (SQL + direct)") {
    val keys = (0 until 2000).map(i => i * 0x9E3779B97F4A7C15L + 17)
    val blob = buildBlob(keys, parts = 1, mBits = 4096L * 8)
    keys.foreach(h => assert(functions.BloomBlob.contains(blob, h), s"false negative for $h"))
    // and through the registered SQL expression path (exercises codegen)
    import spark.implicits._
    val hits = keys.toDF("hk")
      .crossJoin(Seq(Tuple1(blob)).toDF("bloom"))
      .filter(expr("graft_bloom_contains(bloom, hk)"))
      .count()
    assert(hits == keys.length)
  }

  test("blob is invariant under partitioning (merge is OR)") {
    val keys = (0 until 5000).map(i => (i * 6364136223846793005L) ^ 0x5DEECE66DL)
    val one = buildBlob(keys, parts = 1)
    val many = buildBlob(keys, parts = 17)
    assert(java.util.Arrays.equals(one, many))
  }

  test("false-positive rate is sane at the design load (10 bits/key, k=7)") {
    val n = 1000
    val keys = (0 until n).map(i => i * 2862933555777941757L + 3037000493L)
    val mBits = ((n.toLong * 10 + 63) / 64) * 64
    val blob = buildBlob(keys, parts = 4, mBits = mBits)
    val probes = (0 until 20000).map(i => i * 0xD1B54A32D192ED03L - 99)
    val inserted = keys.toSet
    val fp = probes.count(h => !inserted.contains(h) && functions.BloomBlob.contains(blob, h))
    // theoretical fpp at 10 bits/key, k=7 is ~0.8%; allow generous slack
    assert(fp.toDouble / probes.size < 0.03, s"fp rate ${fp.toDouble / probes.size}")
  }

  test("merging differently-sized blobs fails loudly") {
    val a = functions.BloomBlob.create(1024, 7)
    val b = functions.BloomBlob.create(2048, 7)
    intercept[IllegalArgumentException](functions.BloomBlob.merge(a, b))
  }

  test("type gates: non-bigint agg key and non-binary probe blob fail analysis") {
    import spark.implicits._
    val df = Seq(("x", 1L)).toDF("s", "hk")
    val e1 = intercept[Exception](df.agg(expr("graft_bloom_agg(s, 1024L, 7)")).collect())
    assert(e1.getMessage.contains("bigint"), e1.getMessage)
    val e2 = intercept[Exception](df.filter(expr("graft_bloom_contains(s, hk)")).collect())
    assert(e2.getMessage.contains("binary"), e2.getMessage)
  }

  test("decontaminate_bloom returns exactly the exact join's rows at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val exact = functions.Pipeline.decontaminate.build(spark, dir).collect().map(_.toSeq)
    val bloom = functions.Pipeline.decontaminateBloom.build(spark, dir).collect().map(_.toSeq)
    assert(bloom.toSeq == exact.toSeq)
  }
}
