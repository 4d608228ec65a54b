package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sketch top-k equals exact top-k when vocabulary fits capacity") {
    val toks = Tables.documents(spark, TestSpark.sfDir)
      .select(explode(split(Portable.normText(col("text")), " ")).as("tok"))
    toks.createOrReplaceTempView("graft_toks")

    val sketch = spark.sql(
      "SELECT graft_topk_sketch(tok, 10) AS top FROM graft_toks")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))

    val exact = toks.groupBy("tok").count()
      .orderBy(col("count").desc, col("tok"))
      .limit(10).collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    assert(sketch == exact)
  }

  test("sketch stays bounded and merges under repartition") {
    import spark.implicits._
    // skewed stream: token i appears i times, 200 distinct > capacity path
    val data = (1 to 200).flatMap(i => Seq.fill(i)(s"t$i")).toDF("tok").repartition(8)
    data.createOrReplaceTempView("graft_skew_toks")
    val top = spark.sql("SELECT graft_topk_sketch(tok, 5) AS top FROM graft_skew_toks")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.size == 5)
    // Space-Saving guarantees: returned tokens are true heavy hitters
    // within the N/capacity ≈ 314 error bound (here: all from the true
    // top tier), and counts never underestimate
    val trueTop = (150 to 200).map(i => s"t$i").toSet
    assert(top.map(_._1).forall(trueTop.contains), top.toString)
    top.foreach { case (t, c) => assert(c >= t.drop(1).toLong, s"$t underestimated: $c") }
  }
}
