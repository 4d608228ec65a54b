package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the scale properties the engine is built around
  * (pushdown, broadcast dims, hash joins on array rows, no quadratic
  * join operators, sort-free top-k) asserted against the actual
  * physical plans so a regression fails CI, not a 100 TB run. */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  /** Static executed plan of a query. Blocks left by earlier tests are
    * dropped first, so CacheManager cannot substitute one of their
    * persisted frames into the plan under test. */
  private def plan(name: String): String = {
    Harness.dropAllBlocks(spark)
    SparkEntry.queries(name)(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
  }

  /** A query's frame plus every action its builder ran: loop state it
    * collects or checkpoints while building is not in the static plan. */
  private def built(name: String): (DataFrame, Seq[QueryExecution]) = {
    Harness.dropAllBlocks(spark)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ran.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, TestSpark.sfDir)
      assert(Harness.drainListenerBus(spark), "listener bus did not drain within 10s")
      (df, ran.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q2 pushes filter and projection into the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters: ["), "filters must reach the scan")
    assert(p.contains("l_shipdate"))
  }

  test("pair scans plan no cartesian or nested-loop joins") {
    for (q <- Seq("dedup_simhash_pairs", "dedup_ngram_jaccard",
        "dedup_embed_cosine_lsh", "dedup_minhash_lsh", "dedup_substring")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("pair-scan verify joins are hash joins, not sorts of array rows") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh")) {
      assert(plan(q).contains("ShuffledHashJoin"), s"$q lost its shuffle_hash verify join")
    }
  }

  test("dup-ngram-fraction joins only on doc_id, never on the skewable shingle value") {
    // a boilerplate shingle in 10^6 docs must only ever hit a map-side-
    // combinable aggregate; the r4 shape joined the DF table back on
    // the shingle itself (a hot join key by construction)
    val p = plan("text_dup_ngram_fraction")
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.nonEmpty, "expected the doc-keyed left join")
    for (j <- joins) {
      assert(j.contains("doc_id"), s"join not doc-keyed: $j")
      assert(!j.contains("[sh#") && !j.contains(" sh#"), s"join keyed on the shingle value: $j")
    }
  }

  test("corpus top-k plans TakeOrderedAndProject, not a global window") {
    assert(plan("text_top_tokens").contains("TakeOrderedAndProject"))
    assert(plan("text_top_bigrams").contains("TakeOrderedAndProject"))
  }

  test("ngram gram build uses the native single-pass expression") {
    assert(plan("dedup_ngram_jaccard").contains("graft_ngrams"),
      "gram build must stay on the codegen NgramsExpr, not the composed substring form")
  }

  test("verify joins intersect via the native merge walk, not per-pair hash sets") {
    for (q <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh")) {
      val p = plan(q)
      assert(p.contains("graft_sorted_inter_size"),
        s"$q verify must stay on the merge-walk SortedInterSizeExpr")
      assert(!p.contains("array_intersect"),
        s"$q must not fall back to array_intersect's per-row hash set")
    }
  }

  test("simhash signature build uses the native one-pass expression") {
    assert(plan("dedup_simhash").contains("graft_simhash"),
      "signature build must stay on the codegen SimhashExpr, not the per-bit aggregate")
  }

  test("substring fingerprints use the native one-pass winnow expression") {
    assert(plan("dedup_substring").contains("graft_winnow"),
      "winnow must stay on the codegen WinnowExpr, not the composed transform/slice form")
  }

  test("cosine hot paths run the native dot product, not interpreted lambda folds") {
    for (q <- Seq("ann_brute_topk", "ann_lsh", "ann_ivf_kmeans",
        "dedup_embed_cosine", "dedup_embed_cosine_lsh")) {
      assert(plan(q).contains("graft_dot"), s"$q must stay on the native DotExpr")
    }
    // the centroid-mean zip_with (sv.sum/sv.cnt, k rows) is allowed; the
    // per-row corpus dots must not fall back to interpreted folds
    for (q <- Seq("ann_brute_topk", "ann_lsh", "dedup_embed_cosine",
        "dedup_embed_cosine_lsh")) {
      assert(!plan(q).contains("zip_with"),
        s"$q must not fall back to the interpreted zip_with fold")
    }
  }

  test("pack_shards derives its group count without collecting or cartesians") {
    val p = plan("corpus_pack_shards")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row group-count aggregate must broadcast into the plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("pack_shards global-id offsets broadcast back, never reshuffle the corpus") {
    val p = plan("corpus_pack_shards")
    assert(p.contains("BroadcastHashJoin"),
      "the metadata-scale offset table must join back by broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the manifest must not be shuffle-sorted for the offset join")
  }

  test("domain_mix is map-only up to the audit aggregate (zero pre-agg exchange)") {
    // plans print top-down, so "below the partial aggregate" is the
    // text AFTER the last HashAggregate: scan→project→partial-agg must
    // hold with no Exchange in between
    val p = plan("corpus_domain_mix")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(lastAgg >= 0, "audit aggregate missing")
    assert(!p.substring(lastAgg).contains("Exchange"),
      "membership must be a pure per-row predicate: no Exchange below the partial aggregate")
  }

  test("multimodal kernels read pruned binary scans, not full-width rows") {
    // the image gate table is (img_id, png) by construction — assert
    // the scan reads exactly that pair, nothing synthesized in between
    val p = plan("mm_image_features")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("img_id") && read.contains("png"), read)
    // the stub-kernel path scans the full documents table: decode must
    // see only (doc_id, text), never the metadata columns
    val pf = plan("mm_features")
    val readF = "ReadSchema: [^\\n]*".r.findFirstIn(pf).getOrElse("")
    assert(readF.contains("doc_id") && readF.contains("text"), readF)
    assert(!readF.contains("lang") && !readF.contains("source"),
      s"documents scan must prune the metadata columns: $readF")
  }

  test("decontamination broadcasts the benchmark shingles, never shuffles the corpus side") {
    val p = plan("corpus_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "contamination join must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus side must not be shuffle-sorted for the join")
  }

  test("the composed ingest pipeline keeps its per-stage plan shapes") {
    val p = plan("pipeline_ingest_full")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // pin the decontamination join NODE itself (keyed on the shingle
    // HASH column `h` since r5), not just the substrings somewhere in
    // the plan — exactKeep's semi-join or an AQE broadcast elsewhere
    // must not satisfy this check for it
    assert(p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi") && l.contains("[h#")),
      "decontamination must stay a broadcast semi-join on the shingle-hash key inside the composition")
    assert("LeftAnti".r.findAllIn(p).size >= 2,
      "contaminated-doc and near-dup drops must stay anti-joins")
  }

  test("q12 star join broadcasts its dimensions") {
    val p = plan("q12_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "region/nation/customer dims must broadcast")
  }

  test("scd2 merge broadcasts the change batch and never shuffles base rows wide") {
    val p = plan("q42_scd2_merge")
    assert(p.contains("BroadcastHashJoin"),
      "the update/unchanged path must broadcast the CDC batch against the base")
    assert(!p.contains("CartesianProduct"))
    // the only exchange of base data is the key-only anti probe — no
    // full-width base row may reach an Exchange (acctbal travels only
    // on the batch-scale side)
    val anti = p.indexOf("LeftAnti")
    assert(anti >= 0, "inserts must come from an anti join")
  }

  test("semantic dedup pair scan is cell-keyed, never a cartesian") {
    // pin the pair join itself: the embedded k-means assignment is a
    // map-only fold over a centroid literal (guarded below)
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), "semantic pair scan planned a cartesian")
    assert(p.contains("SortMergeJoin [cell#") || p.contains("ShuffledHashJoin [cell#")
        || p.contains("BroadcastHashJoin [cell#"),
      "semantic pair join must key on the k-means cell id")
  }

  test("k-means assignment is map-only over the literal centroid array") {
    Harness.dropAllBlocks(spark)
    val cells = similarity.AnnApi.kmeansCells(
      Tables.embeddings(spark, TestSpark.sfDir), "vec_id", "embedding")
    val p = cells.queryExecution.executedPlan.toString
    assert(p.contains("array_max") && p.contains("FileScan parquet"),
      s"expected the argmax fold over the corpus scan:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"no exchange or join may sit between the corpus scan and cell:\n$p")
  }

  test("pipeline_ml_readouts and ml_lift_deciles collapse the scores to value grain once") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the (z, p, q) collapse of the scored corpus may only run inside
    // ONE cache that every readout reads (lift checkpoints its decile
    // counts while building, so the actions' plans count too)
    for (q <- Seq("pipeline_ml_readouts", "ml_lift_deciles")) {
      val (df, ran) = built(q)
      val all = (df.queryExecution +: ran).map(_.optimizedPlan)
      val bare = all.map(_.collect {
        case a: Aggregate if a.groupingExpressions.collect { case z: Attribute => z.name } == Seq("z") => a
      }.size).sum
      val caches = all.flatMap(_.collect {
        case r: InMemoryRelation if r.output.map(_.name) == Seq("z", "p", "q") =>
          System.identityHashCode(r.cacheBuilder)
      }).distinct
      assert(bare == 0, s"$q collapses to value grain outside the shared cache $bare times")
      assert(caches.size == 1, s"$q reads ${caches.size} value-grain caches")
    }
  }

  test("centroid builds run the native vector-sum aggregate, no corpus×dim explode") {
    for (q <- Seq("vec_kmeans", "ann_ivf", "vec_centroids")) {
      // the Lloyd rounds collect their centroids while building
      val (df, ran) = built(q)
      val p = (df.queryExecution +: ran).map(_.executedPlan.toString).mkString("\n")
      assert(p.contains("graft_vecsum_dec"),
        s"$q centroid build must stay on the native VecSumDec aggregate")
      assert(!p.contains("PosExplode") || q == "vec_centroids",
        s"$q must not posexplode the corpus to corpus×dim rows")
    }
    // vec_centroids' only explode is the labels×1 result-array unpack,
    // which sits ABOVE the aggregate in the plan, never below it
    val pc = plan("vec_centroids")
    val gen = pc.indexOf("Generate")
    val agg = pc.indexOf("graft_vecsum_dec")
    assert(gen >= 0 && agg > gen,
      "vec_centroids' explode must consume the aggregate result, not feed it")
  }

  test("bloom decontamination pins the prefilter BELOW the verify semi-join") {
    // PushDownLeftSemiAntiJoin rewrites prefilter-then-semi-join into
    // semi-join-then-prefilter (shuffling the FULL corpus shingle
    // stream into the verify join); the survivors persist is the
    // optimizer barrier that prevents it — assert the semi-join's left
    // input IS the cached survivor set and the bloom probe lives
    // inside it
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("corpus_decontaminate_bloom")(spark, TestSpark.sfDir)
    try {
      val semis = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j
      }
      assert(semis.size == 1, s"expected exactly the verify semi-join, got ${semis.size}")
      val left = semis.head.left
      assert(left.isInstanceOf[InMemoryRelation],
        s"verify join must consume the persisted survivor set, got ${left.nodeName}")
      assert(left.asInstanceOf[InMemoryRelation].cachedPlan.toString.contains("graft_bloom_contains"),
        "the bloom prefilter must live inside the cached survivor plan")
    } finally spark.catalog.clearCache()
  }

  test("tfidf top-k runs the sort-free per-group strategy") {
    val p = plan("text_tfidf_topk")
    assert(p.contains("TopKPerGroup"), "per-doc top-k must plan TopKPerGroupExec")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel is one user-keyed shuffle, no joins") {
    val p = plan("q40_funnel")
    assert(!p.contains("Join"), "the fold formulation must not plan the chained joins")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "exactly one user-keyed exchange")
  }

  test("salted join keys on (key, salt) without broadcasting either side") {
    val p = plan("q41_salted_join")
    assert(!p.contains("BroadcastHashJoin"),
      "the salted join must stay a shuffle join — broadcast would bypass the salting")
    val joins = p.linesIterator.filter(l => l.contains("ShuffledHashJoin")).toSeq
    assert(joins.nonEmpty, "expected the shuffle_hash salted join")
    assert(joins.exists(l => l.contains("salt") && l.contains("user_id")),
      s"join keys must include the salt: $joins")
  }

  test("incremental dedup plans hash joins only (no cartesian, no nested loop)") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct"), "incremental banding planned a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "incremental banding planned a nested-loop join")
    spark.catalog.clearCache() // the sig tables persist via the untracked scope
  }

  test("triangle count intersects broadcast adjacency lists — wedges never materialize") {
    // run the gate query and read its final adaptive plan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    Harness.dropAllBlocks(spark)
    val df = SparkEntry.queries("graph_triangles")(spark, TestSpark.sfDir)
    df.collect()
    val fp = df.queryExecution.executedPlan
    assert(fp.toString.contains("graft_sorted_inter_size"),
      "triangle closure must stay on the merge-walk intersect, not a wedge semi-join")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // the edge iterator: the edges come out of the adjacency (explode
    // next to the source's own list), so exactly one list join is
    // left, dst to its list; at gate scale the adjacency payload is
    // KBs and AQE makes it a broadcast join. It is the plan's only
    // equi-join: the edges come from a per-order aggregate, not a
    // self-join, and the degrees ride on the rows as window counts,
    // not as joins against the degree table
    val listJoins = helper.collect(fp) { case j: BaseJoinExec if j.leftKeys.nonEmpty =>
      j -> (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet }
    assert(listJoins.map(_._2) == Seq(Set("dst", "v_")),
      s"exactly one equi-join, the adjacency-list join dst = v_; got ${listJoins.map(_._2)}")
    assert(listJoins.head._1.isInstanceOf[BroadcastHashJoinExec],
      s"the dst = v_ list join must be a broadcast join; got ${listJoins.head._1.nodeName}")
    val explodes = helper.collect(fp) { case g: GenerateExec => g }
    assert(explodes.exists(g => helper.find(g.child) {
        case _: InMemoryTableScanExec => true
        case _ => false
      }.isDefined),
      s"the edges must be exploded from the cached adjacency; got ${explodes.map(_.simpleString(200))}")
    spark.catalog.clearCache()
  }

  test("temperature sampling joins thresholds back by broadcast — the corpus is never shuffle-joined") {
    // the per-domain threshold table is domains-scale; the corpus-side
    // join must be a BroadcastHashJoin, never a sort-merge shuffle of
    // the 100 TB side; the only corpus-volume aggregate is map-side
    // combinable down to domains-scale rows
    val p = plan("corpus_temperature_sample")
    assert(p.contains("BroadcastHashJoin"),
      "threshold join-back must broadcast the domains-scale side")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never be shuffle-joined for its keep thresholds")
  }

  test("text_diversity is map-only: native kernel, no aggregation exchange") {
    // the whole point of graft_token_stats is keeping lexical scoring
    // inside the row — the only Exchange allowed is the output sort's
    // rangepartitioning; a hashpartitioning exchange means the plan
    // fell back to the token-volume explode+aggregate
    val p = plan("text_diversity")
    assert(p.contains("graft_token_stats"),
      "diversity must run the one-pass native kernel")
    assert(!p.contains("Exchange hashpartitioning"),
      s"map-only claim broken — token-volume shuffle in plan:\n$p")
  }

  test("pack_sequences broadcasts its global-id offsets — the corpus shuffles once") {
    // the exclusive-scan offset table is ngrp rows (metadata scale);
    // it must come back as a BroadcastHashJoin, and the corpus must
    // never be sort-merge-joined for its ids
    val p = plan("corpus_pack_sequences")
    assert(p.contains("BroadcastHashJoin"),
      "global-id offsets must broadcast back onto the manifest")
    assert(!p.contains("SortMergeJoin"),
      "the manifest must never be shuffle-joined for global ids")
  }

  test("budget_select pins its ranked frame and broadcasts offsets and budget") {
    // the two-level global scan is only correct if both consumers see
    // ONE physical range partitioning (spark_partition_id-keyed bases)
    // — the persist is that pin; offsets/budget come back as
    // broadcasts, the metadata frame is never sort-merge-joined
    val p = plan("corpus_budget_select")
    assert(p.contains("InMemoryTableScan"),
      "ranked frame must be persisted — pid bases diverge across recomputes otherwise")
    assert(p.contains("BroadcastHashJoin"),
      "partition offsets must broadcast back onto the ranked frame")
    assert(!p.contains("SortMergeJoin"),
      "the ranked metadata frame must never be shuffle-joined")
    spark.catalog.clearCache()
  }

  test("budget_select kept set is invariant under partition count") {
    // global_cum = base(pid) + local cum must not depend on how many
    // range partitions the planner picks
    def run(parts: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try SparkEntry.queries("corpus_budget_select")(spark, TestSpark.sfDir)
        .collect().map(_.toString).toSeq
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()
      }
    }
    assert(run(2) == run(7), "kept set changed with the partition count")
  }

  test("q44's three distribution columns share ONE window sort") {
    // ntile/percent_rank/cume_dist are declared over the same
    // WindowSpec; Catalyst must collapse them into a single Window
    // operator over a single per-partition sort — a second Window node
    // means a second full sort of the fact table
    val p = plan("q44_window_frames")
    assert("""(?m)^[\s+:*-]*Window """.r.findAllIn(p).length == 1,
      s"expected exactly one Window operator:\n$p")
  }

  test("split leakage plans hash joins only (asymmetric banding, no quadratic operator)") {
    val p = plan("corpus_split_leakage")
    assert(!p.contains("CartesianProduct"), "leakage audit plans a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "leakage audit plans a nested-loop join")
  }

  test("keep-best resolves winners by aggregate, never a corpus window sort") {
    // the per-cluster winner is a map-side-combinable max_by; a Window
    // operator here would mean a per-cluster sort of the corpus
    val p = plan("dedup_keep_best")
    assert(!"""(?m)^[\s+:*-]*Window """.r.findAllIn(p).hasNext,
      s"keep-best must not plan a Window operator:\n$p")
    assert(p.contains("max_by") || p.contains("Max_by") || p.contains("MaxBy"),
      "winner selection must be the max_by aggregate")
  }

  test("readability is map-only up to the output sort") {
    // per-row integer counts + one IEEE expression: nothing may
    // aggregate or join, and the only exchange is the gate's orderBy
    val p = plan("text_readability")
    assert(!p.contains("Join"), s"readability must not join:\n$p")
    assert(!p.contains("hashpartitioning"), s"readability must not hash-shuffle:\n$p")
  }

  test("vec_rp_project is map-only up to the output sort") {
    // one graft_dot fold per output dim against literal sign rows:
    // no join, no hash shuffle — the only exchange is the orderBy
    val p = plan("vec_rp_project")
    assert(!p.contains("Join"), s"rp projection must not join:\n$p")
    assert(!p.contains("hashpartitioning"), s"rp projection must not hash-shuffle:\n$p")
  }

  test("ml_linear_probe never hash-shuffles the corpus") {
    // moments and residuals are global aggregates (SinglePartition
    // exchanges of ONE row); weights ride a broadcast — a
    // hashpartitioning exchange would mean a corpus shuffle crept in
    val p = plan("ml_linear_probe")
    assert(!p.contains("hashpartitioning"), s"linear probe must not hash-shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"weights must broadcast, not sort-merge:\n$p")
  }

  test("q55 fuzzy-link candidates come from a hash join on the deletion keys") {
    val p = plan("q55_fuzzy_link")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy link must never plan the quadratic cross scan:\n$p")
  }

  test("q57 skyline broadcasts the partition offsets, never sorts the orders table globally") {
    // the QueryDef's final orderBy adds a range exchange of its own,
    // so guard the API's plan directly
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val p = operators.Analytics.skyline2d(o, col("o_totalprice"), col("o_orderdate"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), s"per-partition maxes must broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"), s"skyline must not cross-join:\n$p")
    // the range partitioning (two-level scan) runs over the DISTINCT-
    // price aggregate, never over the raw orders scan
    assert(p.contains("rangepartitioning"), "the two-level scan needs its range exchange")
  }

  test("q58 attribution shuffles once on the user key") {
    val p = plan("q58_attribution")
    val userShuffles = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
    assert(userShuffles <= 1, s"expected one user-keyed exchange:\n$p")
  }

  test("q70 abandoned carts shuffles once on the user key, never joins") {
    // the forward as-of is ONE reversed window — a join (the oracle's
    // route) or a second user exchange would be the quadratic/tasked
    // regression
    val p = plan("q70_abandoned_carts")
    assert(!p.contains("Join"), s"forward as-of must stay a window, not a join:\n$p")
    val userShuffles = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("user_id")).size
    assert(userShuffles == 1, s"expected exactly one user-keyed exchange:\n$p")
  }

  test("q66 seasonality and q62 histogram bin map-side against broadcast stats") {
    for (q <- Seq("q66_seasonality", "q62_histogram2d")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q must broadcast its stats row:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n$p")
    }
  }

  test("vec_silhouette scores map-side against broadcast centroids") {
    val p = plan("vec_silhouette")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"centroid row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"silhouette must not sort-merge the corpus:\n$p")
  }

  test("q71 basket lift plans sort-free top-k and no quadratic join operators") {
    val p = plan("q71_basket_lift")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"basket pair stage must stay keyed:\n$p")
    // exactly ONE nested-loop join is allowed: the broadcast cross of
    // the one-row basket-count frame (the house stat-row shape); the
    // basket pair join itself must stay a keyed hash join
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the one-row stat cross may nested-loop:\n$p")
  }

  test("q72 stickiness plans the MAU side as an equi-join on the exploded day grid") {
    // the BETWEEN range-join form would be a BroadcastNestedLoopJoin
    // evaluating |user-days| x |days| predicates; the explode form is a
    // hash equi-join on the covered day
    val p = plan("q72_stickiness")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"MAU must not range-join:\n$p")
    assert(p.contains("Explode") || p.contains("Generate"), s"MAU must explode coverage:\n$p")
  }

  test("q73 bm25 broadcasts df and corpus stats, never self-joins the corpus") {
    val p = plan("q73_bm25")
    assert(p.contains("BroadcastExchange"), s"df/stats rows must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-15 must be TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-grain sort-merge join:\n$p")
  }

  test("q77 abc classification never sorts the catalog globally") {
    // the two-level scan replaces the global cumulative sort: range
    // partition + pid-local windows + broadcast offsets
    val p = plan("q77_abc_classification")
    assert(!p.contains("CartesianProduct"))
    // the final orderBy(cls) range-partitions too; the first level must
    // range-partition the catalog on (rc DESC, pk)
    assert("""rangepartitioning\(rc#\d+L? DESC NULLS LAST, pk#\d+L? ASC NULLS FIRST""".r
      .findFirstIn(p).nonEmpty, s"expected the range-partitioned first level:\n$p")
  }

  test("top-k outputs of keyphrases and inverted index are TakeOrdered, not global sorts") {
    for (q <- Seq("text_keyphrases", "text_inverted_index")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q must plan sort-free top-k:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must stay keyed:\n$p")
    }
  }

  test("ml scoring queries keep the corpus unshuffled past training") {
    // threshold sweep / calibration: the corpus-side plan is scan →
    // broadcast-joined weights/thresholds → aggregate; any
    // hashpartitioning over 60k corpus rows would mean a scoring
    // shuffle crept in (the aggregates shuffle only tiny key grids)
    for (q <- Seq("ml_threshold_sweep", "ml_calibration")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q must broadcast, not sort-merge:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }

  test("r8 analytics queries broadcast their dims and plan no quadratic joins") {
    // q81: nation/region dims broadcast; q82: part-brand dim broadcast;
    // q83: the one shuffle is the customer-keyed cohort join; q86: the
    // customer dim broadcast — none may fall back to cartesian/BNLJ
    for (q <- Seq("q81_hhi_concentration", "q82_price_elasticity",
        "q83_cohort_ltv", "q86_chi2_independence")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q lost its broadcast dims:\n$p")
    }
  }

  test("q80 cusum and q84 survival collapse the corpus before any window") {
    // both must aggregate to day/user grain FIRST: a window over raw
    // events would sort the corpus (the q79/q63 discipline)
    for (q <- Seq("q80_cusum_changepoint", "q84_survival_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") ||
        q == "q84_survival_retention", s"$q plan shape:\n$p")
      val aggIdx = p.indexOf("HashAggregate")
      val winIdx = p.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0 && winIdx < p.lastIndexOf("HashAggregate"),
        s"$q must reduce before windowing")
    }
  }

  test("graph_hits joins are equi-joins; renormalization totals ride broadcasts") {
    // the gated builder checkpoints per round, so inspect the
    // un-truncated DAG of one full run instead
    import spark.implicits._
    val co = ((1L to 8L).map(c => (c, 100L)) ++
      (1L to 4L).map(c => (c, 100L + c))).toDF("c", "p")
    val (h, _) = CacheScope.withScope { implicit sc =>
      operators.Graph.hits(co, truncate = false)
    }
    val p = h.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"graph_hits cartesian:\n$p")
    // the only nested-loop joins allowed are the broadcast CROSS joins
    // carrying the ONE-ROW rescale totals — a conditioned BNLJ would
    // mean an edge-scale join fell off its equi-keys
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"conditioned nested-loop join crept in: $l")
    }
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "rescale totals must broadcast")
  }

  test("graph loops shuffle-hash-join their per-round state") {
    // the loops checkpoint while they build, which hides the static
    // plan: read the executed pre-checkpoint stages as well
    Harness.dropAllBlocks(spark)
    val loops = Seq("graph_pagerank", "graph_kcore", "graph_hits", "graph_bfs", "graph_anf")
    val plans = Harness.eachQuery(spark, loops) { (_, q) =>
      Harness.explainExecuted(spark, q(TestSpark.sfDir))
    }
    val missing = loops.zip(plans).collect { case (n, p) if !p.contains("ShuffledHashJoin") => n }
    assert(missing.isEmpty, s"per-round state joins lost their shuffle_hash plan: ${missing.mkString(", ")}")
    assert(!plans.exists(_.contains("WARNING")), "a pre-checkpoint plan was not captured")
  }

  test("ann_mips keeps the probe side semi-joined and plans no cartesian") {
    val p = plan("ann_mips")
    assert(!p.contains("CartesianProduct"), s"ann_mips cartesian:\n$p")
  }

  test("ml_feature_importance is one aggregate: no join operator at all") {
    // the whole LOO ablation must be moment algebra on a single
    // aggregate row — any Join means a residual pass crept back in
    val p = plan("ml_feature_importance")
    assert(!p.contains("Join"), s"ml_feature_importance must be join-free:\n$p")
    assert(p.contains("HashAggregate"), s"expected the moment aggregate:\n$p")
  }

  test("r9 session tier plans no cartesian and no sort-merge joins") {
    // q89: FK checks are keyed hash joins (AQE broadcasts the parent
    // at test SF); q90: one window shuffle and one aggregate, its
    // power iteration runs on the driver (no join at all); q91/panel:
    // every small frame is broadcast-hinted past its checkpoint
    // (stats-free frames silently SMJ otherwise — the r8 lesson);
    // conformal: the corpus never shuffles past training
    for (q <- Seq("q89_dq_audit", "q90_markov_stationary", "q91_theil_sen",
        "pipeline_trend_panel", "ml_conformal_interval")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plans a sort-merge join:\n$p")
    }
  }

  test("r9 late tier: shingle/sentence/key-grain shuffles only, no quadratic joins") {
    // novelty/boilerplate: hash-keyed shrinking aggregates, doc-keyed
    // attribution joins; q92: selection + broadcast boundaries; q93:
    // key-grain count-table join; source_stats rides the capped pair
    // scan. None may plan a cartesian; q93's count-table join and the
    // attribution joins must stay hash joins
    for (q <- Seq("text_novelty_curve", "text_boilerplate_fraction",
        "q92_equidepth_histogram", "q93_join_size_estimate",
        "ml_learning_curve", "ann_filtered_search", "ml_ks_two_sample")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q plans a sort-merge join:\n$p")
    }
  }

  test("boilerplate attribution joins on the hash, never explodes twice") {
    // one exchange on h (the df aggregate + the hot-set join), one on
    // doc_id (the per-doc aggregate) — a plan that re-splits the text
    // for the join side would scan the corpus twice
    val p = plan("text_boilerplate_fraction")
    assert("""InMemoryTableScan \[doc_id#\d+L?, h#\d+L?\]""".r.findFirstIn(p).isDefined,
      s"expected the persisted (doc_id, h) sentence-hash frame to be read from cache:\n$p")
  }

  test("trend panel collapses the corpus to day grain before any window") {
    val p = plan("pipeline_trend_panel")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0, s"expected the day-grain aggregate:\n$p")
    // the shared dd is checkpointed, so the windows in the visible
    // plan operate on the days-grain RDD scan, never on raw events
    assert(!p.contains("events.parquet") || winIdx < 0
      || p.indexOf("events.parquet") > winIdx,
      s"a window must not consume the raw corpus:\n$p")
  }
}
