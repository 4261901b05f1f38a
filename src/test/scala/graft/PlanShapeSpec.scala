package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties the 100 TB posture depends on:
  * filters reaching the parquet scan, dimension sides broadcast, no
  * nested loops where an equi-join shape was designed. (PLANS.md holds
  * the full captured plans; these asserts keep them true.) */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, TestSpark.sf).queryExecution.executedPlan.toString

  test("q6: every predicate reaches the parquet scan as a pushed filter") {
    val p = plan("q6_filter_sum")
    assert(p.contains("PushedFilters"))
    assert(p.contains("l_discount") && p.contains("l_shipdate") && p.contains("l_quantity"))
  }

  test("q5: the dimension chain joins are broadcast, not shuffled") {
    val p = plan("q5_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension joins must not sort-merge")
  }

  test("events_lookback: the interval join plans as an equi hash join, no nested loop") {
    val p = plan("events_lookback")
    assert(p.contains("HashJoin"))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "bucketed range join must not degrade to a nested loop or cartesian product")
  }

  test("events_asof: one keyed exchange + window, no join at all") {
    val p = plan("events_asof")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "as-of must be the union+window shape, not a join")
  }

  test("q_topk_group: rank filter becomes WindowGroupLimit (bounded pre-sort selection)") {
    val p = plan("q_topk_group")
    assert(p.contains("WindowGroupLimit"), "rank <= k must push into WindowGroupLimit")
  }

  test("o3_topk: plans as TakeOrderedAndProject (partial heaps + merge)") {
    val p = plan("o3_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("simhash band join: equi join on chunk keys, never a cartesian") {
    val p = plan("dedup_simhash_port")
    assert(p.contains("Join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "fingerprint band join must stay an equi join")
    // the doc-range restriction reaches the scan
    assert(p.contains("PushedFilters") && p.contains("doc_id"))
  }

  test("embedding LSH near-dups: bucket join and payload re-joins stay equi") {
    val p = plan("dedup_embcos")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "LSH candidate generation must never degrade to all-pairs")
  }

  test("incremental minhash: cross-corpus band join stays equi, never cartesian") {
    val p = plan("dedup_incr_minhash")
    assert(p.contains("Join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "base x batch candidate generation must stay an equi band join")
    // the doc-id split predicates reach the scans
    assert(p.contains("PushedFilters") && p.contains("doc_id"))
  }

  test("bloom contamination: phase-1 gate is the native bloom expression, no join") {
    val p = plan("text_contam_bloom")
    assert(p.contains("might_contain"),
      "phase-1 must gate through the constant bloom filter, not a join or UDF")
    assert(!p.contains("CartesianProduct"))
  }

  test("contamination: eval grams broadcast; corpus side never sort-merges") {
    val p = plan("text_contam")
    assert(p.contains("BroadcastHashJoin"),
      "the eval-set gram join must broadcast the tiny side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("segment dedup: no exchange carries segment text; doc-text join broadcasts") {
    val p = plan("dedup_segments")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "segment df lookup must stay an equi join")
    // Static plan (AQE off so Exchange nodes are materialized in the tree):
    // every shuffle output is scalars — the exploded per-segment text
    // column ("seg") is hashed in place and never reaches an exchange.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val noAqe = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("dedup_segments")(spark, TestSpark.sf)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val shuffled = noAqe.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    }
    assert(shuffled.nonEmpty, "expected shuffles in the static plan")
    assert(!shuffled.flatten.contains("seg"),
      s"a shuffle carries exploded segment text: $shuffled")
    // Runtime: AQE broadcasts the per-doc dropped-index side back to the
    // doc rows, so the document text itself never enters an exchange.
    val df = SparkEntry.queries("dedup_segments")(spark, TestSpark.sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "AQE should broadcast the dropped-index side of the reassembly join")
  }

  test("repetition + packing: no join, no explode-shuffle — per-row/window only") {
    assert(!plan("text_repetition").contains("Join"),
      "repetition fractions are pure per-row expressions")
    val pk = plan("pipe_pack")
    assert(pk.contains("Window") && !pk.contains("Join"),
      "packing is one per-group window pass")
  }

  test("pq: ADC scan joins only the broadcast query table") {
    // the contract harness around ann_pq joins two 5-row aggregates
    // (free to sort-merge); the posture that matters is the SCAN itself
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val idx = graft.operators.Ann.pqBuild(e, "vec_id", "embedding", m = 8, nCodes = 16)
    val p = graft.operators.Ann.pqTopK(idx, e.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the query/table side must be broadcast")
    assert(!p.contains("SortMergeJoin"),
      "PQ scoring must not shuffle the codes table against queries")
  }

  test("ivf append: batch assignment is a narrow expression pass, no exchange") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
    val base = graft.operators.Ann.ivfBuild(
      e.filter(col("vec_id") >= 10), "vec_id", "embedding", nLists = 4)
    val appended = graft.operators.Ann.ivfAppend(
      base, e.filter(col("vec_id") < 10), "vec_id", "embedding")
    val p = appended.assigned.queryExecution.executedPlan.toString
    // centroids ride as a plan literal; assignment is projection-only —
    // appending must introduce neither a shuffle nor any ML stage
    assert(p.contains("Union"))
    assert(!p.contains("Exchange"),
      s"append assignment must not shuffle:\n$p")
  }

  test("dedup index simhash probe: stored-chunk equi join; base text never read") {
    val p = plan("dedup_incr_simidx")
    assert(p.contains("Join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "index-chunk x batch-chunk candidate generation must stay an equi join")
    // the base side comes from the stored simchunks projection — the
    // only documents scan in the plan is the batch's (doc_id >= 300)
    assert(p.contains("simchunks"), "probe must read the stored projection")
    assert(p.contains("PushedFilters") && p.contains("doc_id"))
  }

  test("semantic dedup pairs: cluster self-join stays equi, never cartesian") {
    import org.apache.spark.sql.functions.col
    val idx = SparkEntry.cachedIvf(spark, TestSpark.sf)
    val p = graft.operators.Dedup
      .semanticPairs(idx.assigned, "id", "v", "cluster", tau = 0.3)
      .queryExecution.executedPlan.toString
    assert(p.contains("Join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"within-cluster candidate generation must stay an equi join:\n$p")
  }

  test("bq batch probe: queries broadcast on both phases; rerank joins stay equi") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, TestSpark.sf)
    val sigs = graft.operators.Ann.bqSigs(e, "vec_id", "embedding")
    val q = graft.operators.Ann.bqTopKBatch(sigs, e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5, oversample = 16)
    val p = q.queryExecution.executedPlan.toString
    // nomination crossJoin(broadcast(q)) and the rerank's two joins must
    // never shuffle the corpus side against the Q-sized query table
    assert(p.contains("Broadcast"), "query side must broadcast")
    assert(!p.contains("CartesianProduct"),
      "rerank must stay an equi join on (id)/(qid), not a product")
    // phase 1 scans the packed signature kernel, not the float vectors
    assert(p.contains("sign_pack") && p.contains("hamming_dist"),
      "nomination must run on the packed signature kernel")
  }

  test("stratified quota: rank filter lowers to WindowGroupLimit") {
    import org.apache.spark.sql.functions.col
    val q = graft.operators.Relational.stratifiedQuota(
      Tables.documents(spark, TestSpark.sf), "doc_id", Seq("lang"), 10)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"quota filter must push into WindowGroupLimit (map-side bounded):\n${p.take(800)}")
  }

  test("temperature sample: rate table broadcasts; corpus side never shuffles for the join") {
    import org.apache.spark.sql.functions.col
    val q = graft.operators.Relational.temperatureSample(
      Tables.documents(spark, TestSpark.sf), "doc_id", "lang", 300)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "groups-sized rate frame must broadcast against the corpus")
    assert(!p.contains("SortMergeJoin"))
  }

  test("shard writer readback: shard predicate prunes to one partition directory") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_shards_plan").toString
    graft.operators.Relational.writeShards(
      Tables.documents(spark, TestSpark.sf).select(col("doc_id"), col("text")),
      "doc_id", out, nShards = 4)
    val q = spark.read.parquet(out).filter(col("shard") === 2)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // partition pruning, not a post-scan filter: a training loader
    // reading one shard must touch one directory
    assert(scan.contains("PartitionFilters") && scan.contains("shard"),
      s"shard filter must prune partitions:\n$scan")
    assert(q.count() > 0)
  }

  /** A persisted 8-list IVF×BQ layout over the sf embeddings, two
    * probe queries as a frame that is NOT driver-resident (distributed
    * placement) and the same queries collected (driver placement). */
  private lazy val ivfBqFixture = {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"), col("embedding"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_plan").toString
    graft.operators.Ann.ivfBqSave(graft.operators.Ann.ivfBqBuild(
      graft.operators.Ann.ivfBuild(e, "vec_id", "embedding", nLists = 8)), path)
    val q = e.filter(col("vec_id") < 2)
    (graft.operators.Ann.ivfBqLoad(spark, path), q, SparkEntry.driverFrame(q))
  }

  private def ivfBqProbe(q: org.apache.spark.sql.DataFrame) =
    graft.operators.Ann.ivfBqTopK(ivfBqFixture._1, q, "vec_id", "embedding",
      k = 3, nProbe = 2, oversample = 4)

  /** FileScan lines over the persisted lists in a final executed plan
    * (AQE wraps the tree, so match the plan text above its initial
    * plan). */
  private def listScans(executedPlan: String): Seq[String] =
    executedPlan.split("== Initial Plan ==").head
      .linesIterator.filter(l => l.contains("FileScan parquet") && l.contains("lists")).toSeq

  /** The lists scans of every job the driver placement runs, captured
    * from the executed plans a QueryExecutionListener sees. */
  private def driverPlacementScans(): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val (_, _, ql) = ivfBqFixture
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      assert(ivfBqProbe(ql).collect().nonEmpty)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(new Array[String](0)).toSeq.flatMap(listScans)
  }

  private def readSchema(s: String): String = s.drop(s.indexOf("ReadSchema:"))

  private def partFilters(s: String): String = {
    val tag = "PartitionFilters: ["
    val i = s.indexOf(tag)
    if (i < 0) "" else { val rest = s.drop(i + tag.length); rest.take(rest.indexOf("]")) }
  }

  test("ivfBq hybrid probe: cluster partition pruning + sig-only nomination scan") {
    // both placements: the distributed plan of a frame that is not
    // driver-resident, and the jobs the driver placement runs
    val df = ivfBqProbe(ivfBqFixture._2)
    for ((placement, scans) <- Seq(
        "distributed" -> listScans(df.queryExecution.executedPlan.toString),
        "driver" -> driverPlacementScans())) {
      assert(scans.nonEmpty, s"$placement probe must scan the persisted lists")
      // every scan of the lists table is pruned to the probed clusters
      // (static isin from the probe table -> file-listing-time
      // partition pruning, the ivfTopK discipline)
      assert(scans.forall(s =>
        s.contains("PartitionFilters") && s.contains("cluster#")),
        s"$placement lists scans must carry cluster partition filters:\n${scans.mkString("\n")}")
      // the nomination pass reads (id, sig) WITHOUT the float vectors:
      // parquet column pruning is what turns 100 TB of f32 into the ~3 TB
      // signature read
      assert(scans.exists(s =>
        readSchema(s).contains("sig") && !readSchema(s).contains("v:")),
        s"one $placement lists scan must project signatures only:\n${scans.mkString("\n")}")
    }
    // and the plan stays correct end to end
    assert(df.count() > 0)
  }

  test("ivfBq BATCH probe: rerank scan stays cluster-pruned (no full-table (id,v) read)") {
    val df = ivfBqProbe(ivfBqFixture._2)
    assert(df.count() > 0)
    // after execution, the adaptive plan is final: every scan of the
    // persisted lists that reads the FLOAT vectors (the rerank side)
    // must carry a cluster partition filter — the round-9 advisor
    // finding was exactly this scan reading every cluster directory.
    // Checked on the distributed placement and on the driver
    // placement's rerank job alike.
    for ((placement, scans) <- Seq(
        "distributed" -> listScans(df.queryExecution.executedPlan.toString),
        "driver" -> driverPlacementScans())) {
      val rerankScans = scans.filter(s => readSchema(s).contains("v:"))
      assert(rerankScans.nonEmpty,
        s"$placement probe must have a float rerank scan:\n${scans.mkString("\n")}")
      // the static probed-cluster isin must land INSIDE PartitionFilters
      // (file-listing-time pruning), not as a post-scan data filter
      assert(rerankScans.forall(s => partFilters(s).contains("cluster#")),
        s"$placement rerank scans must keep static cluster pruning:\n" +
          rerankScans.mkString("\n"))
      // and the nomination scan (sig, no v) is pruned the same way
      val nomScans = scans.filter(s =>
        readSchema(s).contains("sig") && !readSchema(s).contains("v:"))
      assert(nomScans.nonEmpty && nomScans.forall(s => partFilters(s).contains("cluster#")),
        s"$placement nomination scans must be cluster-pruned:\n${scans.mkString("\n")}")
    }
  }

  test("mltQueries: the seed semi-join gates the corpus BELOW the rank window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val spark2 = spark
    import spark2.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val q = graft.operators.TextAnalysis.mltQueries(docs, "doc_id", "text",
      Seq("0").toDF("id"), nTerms = 5)
    val windows = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "rank window must exist")
    assert(windows.forall(w =>
      w.collectFirst { case j: Join if j.joinType == LeftSemi => j }.isDefined),
      "every rank window must sit ABOVE a seed left-semi gate — one seed " +
        "must never pay a corpus-wide per-doc window rank:\n" +
        q.queryExecution.optimizedPlan.toString)
  }

  test("mltQueriesIdx: term selection never re-scans the corpus in its final plan") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val path = java.nio.file.Files.createTempDirectory("graft_mlt_plan").toString
    graft.operators.InvertedIndex.build(docs, "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4)
    val q = graft.operators.TextAnalysis.mltQueriesIdx(spark, path, docs,
      "doc_id", "text", Seq("0").toDF("id"), nTerms = 5)
    // the one seed-gated corpus pass materialized at call time; the
    // returned plan may touch ONLY the index's own layouts — the
    // vocab-sized term stats (the df fast path) or the postings (the
    // tombstone-debt fallback) — plus the checkpointed seed-sized tf.
    // This is what makes a per-batch MLT stream cost ∝ batch.
    val scans = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.forall(s => s.contains("postings") || s.contains("termstats")),
      s"final MLT plan must not re-scan the corpus:\n${scans.mkString("\n")}")
    // and with no tombstone debt the df probe is the TERM STATS read,
    // never a postings count
    assert(scans.exists(_.contains("termstats")) &&
      !scans.exists(_.contains("postings")),
      s"fresh index must serve df from term stats:\n${scans.mkString("\n")}")
    assert(q.count() == 1)
  }

  test("inverted-index probe: bucket partition pruning + term pushdown") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft_inv_plan").toString
    graft.operators.InvertedIndex.build(
      Tables.documents(spark, TestSpark.sf), "doc_id", "text",
      path, nBuckets = 16, nDocBuckets = 4)
    val df = graft.operators.InvertedIndex.bm25TopK(
      spark, path, Seq("spark", "vector", "join"), k = 10)
    val postScans = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.filter(l => l.contains("FileScan parquet") && l.contains("postings"))
      .toSeq
    assert(postScans.nonEmpty, "probe must scan the postings table")
    // the query terms' bucket ids prune at file-listing time (static
    // isin on the partition column — the probed-ANN discipline), and
    // the term equality pushes into the parquet scan so row groups of
    // other terms sharing a bucket skip
    assert(postScans.forall(s =>
      s.contains("PartitionFilters") && s.contains("bucket#")),
      s"postings scans must carry bucket partition filters:\n${postScans.mkString("\n")}")
    assert(postScans.forall(s =>
      s.drop(s.indexOf("PushedFilters")).contains("In(term")),
      s"term predicate must push into the scan:\n${postScans.mkString("\n")}")
    assert(df.count() > 0)
    // positional postings must be FREE for scoring probes: the BM25
    // scans' ReadSchema must not include the pos array (parquet column
    // pruning is what keeps positions from taxing every keyword lookup)
    def readSchema(s: String): String = s.drop(s.indexOf("ReadSchema:"))
    assert(postScans.forall(s => !readSchema(s).contains("pos:")),
      s"BM25 probe must not read the positions column:\n${postScans.mkString("\n")}")
  }
}
