package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorStore

/** Mirrors the reference's black-box unit tests
  * (/root/reference/tests/unit_tests.rs) against the Spark store. */
class VectorStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkStore(rows: Seq[(String, Seq[Float], String)], dim: Int = 4): VectorStore =
    VectorStore.fromDataFrame(
      rows.toDF("id", "vec", "color"), "id", "vec", dim)

  private val base = Seq(
    ("a", Seq(1f, 0f, 0f, 0f), "red"),
    ("b", Seq(0f, 1f, 0f, 0f), "blue"),
    ("c", Seq(3f, 4f, 0f, 0f), "green"))

  test("ingest normalizes vectors to unit length (unit_tests.rs:208-240)") {
    val st = mkStore(base)
    val norms = st.df.select(
      sqrt(aggregate(transform(col("vector"), x => x * x), lit(0.0), _ + _)).as("n"))
      .collect().map(_.getDouble(0))
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-5))
  }

  test("self-query returns itself with score ~1 (unit_tests.rs:6-33)") {
    val st = mkStore(base)
    val hits = st.query(Array(3f, 4f, 0f, 0f), 1).collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[String]("__id__") == "c")
    assert(math.abs(hits.head.getAs[Double]("__metrics__") - 1.0) < 1e-5)
  }

  test("query respects filter before scoring and threshold (advanced_usage.rs:148-160)") {
    val st = mkStore(base)
    val hits = st.query(Array(1f, 0f, 0f, 0f), 10,
      betterThan = Some(-0.5), filter = Some(col("color") =!= "red")).collect()
    assert(hits.map(_.getAs[String]("__id__")).toSet == Set("b", "c"))
    // result projection drops the vector (lib.rs:247-259)
    assert(!hits.head.schema.fieldNames.contains("vector"))
  }

  test("upsert: update keeps old fields, replaces vector; id lists correct (lib.rs:150-185)") {
    val st = mkStore(base)
    val batch = Seq(
      ("a", Seq(0f, 0f, 1f, 0f), "yellow"), // update: color must stay "red"
      ("d", Seq(0f, 0f, 0f, 1f), "black"))  // insert
      .toDF("id", "vec", "color")
      .select(col("id").as("__id__"), col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
    val r = st.upsert(batch)
    assert(r.updatedIds.as[String].collect().toSeq == Seq("a"))
    assert(r.insertedIds.as[String].collect().toSeq == Seq("d"))
    val state = r.store.df.collect().map(x =>
      x.getAs[String]("__id__") -> (x.getAs[Seq[Float]]("vector"), x.getAs[String]("color"))).toMap
    assert(state("a")._2 == "red")                      // O2a stale fields
    assert(math.abs(state("a")._1(2) - 1f) < 1e-5)      // new vector in place
    assert(state("d")._2 == "black")
    assert(r.store.len() == 4)
  }

  test("upsert: small batch broadcasts, store-sized batch plans a shuffle join") {
    val st = mkStore(base)
    val small = Seq(("a", Seq(0f, 0f, 1f, 0f), "x")).toDF("id", "vec", "color")
      .select(col("id").as("__id__"), col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
    val smallPlan = st.upsert(small).store.df
      .queryExecution.optimizedPlan.toString
    assert(smallPlan.contains("broadcast"),
      "a local-relation batch (exact tiny stats) must keep the broadcast hint")
    // a parquet-backed batch whose optimizer estimate exceeds the bound
    // must NOT be hinted — AQE decides from runtime size (OOM hazard fix)
    val bigBatch = spark.read
      .parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select(col("vec_id").cast(StringType).as("__id__"),
        col("embedding").cast(ArrayType(FloatType)).as("vector"),
        lit("e").as("color"))
    val bigPlan = st.upsert(bigBatch, broadcastBatchBytes = 1024).store.df
      .queryExecution.optimizedPlan.toString
    assert(!bigPlan.contains("broadcast"),
      "an over-bound batch must plan unhinted so AQE can pick a shuffle join")
  }

  test("get returns existing, silently drops missing (unit_tests.rs:82-107)") {
    val st = mkStore(base)
    val got = st.get(Seq("a", "zzz")).collect()
    assert(got.map(_.getAs[String]("__id__")).toSeq == Seq("a"))
  }

  test("delete removes rows and matrix invariant holds (unit_tests.rs:110-142)") {
    val st = mkStore(base).delete(Seq("b"))
    assert(st.len() == 2)
    // reference load invariant: total elements == N * dim (lib.rs:122-129)
    val elems = st.df.agg(sum(size(col("vector")))).as[Long].head()
    assert(elems == st.len() * st.embeddingDim)
    assert(st.query(Array(0f, 1f, 0f, 0f), 10).collect()
      .forall(_.getAs[String]("__id__") != "b"))
  }

  test("zero vector is rejected at query time (unit_tests.rs:243-247)") {
    val st = mkStore(base)
    intercept[IllegalArgumentException] {
      st.query(Array(0f, 0f, 0f, 0f), 1)
    }
  }

  test("save/load roundtrip with additional_data (unit_tests.rs:36-79)") {
    val dir = java.nio.file.Files.createTempDirectory("vsave").toString
    val st = mkStore(base).withAdditionalData(Map("version" -> "1.0", "note" -> "t"))
    st.save(dir)
    val back = VectorStore.load(spark, dir)
    assert(back.embeddingDim == 4)
    assert(back.metric == "cosine")
    assert(back.additionalDataStrings == Map("version" -> "1.0", "note" -> "t"))
    assert(back.len() == 3)
  }

  test("additional_data nested JSON values survive the sidecar structurally (lib.rs:46-47)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nested = mapper.readTree("""{"threshold":0.8,"tags":["a","b"],"deep":{"n":1}}""")
    val dir = java.nio.file.Files.createTempDirectory("vjson").toString
    mkStore(base).withAdditionalDataJson(Map(
      "config" -> nested,
      "count" -> com.fasterxml.jackson.databind.node.IntNode.valueOf(7))).save(dir)
    val back = VectorStore.load(spark, dir)
    // structural equality of the JSON tree, not a string rendering
    assert(back.additionalData("config") == nested)
    assert(back.additionalData("config").get("deep").get("n").asInt() == 1)
    assert(back.additionalData("count").isNumber && back.additionalData("count").asInt() == 7)
  }

  test("load validation fails on dim mismatch (lib.rs:396-425)") {
    val dir = java.nio.file.Files.createTempDirectory("vbad").toString
    // corrupt store: sidecar claims dim 7 but the data vectors are dim 4
    mkStore(base).copy(embeddingDim = 7).save(dir)
    val ex = intercept[IllegalArgumentException] { VectorStore.load(spark, dir) }
    assert(ex.getMessage.contains("corrupted"))
  }

  test("queryBatch agrees with the single-query path per qid") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64,
      elemType = org.apache.spark.sql.types.DoubleType)
    val queries = e.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val batch = st.queryBatch(queries, "vec_id", "embedding", topK = 4)
      .orderBy(col("qid"), col("rank")).collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.map(_.getAs[String]("__id__")).toSeq).toMap
    (0L until 3L).foreach { q =>
      val qv = e.filter(col("vec_id") === q).select("embedding").head().getSeq[Float](0).toArray
      val single = st.query(qv, 4).select("__id__").collect().map(_.getString(0)).toSeq
      assert(batch(q) == single, s"qid $q")
    }
  }

  test("bucketed save: id-keyed self-join plans without a shuffle exchange") {
    val st = mkStore(base)
    st.saveBucketed("graft_bucketed_t", buckets = 4)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t1 = spark.table("graft_bucketed_t")
      val t2 = spark.table("graft_bucketed_t")
      val joined = t1.join(t2, Seq("__id__"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_t")
    }
  }

  test("matrix-mode query matches the DataFrame path bitwise") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val q = e.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    def dfHits(k: Int, thr: Option[Double]) =
      st.query(q, k, betterThan = thr).select("__id__", "__metrics__")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val mx = graft.operators.MatrixStore.fromStore(st)
    try {
      assert(mx.query(q, 10).toSeq == dfHits(10, None))
      assert(mx.query(q, 100, Some(0.2)).toSeq == dfHits(100, Some(0.2)))
      // batch kernel == per-query kernel, element for element
      val qs = Seq(0L, 3L, 9L).map { i =>
        i.toString -> e.filter(col("vec_id") === i).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      val batch = mx.queryBatch(qs, 5)
      qs.foreach { case (qid, v) =>
        assert(batch(qid).toSeq == mx.query(v, 5).toSeq, s"qid $qid")
      }
    } finally mx.unpersist()
    // empty store: both kernels return empty, not throw
    val empty = graft.operators.MatrixStore.fromStore(
      VectorStore(st.df.filter(lit(false)), 64))
    try {
      assert(empty.query(q, 5).isEmpty)
      assert(empty.queryBatch(Seq("q0" -> q), 5).apply("q0").isEmpty)
    } finally empty.unpersist()
  }

  test("partitioned delete rewrites touched buckets; emptied buckets do not resurrect") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val nBuckets = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_pdel").toString
    VectorStore.Partitioned.init(st, dir, nBuckets)
    // plain delete: semantics equal the logical anti-join
    VectorStore.Partitioned.delete(spark, dir, (0L until 10L).map(_.toString))
    val after = VectorStore.Partitioned.load(spark, dir)
    val afterLen = after.len()
    assert(afterLen == st.len() - 10)
    assert(after.get((0L until 10L).map(_.toString)).isEmpty)
    // empty one bucket COMPLETELY: its ids must stay gone after reload
    // (dynamic overwrite alone would leave the old partition dir behind).
    // Materialize everything we need from `after` BEFORE mutating the
    // directory under it — its file index is point-in-time.
    val bucketOfId = after.df
      .select(col("__id__"), VectorStore.Partitioned.bucketOf(nBuckets).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val victim = bucketOfId.values.head
    val victimIds = bucketOfId.collect { case (id, b) if b == victim => id }.toSeq
    assert(victimIds.nonEmpty)
    VectorStore.Partitioned.delete(spark, dir, victimIds)
    val emptied = VectorStore.Partitioned.load(spark, dir)
    assert(emptied.len() == afterLen - victimIds.length)
    assert(emptied.get(victimIds).isEmpty,
      "fully-emptied bucket must not resurrect its rows on reload")
    val emptiedLen = emptied.len()
    // deleting nothing is a no-op
    VectorStore.Partitioned.delete(spark, dir, Seq.empty)
    assert(VectorStore.Partitioned.load(spark, dir).len() == emptiedLen)
  }

  test("quantized two-phase query returns the exact path's results bit for bit") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val qmx = graft.operators.QuantizedMatrixStore.fromStore(st)
    try {
      (0L until 10L).foreach { i =>
        val q = e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
        val exact = mx.query(q, 10).toSeq
        val fast = qmx.query(q, 10, oversample = 8).toSeq
        assert(fast == exact, s"query $i: nomination missed a true top-10 row")
      }
    } finally { mx.unpersist(); qmx.unpersist() }
  }

  test("bucketed matrix refresh after upsert equals full rebuild bitwise") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val nBuckets = 8
    val mx = graft.operators.MatrixStore.fromStoreBucketed(st, nBuckets)
    val q = e.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    // bucketed build is just a layout change: same results as fromStore
    val flat = graft.operators.MatrixStore.fromStore(st)
    assert(mx.query(q, 10).toSeq == flat.query(q, 10).toSeq)
    flat.unpersist()
    // upsert: reverse 5 vectors, insert 5 new far ids
    val batch = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("string").as("__id__"),
        reverse(col("embedding")).as("vector"), col("label"))
      .union(e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).cast("string").as("__id__"),
          col("embedding").as("vector"), col("label")))
    val st2 = st.upsert(batch).store
    val touched = batch
      .select(VectorStore.Partitioned.bucketOf(nBuckets).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(touched.nonEmpty && touched.size < nBuckets,
      s"fixture should touch a strict subset of buckets, touched $touched")
    val refreshed = mx.refreshBuckets(st2, touched)
    val full = graft.operators.MatrixStore.fromStoreBucketed(st2, nBuckets)
    try {
      assert(refreshed.query(q, 10).toSeq == full.query(q, 10).toSeq)
      // the updated vector itself must surface identically
      val q0 = batch.filter(col("__id__") === "0").select("vector")
        .head().getSeq[Float](0).toArray
      assert(refreshed.query(q0, 5).toSeq == full.query(q0, 5).toSeq)
      assert(refreshed.query(q0, 5).head._1 == "0") // self-hit on the NEW vector
    } finally { full.unpersist(); refreshed.unpersist(); mx.unpersist() }
    // refresh on a partition-aligned cache is a loud error, not silence
    val flat2 = graft.operators.MatrixStore.fromStore(st)
    try {
      val ex = intercept[IllegalArgumentException](flat2.refreshBuckets(st2, touched))
      assert(ex.getMessage.contains("fromStoreBucketed"))
    } finally flat2.unpersist()
  }

  test("matrix cache loads shuffle-free from the Partitioned layout; refresh after disk upsert") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val nBuckets = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_mx_part").toString
    VectorStore.Partitioned.init(st, dir, nBuckets)
    val q = e.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    val fromDisk = graft.operators.MatrixStore.fromPartitionedLayout(spark, dir)
    val viaShuffle = graft.operators.MatrixStore
      .fromStoreBucketed(VectorStore.Partitioned.load(spark, dir), nBuckets)
    try {
      assert(fromDisk.query(q, 10).toSeq == viaShuffle.query(q, 10).toSeq)
      assert(fromDisk.nBuckets.contains(nBuckets))
    } finally viaShuffle.unpersist()
    // mutate the layout on disk, refresh only the touched buckets
    val batch = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("string").as("__id__"),
        reverse(col("embedding")).as("vector"), col("label"))
    VectorStore.Partitioned.upsert(spark, dir, batch)
    val touched = batch
      .select(VectorStore.Partitioned.bucketOf(nBuckets).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val refreshed = fromDisk.refreshBuckets(VectorStore.Partitioned.load(spark, dir), touched)
    val rebuilt = graft.operators.MatrixStore.fromPartitionedLayout(spark, dir)
    try {
      val q0 = batch.filter(col("__id__") === "0").select("vector")
        .head().getSeq[Float](0).toArray
      assert(refreshed.query(q0, 5).toSeq == rebuilt.query(q0, 5).toSeq)
      assert(refreshed.query(q0, 5).head._1 == "0")
    } finally { refreshed.unpersist(); rebuilt.unpersist(); fromDisk.unpersist() }
    // non-partitioned sidecars are a loud error
    val plainDir = java.nio.file.Files.createTempDirectory("graft_mx_plain").toString
    st.save(plainDir)
    val ex = intercept[IllegalArgumentException](
      graft.operators.MatrixStore.fromPartitionedLayout(spark, plainDir))
    assert(ex.getMessage.contains("nBuckets"))
  }

  test("matrix cache save/load round trip: bitwise-equal queries, shuffle-free reload") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val nBuckets = 8
    val mx = graft.operators.MatrixStore.fromStoreBucketed(st, nBuckets)
    val dir = java.nio.file.Files.createTempDirectory("graft_mx_save").toString
    mx.save(dir)
    val back = graft.operators.MatrixStore.fromPartitionedLayout(spark, dir)
    try {
      assert(back.nBuckets.contains(nBuckets))
      val qs = (0L to 4L).map { i =>
        i.toString -> e.filter(col("vec_id") === i)
          .select("embedding").head().getSeq[Float](0).toArray
      }
      val a = mx.queryBatch(qs, 10)
      val b = back.queryBatch(qs, 10)
      qs.foreach { case (qid, _) =>
        assert(a(qid).toSeq == b(qid).toSeq, s"query $qid differs after save/load")
      }
      // the saved layout is a REAL Partitioned layout: the store loader
      // opens it too (same sidecar + bucket directories)
      val asStore = VectorStore.Partitioned.load(spark, dir)
      assert(asStore.len() == st.len() && asStore.embeddingDim == 64)
    } finally { back.unpersist(); mx.unpersist() }
    // partition-aligned caches refuse to save (no stable bucket identity)
    val flat = graft.operators.MatrixStore.fromStore(st)
    try {
      val ex = intercept[IllegalArgumentException](flat.save(dir))
      assert(ex.getMessage.contains("fromStoreBucketed"))
    } finally flat.unpersist()
  }

  test("top-k properties: query(k) is a prefix of query(k+1); threshold = filtered top-k") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val q = e.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0).toArray
    def ids(k: Int, thr: Option[Double] = None): Seq[String] =
      st.query(q, k, betterThan = thr).select("__id__").collect().map(_.getString(0)).toSeq
    // deterministic (score desc, id) total order makes top-k a strict prefix
    val k10 = ids(10)
    val k11 = ids(11)
    assert(k11.take(10) == k10)
    // inclusive threshold: top-k with betterThan == top-k minus below-threshold rows
    val thr = 0.2
    val withThr = st.query(q, 100, betterThan = Some(thr))
      .select("__id__", "__metrics__").collect()
    assert(withThr.forall(_.getDouble(1) >= thr))
    val noThr = st.query(q, 100).select("__id__", "__metrics__").collect()
      .filter(_.getDouble(1) >= thr).map(_.getString(0)).toSeq
    assert(withThr.map(_.getString(0)).toSeq == noThr)
  }

  test("partitioned upsert: semantics match the logical merge, untouched buckets stay on disk") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val n = 64
    val rows = (0 until n).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i"))
    val st = mkStore(rows)
    val dir = Files.createTempDirectory("pstore").toString
    VectorStore.Partitioned.init(st, dir, nBuckets = 8)
    def listState(d: String) = Files.walk(Paths.get(d)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = listState(s"$dir/data")
    val batch = Seq(
      ("3", Seq(0f, 0f, 1f, 0f), "NEW"),   // update: color must stay c3
      ("9999", Seq(0f, 0f, 0f, 1f), "ins")) // insert
      .toDF("id", "vec", "color")
      .select(col("id").as("__id__"), col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
    VectorStore.Partitioned.upsert(spark, dir, batch)
    val after = listState(s"$dir/data")
    // semantic parity with the logical-view merge
    val expect = st.upsert(batch).store.df
      .select("__id__", "color").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = VectorStore.Partitioned.load(spark, dir).df
      .select("__id__", "color").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expect)
    assert(got.contains(("3", "c3")) && got.contains(("9999", "ins")))
    // incrementality: files in untouched buckets are byte-identical (same
    // path, same mtime); at least one bucket was rewritten
    val touched = Seq("3", "9999").map(id => s"__bucket__=" +
      spark.range(1).select(pmod(xxhash64(lit(id)), lit(8L))).head().getLong(0)).toSet
    val untouchedBefore = before.filter { case (p, _) => !touched.exists(p.contains) }
    val untouchedAfter = after.filter { case (p, _) => !touched.exists(p.contains) }
    assert(untouchedBefore == untouchedAfter, "untouched bucket files must not be rewritten")
    assert(before.keySet != after.keySet || before != after, "touched buckets must change")
  }

  test("streaming upsert applies microbatches to the partitioned store in order") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("sstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val watch = Files.createTempDirectory("swatch")
    def stage(name: String, rows: Seq[(String, Seq[Float], String)], mtime: Long): Unit = {
      val staging = Files.createTempDirectory(s"sstage_$name")
      rows.toDF("id", "vec", "color")
        .select(col("id").as("__id__"),
          col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    // batch 1: update id 3 (color must stay c3), insert 9001 as "one"
    stage("b1", Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW"), ("9001", Seq(1f, 0f, 0f, 0f), "one")), t0)
    // batch 2: vector-update 9001 (color stays "one"), insert 9002
    stage("b2", Seq(("9001", Seq(0f, 1f, 0f, 0f), "two"), ("9002", Seq(0f, 0f, 0f, 1f), "ins")), t0 + 5000)
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val q = graft.streaming.StreamingOps.upsertStream(stream, store)
    try q.processAllAvailable() finally q.stop()
    val state = VectorStore.Partitioned.load(spark, store).df.collect()
      .map(r => r.getAs[String]("__id__") ->
        (r.getAs[Seq[Float]]("vector"), r.getAs[String]("color"))).toMap
    assert(state.size == 18)
    assert(state("3")._2 == "c3")                         // O2a stale fields
    assert(math.abs(state("3")._1(2) - 1f) < 1e-5)        // batch-1 vector applied
    assert(state("9001")._2 == "one")                     // batch-2 update keeps batch-1 fields
    assert(math.abs(state("9001")._1(1) - 1f) < 1e-5)     // ...but takes batch-2 vector
    assert(state("9002")._2 == "ins")
  }

  test("streaming upsert keeps the matrix cache fresh; equals full rebuild bitwise") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("mcstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.MatrixStore.fromPartitionedLayout(spark, store))
    val watch = Files.createTempDirectory("mcwatch")
    def stage(name: String, rows: Seq[(String, Seq[Float], String)], mtime: Long): Unit = {
      val staging = Files.createTempDirectory(s"mcstage_$name")
      rows.toDF("id", "vec", "color")
        .select(col("id").as("__id__"),
          col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("b1", Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW"), ("9001", Seq(1f, 0f, 0f, 0f), "one")), t0)
    stage("b2", Seq(("9001", Seq(0f, 1f, 0f, 0f), "two"), ("9002", Seq(0f, 0f, 0f, 1f), "ins")), t0 + 5000)
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val q = graft.streaming.StreamingOps.upsertStreamWithCache(stream, store, cache)
    try q.processAllAvailable() finally q.stop()
    // the incrementally-refreshed cache equals a cold full rebuild
    val rebuilt = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    try {
      val queries = Seq(
        "q3" -> Array(0f, 0f, 1f, 0f),
        "q9001" -> Array(0f, 1f, 0f, 0f),
        "q9002" -> Array(0f, 0f, 0f, 1f))
      val a = cache.get.queryBatch(queries, 5)
      val b = rebuilt.queryBatch(queries, 5)
      queries.foreach { case (qid, _) =>
        assert(a(qid).toSeq == b(qid).toSeq, s"$qid differs from full rebuild")
      }
      // the stream's newest vectors are what the cache serves
      assert(a("q9001").head._1 == "9001")
      assert(a("q9002").head._1 == "9002")
      assert(cache.get.nBuckets.contains(4))
    } finally { rebuilt.unpersist(); cache.get.unpersist() }
  }

  test("streaming upsert keeps the serving replica fresh; equals cold toLocal bitwise") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("mrstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.MatrixStore.fromPartitionedLayout(spark, store))
    val replica = new java.util.concurrent.atomic.AtomicReference(cache.get.toLocal())
    val watch = Files.createTempDirectory("mrwatch")
    def stage(name: String, rows: Seq[(String, Seq[Float], String)], mtime: Long): Unit = {
      val staging = Files.createTempDirectory(s"mrstage_$name")
      rows.toDF("id", "vec", "color")
        .select(col("id").as("__id__"),
          col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("b1", Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW"), ("9001", Seq(1f, 0f, 0f, 0f), "one")), t0)
    stage("b2", Seq(("9001", Seq(0f, 1f, 0f, 0f), "two"), ("9002", Seq(0f, 0f, 0f, 1f), "ins")), t0 + 5000)
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val q = graft.streaming.StreamingOps.upsertStreamWithReplica(
      stream, store, cache, replica, graceMillis = 0L)
    try q.processAllAvailable() finally q.stop()
    // the delta-refreshed replica equals a cold collect of a full rebuild
    val rebuilt = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val cold = rebuilt.toLocal()
    try {
      assert(replica.get.nRows == cold.nRows)
      Seq(
        Array(0f, 0f, 1f, 0f),   // updated vector of id 3
        Array(0f, 1f, 0f, 0f),   // id 9001's SECOND upsert wins
        Array(0f, 0f, 0f, 1f),   // inserted id 9002
        Array(1f, 1f, 0f, 0f)).zipWithIndex.foreach { case (v, i) =>
        assert(replica.get.query(v, 5).toSeq == cold.query(v, 5).toSeq, s"query $i differs")
      }
      assert(replica.get.query(Array(0f, 1f, 0f, 0f), 1).head._1 == "9001")
    } finally { rebuilt.unpersist(); cache.get.unpersist() }
  }

  test("hnsw replica: recall + bitwise scores vs exact scan; add/delete/upsert maintenance") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    try {
      val hnsw = local.toHnsw(m = 8, efConstruction = 64)
      assert(hnsw.nRows == local.nRows)
      val queries = (0L to 19L).map { i =>
        i.toString -> e.filter(col("vec_id") === i).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      queries.foreach { case (qid, q) =>
        val exact = local.query(q, 10)
        val approx = hnsw.query(q, 10, ef = 96)
        // self-hit: the stored vector itself is rank 1 (score 1-ish is max)
        assert(approx.head._1 == qid, s"query $qid: rank-1 ${approx.head._1}")
        // recall@10 floor per query
        val hits = approx.map(_._1).count(exact.map(_._1).toSet)
        assert(hits >= 9, s"query $qid recall $hits/10")
        // every emitted score is bitwise-equal to the exact kernel's
        val full = local.query(q, Int.MaxValue).toMap
        approx.foreach { case (id, s) => assert(full(id) == s, s"score drift on $id") }
        // threshold + O4 allow-set gates behave like the exact tier's
        val thr = exact(4)._2
        assert(hnsw.query(q, 10, ef = 96, betterThan = Some(thr)).forall(_._2 >= thr))
        val allow = exact.take(3).map(_._1).toSet
        assert(hnsw.query(q, 10, ef = 96, allowedIds = Some(allow))
          .forall(p => allow.contains(p._1)))
      }
      // delete: tombstoned id vanishes; the runner-up keeps its exact score
      val (q0id, q0) = queries.head
      val before = hnsw.query(q0, 2, ef = 96)
      hnsw.markDeleted(Seq(q0id))
      val after = hnsw.query(q0, 1, ef = 96)
      assert(after.head == before(1), "runner-up should be rank 1 after delete")
      assert(hnsw.nRows == local.nRows - 1)
      // add: a fresh exact-duplicate vector of q0 lands at rank 1
      hnsw.add(Seq("fresh" -> q0))
      assert(hnsw.query(q0, 1, ef = 96).head._1 == "fresh")
      // upsert: re-adding an existing id tombstones the old row
      val (q1id, q1) = queries(1)
      hnsw.add(Seq(q1id -> q0)) // q1's id now carries q0's vector
      val hits = hnsw.query(q0, 3, ef = 96).map(_._1)
      assert(hits.contains(q1id), "upserted id should match its new vector")
      assert(hnsw.query(q1, 10, ef = 96).count(_._1 == q1id) <= 1,
        "an upserted id must not appear twice")
    } finally mx.unpersist()
  }

  test("hnsw save/load: reloaded graph answers identically; maintenance keeps working") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    try {
      val hnsw = local.toHnsw(m = 8, efConstruction = 64)
      val q0 = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0).toArray
      val q7 = e.filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0).toArray
      hnsw.markDeleted(Seq("3")) // tombstones must survive the round trip
      val path = java.nio.file.Files.createTempDirectory("hnswsave").toString
      hnsw.save(spark, path)
      val back = graft.operators.HnswReplica.load(spark, path)
      assert(back.nRows == hnsw.nRows)
      Seq(q0, q7).foreach { q =>
        assert(back.query(q, 10, ef = 96).toSeq == hnsw.query(q, 10, ef = 96).toSeq,
          "reloaded graph must answer identically")
        assert(back.query(q, 10, ef = 96).forall(_._1 != "3"))
      }
      // post-reload maintenance: add an exact dup of q0, delete another id
      back.add(Seq("fresh" -> q0))
      assert(back.query(q0, 1, ef = 96).head._1 == "fresh" ||
        back.query(q0, 2, ef = 96).map(_._1).contains("fresh"))
      back.markDeleted(Seq("fresh"))
      assert(back.query(q0, 10, ef = 96).forall(_._1 != "fresh"))
    } finally mx.unpersist()
  }

  test("sharded hnsw: parallel shard fan-out matches exact tier; cross-shard maintenance + persistence") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    try {
      val hs = local.toHnswSharded(nShards = 4, m = 8, efConstruction = 64)
      assert(hs.nShards == 4)
      assert(hs.nRows == local.nRows)
      val queries = (0L to 9L).map { i =>
        i.toString -> e.filter(col("vec_id") === i).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      queries.foreach { case (qid, q) =>
        val exact = local.query(q, 10)
        val approx = hs.query(q, 10, ef = 96)
        assert(approx.head._1 == qid, s"query $qid: rank-1 ${approx.head._1}")
        val hits = approx.map(_._1).count(exact.map(_._1).toSet)
        assert(hits >= 9, s"query $qid recall $hits/10")
        val full = local.query(q, Int.MaxValue).toMap
        approx.foreach { case (id, s) => assert(full(id) == s, s"score drift on $id") }
        // gates push into every shard's search
        val thr = exact(4)._2
        assert(hs.query(q, 10, ef = 96, betterThan = Some(thr)).forall(_._2 >= thr))
        val allow = exact.take(3).map(_._1).toSet
        assert(hs.query(q, 10, ef = 96, allowedIds = Some(allow))
          .forall(p => allow.contains(p._1)))
      }
      // delete routes to the owning shard; upsert re-add lands on it too
      val (q0id, q0) = queries.head
      hs.markDeleted(Seq(q0id))
      assert(hs.query(q0, 10, ef = 96).forall(_._1 != q0id))
      assert(hs.nRows == local.nRows - 1)
      hs.add(Seq(q0id -> q0))
      assert(hs.query(q0, 1, ef = 96).head._1 == q0id)
      assert(hs.nRows == local.nRows)
      // persistence: reload answers identically, shard count pinned
      val path = java.nio.file.Files.createTempDirectory("hnswshards").toString
      hs.save(spark, path)
      val back = graft.operators.HnswShards.load(spark, path)
      assert(back.nShards == 4 && back.nRows == hs.nRows)
      queries.take(3).foreach { case (_, q) =>
        assert(back.query(q, 10, ef = 96).toSeq == hs.query(q, 10, ef = 96).toSeq)
      }
    } finally mx.unpersist()
  }

  test("sharded hnsw maintenance: tombstone GC rebuilds only offending shards; delta save rewrites only churn") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    val hs = local.toHnswSharded(nShards = 4, m = 8, efConstruction = 64)
    mx.unpersist()
    val q0 = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0).toArray
    // full save, then churn: delete a third of ONE shard's ids
    val path = java.nio.file.Files.createTempDirectory("hsmaint").toString
    hs.save(spark, path)
    val allIds = e.select(col("vec_id").cast("string")).collect().map(_.getString(0))
    // find the shard of id "0" by deleting ids until one shard crosses the bound:
    // simpler — delete every id that routes with "0"-style hash bucket 0..n/3
    val victims = allIds.take(allIds.length / 3)
    hs.markDeleted(victims)
    val tombsBefore = hs.nTombstones
    assert(tombsBefore == victims.length.toLong)
    val live = hs.nRows
    val beforeHits = hs.query(q0, 10, ef = 96).toSeq
    val rebuilt = hs.maintain(maxTombFrac = 0.2)
    assert(rebuilt.nonEmpty, "a third of the corpus deleted must trip the 0.2 bound somewhere")
    assert(hs.nTombstones < tombsBefore, "rebuilt shards must drop their tombstones")
    assert(hs.nRows == live, "maintenance must not change live rows")
    // results still exact-scored and tombstone-free
    val afterHits = hs.query(q0, 10, ef = 96).toSeq
    assert(afterHits.forall { case (id, _) => !victims.contains(id) })
    assert(afterHits.map(_._1).toSet.subsetOf(
      local.query(q0, Int.MaxValue).map(_._1).toSet))
    assert(beforeHits.nonEmpty && afterHits.nonEmpty)
    // delta save: only the shards touched since the full save rewrite
    val touched = hs.saveDelta(spark, path)
    assert(touched.nonEmpty && touched.size <= 4)
    val back = graft.operators.HnswShards.load(spark, path)
    assert(back.nRows == hs.nRows && back.nTombstones == hs.nTombstones)
    assert(back.query(q0, 10, ef = 96).toSeq == hs.query(q0, 10, ef = 96).toSeq)
    // a second delta with no churn rewrites nothing
    assert(hs.saveDelta(spark, path).isEmpty)
    // and a loaded replica checkpoints deltas back to its own path
    back.markDeleted(Seq(afterHits.head._1))
    val t2 = back.saveDelta(spark, path)
    assert(t2.size == 1, s"one deleted id must touch exactly one shard, got $t2")
    val back2 = graft.operators.HnswShards.load(spark, path)
    assert(back2.query(q0, 10, ef = 96).forall(_._1 != afterHits.head._1))
  }

  test("sharded hnsw reshard: live rows re-route under the new modulus; handles stay valid") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    val hs = local.toHnswSharded(nShards = 2, m = 8, efConstruction = 64)
    mx.unpersist()
    val q0 = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0).toArray
    val allIds = e.select(col("vec_id").cast("string")).collect().map(_.getString(0))
    val victims = allIds.filter(_ != "0").take(20)
    hs.markDeleted(victims)
    val live = hs.nRows
    val up = hs.reshard(5)
    assert(up.nShards == 5 && up.nRows == live && up.nTombstones == 0,
      "reshard carries live rows only and drops tombstones")
    // deleted ids stay deleted; every emitted score is exact
    val hits = up.query(q0, 10, ef = 96)
    assert(hits.head._1 == "0" && hits.forall { case (id, _) => !victims.contains(id) })
    val exactAll = local.query(q0, Int.MaxValue).toMap
    hits.foreach { case (id, s) => assert(exactAll(id) == s) }
    // the old handle keeps serving until the caller swaps (atomic-swap contract)
    assert(hs.query(q0, 5, ef = 96).nonEmpty && hs.nShards == 2)
    // post-reshard maintenance still routes by the NEW modulus
    up.add(Seq("zzz-new" -> q0))
    assert(up.query(q0, 2, ef = 96).map(_._1).contains("zzz-new"))
    // saving a shrunken layout over a wider one removes the stale shard dirs
    val path = java.nio.file.Files.createTempDirectory("hsreshard").toString
    up.save(spark, path)
    val down = up.reshard(2)
    down.save(spark, path)
    val back = graft.operators.HnswShards.load(spark, path)
    assert(back.nShards == 2 && back.nRows == live + 1)
    assert(back.query(q0, 10, ef = 96).toSeq == down.query(q0, 10, ef = 96).toSeq)
    assert(!new java.io.File(s"$path/shard=4").exists(),
      "stale shard dirs beyond the new count must be removed")
    // drift gate: 500 live rows size to 1 shard, so a 5-shard layout
    // trips the bound and a 1-shard one is quiet
    assert(up.needsReshard() == Some(1))
    assert(down.reshard(1).needsReshard().isEmpty)
  }

  test("streaming upsert + tombstones drive the SHARDED hnsw tier through the same trait") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("shstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val hs = cache.toLocal().toHnswSharded(nShards = 3, m = 4, efConstruction = 8)
    cache.unpersist()
    val watch = Files.createTempDirectory("shwatch")
    val staging = Files.createTempDirectory("shstage")
    Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW"), ("9001", Seq(1f, 0f, 0f, 0f), "ins"))
      .toDF("id", "vec", "color")
      .select(col("id").as("__id__"),
        col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, watch.resolve("b1.parquet"))
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).parquet(watch.toString)
    // same entry point as the single-graph twin — HnswMaintainable
    val q = graft.streaming.StreamingOps.upsertStreamWithHnsw(stream, store, hs)
    try q.processAllAvailable() finally q.stop()
    assert(hs.query(Array(0f, 0f, 1f, 0f), 1, ef = 16).head._1 == "3",
      "cross-shard upsert must reach id 3's owning shard")
    assert(hs.query(Array(1f, 0f, 0f, 0f), 17, ef = 32).count(_._1 == "9001") == 1)
    assert(hs.nRows == 17) // 16 base + 9001; id 3 upserted in place
    val watch2 = Files.createTempDirectory("shtomb")
    val staging2 = Files.createTempDirectory("shtombstage")
    Seq("9001").toDF("__id__").coalesce(1)
      .write.mode("overwrite").parquet(staging2.toString)
    val part2 = Files.list(staging2).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part2, watch2.resolve("t1.parquet"))
    val stream2 = spark.readStream
      .schema(spark.read.parquet(watch2.toString).schema).parquet(watch2.toString)
    val q2 = graft.streaming.StreamingOps.tombstoneStreamHnsw(stream2, "__id__", store, hs)
    try q2.processAllAvailable() finally q2.stop()
    assert(hs.query(Array(1f, 0f, 0f, 0f), 17, ef = 32).forall(_._1 != "9001"))
    assert(hs.nRows == 16)
  }

  test("streaming upsert + tombstones keep the hnsw graph tier fresh") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("mhstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val hnsw = cache.toLocal().toHnsw(m = 4, efConstruction = 8)
    cache.unpersist()
    val watch = Files.createTempDirectory("mhwatch")
    def stage(name: String, rows: Seq[(String, Seq[Float], String)], mtime: Long): Unit = {
      val staging = Files.createTempDirectory(s"mhstage_$name")
      rows.toDF("id", "vec", "color")
        .select(col("id").as("__id__"),
          col("vec").cast(ArrayType(FloatType)).as("vector"), col("color"))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = watch.resolve(s"$name.parquet")
      Files.copy(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("b1", Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW"), ("9001", Seq(1f, 0f, 0f, 0f), "one")), t0)
    stage("b2", Seq(("9001", Seq(0f, 1f, 0f, 0f), "two"), ("9002", Seq(0f, 0f, 0f, 1f), "ins")), t0 + 5000)
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    val q = graft.streaming.StreamingOps.upsertStreamWithHnsw(stream, store, hnsw)
    try q.processAllAvailable() finally q.stop()
    // upserts landed in the graph: updated vector, second-upsert-wins, insert
    assert(hnsw.query(Array(0f, 0f, 1f, 0f), 1, ef = 16).head._1 == "3")
    assert(hnsw.query(Array(0f, 1f, 0f, 0f), 1, ef = 16).head._1 == "9001")
    assert(hnsw.query(Array(0f, 1f, 0f, 0f), 18, ef = 32).count(_._1 == "9001") == 1,
      "an upserted id must appear once")
    assert(hnsw.query(Array(0f, 0f, 0f, 1f), 1, ef = 16).head._1 == "9002")
    assert(hnsw.nRows == 18) // 16 base + 9001 + 9002 (upserts tombstone, not grow)
    // and the disk layout the stream maintained agrees with the graph
    val rebuilt = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val cold = rebuilt.toLocal()
    assert(cold.query(Array(0f, 1f, 0f, 0f), 1).head._1 == "9001")
    rebuilt.unpersist()
    // tombstone twin: forgotten ids stop being served and leave the layout
    val watch2 = Files.createTempDirectory("mhtomb")
    val staging2 = Files.createTempDirectory("mhtombstage")
    Seq("9002", "3").toDF("__id__").coalesce(1)
      .write.mode("overwrite").parquet(staging2.toString)
    val part2 = Files.list(staging2).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part2, watch2.resolve("t1.parquet"))
    val schema2 = spark.read.parquet(watch2.toString).schema
    val stream2 = spark.readStream.schema(schema2).parquet(watch2.toString)
    val q2 = graft.streaming.StreamingOps.tombstoneStreamHnsw(stream2, "__id__", store, hnsw)
    try q2.processAllAvailable() finally q2.stop()
    assert(hnsw.query(Array(0f, 0f, 0f, 1f), 1, ef = 16).headOption.forall(_._1 != "9002"))
    assert(hnsw.query(Array(0f, 0f, 1f, 0f), 18, ef = 32).forall(_._1 != "3"))
    assert(hnsw.nRows == 16)
    val rebuilt2 = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    try assert(rebuilt2.toLocal().nRows == 16) finally rebuilt2.unpersist()
  }

  test("compaction: offending dirs rewrite to one file, rows and cool dirs untouched") {
    import java.nio.file.Files
    import graft.operators.Ann
    val st = mkStore((0 until 16).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("cmpstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    // three upserts of one row each: touched dirs REWRITE (dynamic
    // overwrite) and the pre-routed write lands one file per dir, so
    // upserts alone no longer accumulate debt — manufacture it the way
    // it actually arises now (append-mode writers / pre-fix layouts):
    // land extra data files directly in two bucket dirs
    (100 until 103).foreach { i =>
      VectorStore.Partitioned.upsert(spark, store,
        Seq((i.toString, Seq(0f, 0f, 1f, 0f))).toDF("id", "vec")
          .select(col("id").as("__id__"),
            col("vec").cast(ArrayType(FloatType)).as("vector")))
    }
    // the extra files must carry the layout's FULL data-file schema
    // (append-mode writers do)
    new java.io.File(s"$store/data").listFiles()
      .filter(_.getName.startsWith("__bucket__=")).take(2).zipWithIndex
      .foreach { case (d, i) =>
        Seq((s"debt$i", s"cdebt$i", Seq(9f, 9f, 9f, 9f))).toDF("id", "color", "vec")
          .select(col("id").as("__id__"), col("color"),
            col("vec").cast(ArrayType(FloatType)).as("vector"))
          .coalesce(1).write.mode("append").parquet(d.getPath)
      }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def pq(root: String) = walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    val before = pq(s"$store/data")
    val rowsBefore = VectorStore.Partitioned.load(spark, store).df
      .orderBy(col("__id__")).collect().map(_.toString).toSeq
    val compacted = VectorStore.Partitioned.compact(spark, store, maxFiles = 1)
    assert(compacted.nonEmpty)
    val after = pq(s"$store/data")
    assert(after.size < before.size, "compaction must shrink the file count")
    // every compacted dir is down to one file; cool dirs byte-identical
    compacted.foreach { d =>
      assert(new java.io.File(s"$store/data/$d").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)
    }
    assert(before.forall { case (p, v) =>
      compacted.exists(p.contains) || after.get(p).contains(v) })
    val rowsAfter = VectorStore.Partitioned.load(spark, store).df
      .orderBy(col("__id__")).collect().map(_.toString).toSeq
    assert(rowsAfter == rowsBefore, "compaction must not change a single row")
    // idempotent: a second pass finds nothing over the bound
    assert(VectorStore.Partitioned.compact(spark, store, maxFiles = 1).isEmpty)
    // the hybrid wrapper rides the same helper
    val e = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"), col("embedding"))
    val hp = Files.createTempDirectory("cmphy").toString
    Ann.ivfBqSave(Ann.ivfBqBuild(Ann.ivfBuild(
      e.filter(col("vec_id") >= 20), "vec_id", "embedding", nLists = 2)), hp)
    (0 until 3).foreach { i =>
      Ann.ivfBqAppendSave(spark, hp,
        e.filter(col("vec_id") >= 5 * i && col("vec_id") < 5 * (i + 1)),
        "vec_id", "embedding")
    }
    val hBefore = pq(s"$hp/lists").size
    assert(Ann.ivfBqCompactSave(spark, hp, maxFiles = 2).nonEmpty)
    assert(pq(s"$hp/lists").size < hBefore)
    assert(spark.read.parquet(s"$hp/lists").count() == e.filter(col("vec_id") >= 20).count() + 15)
  }

  test("compaction crash recovery: tmp dropped, renamed-away original restored") {
    import java.nio.file.Files
    import graft.operators.Ann
    // drive through the public IVF wrapper (compactDirs is
    // package-private): root is the layout's lists dir
    val base = Files.createTempDirectory("cmprec").toString
    val root = s"$base/lists"
    def writeDir(name: String, ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
    writeDir("cluster=0", Seq(1L, 2L))
    writeDir("cluster=1", Seq(3L, 4L))
    // crash state A: a stale staging dir from an interrupted pass —
    // must be dropped, never treated as a partition dir
    writeDir(".cluster=0.compact.tmp", Seq(99L))
    // crash state B: an original renamed away with the second rename
    // never run — the partition dir is MISSING and .old holds the only
    // copy; recovery must restore it
    writeDir(".cluster=1.compact.old", Seq(3L, 4L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/cluster=1"), true)
    val compacted = Ann.ivfCompactSave(spark, base, maxFiles = 8)
    assert(compacted.isEmpty, "nothing over the bound; recovery only")
    assert(!new java.io.File(s"$root/.cluster=0.compact.tmp").exists)
    assert(!new java.io.File(s"$root/.cluster=1.compact.old").exists)
    val restored = spark.read.parquet(s"$root/cluster=1")
      .collect().map(_.getLong(0)).toSet
    assert(restored == Set(3L, 4L), "renamed-away original must be restored")
    // crash state C: .old leftover with the swap COMPLETE (dir present)
    writeDir(".cluster=0.compact.old", Seq(98L))
    Ann.ivfCompactSave(spark, base, maxFiles = 8)
    assert(!new java.io.File(s"$root/.cluster=0.compact.old").exists)
    assert(spark.read.parquet(s"$root/cluster=0")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("delete-rewrite crash recovery: stranded .rewrite.old restored before the delete runs") {
    import java.nio.file.Files
    import graft.operators.Ann
    val e = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 30)
    val path = Files.createTempDirectory("rwrec").toString
    Ann.ivfSave(Ann.ivfBuild(e, "vec_id", "embedding", nLists = 3), path)
    val lists = s"$path/lists"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val allBefore = spark.read.parquet(lists)
      .select(col("id").cast("string")).collect().map(_.getString(0)).toSet
    // pick a victim cluster dir and simulate the crash window of an
    // earlier delete: original renamed away to .rewrite.old, the
    // rename-in never ran (partition dir MISSING), plus a stale
    // staging dir that must never be read as data
    val victim = new java.io.File(lists).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster=")).head.getName
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$lists/$victim"),
      new org.apache.hadoop.fs.Path(s"$lists/.$victim.rewrite.old")))
    Seq(-1L).toDF("id").write.parquet(s"$lists/.$victim.rewrite.tmp")
    // ids stranded in .old are invisible right now
    assert(spark.read.parquet(lists)
      .select(col("id").cast("string")).collect().map(_.getString(0)).toSet != allBefore)
    // the next delete call sweeps first: the stranded dir is restored,
    // so the touched-scan sees every row and the delete lands on the
    // full corpus — no data loss across the injected crash
    val dropIds = allBefore.take(2).toSeq
    Ann.ivfDeleteSave(spark, path, dropIds)
    assert(!new java.io.File(s"$lists/.$victim.rewrite.old").exists)
    assert(!new java.io.File(s"$lists/.$victim.rewrite.tmp").exists)
    val after = spark.read.parquet(lists)
      .select(col("id").cast("string")).collect().map(_.getString(0)).toSet
    assert(after == allBefore -- dropIds,
      "post-recovery delete must act on the restored full corpus")
  }

  test("partitioned store heals a compaction crash before upsert, delete and load") {
    import java.nio.file.Files
    val n = 64
    val rows = (0 until n).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i"))
    val st = mkStore(rows)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val bucketOf = st.df.select(col("__id__"),
        VectorStore.Partitioned.bucketOf(8).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val victim = bucketOf("3")
    val victimIds = bucketOf.collect { case (id, b) if b == victim => id }.toSet
    // the crash window of Ann.compactDirs: the bucket dir renamed away
    // to `.old`, the compacted copy never renamed in
    def crashedLayout(): String = {
      val dir = Files.createTempDirectory("pcrash").toString
      VectorStore.Partitioned.init(st, dir, nBuckets = 8)
      require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/data/__bucket__=$victim"),
        new org.apache.hadoop.fs.Path(s"$dir/data/.__bucket__=$victim.compact.old")))
      dir
    }
    def ids(dir: String): Set[String] =
      VectorStore.Partitioned.load(spark, dir).df.select("__id__")
        .collect().map(_.getString(0)).toSet
    // upsert into the crashed bucket: the original rows must survive it
    // and the compaction that follows
    val up = crashedLayout()
    val batch = Seq(("3", Seq(0f, 0f, 1f, 0f), "NEW")).toDF("id", "vec", "color")
      .select(col("id").as("__id__"), col("vec").cast(ArrayType(FloatType)).as("vector"),
        col("color"))
    VectorStore.Partitioned.upsert(spark, up, batch)
    VectorStore.Partitioned.compact(spark, up, maxFiles = 1)
    assert(!new java.io.File(s"$up/data/.__bucket__=$victim.compact.old").exists)
    assert(ids(up) == rows.map(_._1).toSet, "an upsert must not drop the crashed bucket's rows")
    val three = VectorStore.Partitioned.load(spark, up).df
      .filter(col("__id__") === "3").select("color", "vector").head()
    assert(three.getString(0) == "c3" && three.getSeq[Float](1) == Seq(0f, 0f, 1f, 0f))
    // delete from the crashed bucket: the delete must land on the
    // restored rows, not be undone when the `.old` copy comes back
    val del = crashedLayout()
    val gone = (victimIds - "3").take(1).toSeq :+ "3"
    VectorStore.Partitioned.delete(spark, del, gone)
    VectorStore.Partitioned.compact(spark, del, maxFiles = 1)
    assert(ids(del) == rows.map(_._1).toSet -- gone, "a delete must not be lost to the crash")
    // a plain load heals too: the crashed bucket reads back whole
    val ld = crashedLayout()
    assert(ids(ld) == rows.map(_._1).toSet)
    assert(graft.operators.MatrixStore.fromPartitionedLayout(spark, crashedLayout())
      .query(Array(1f, 1f, 0f, 0f), n).map(_._1).toSet == rows.map(_._1).toSet)
    // a read only restores a missing bucket: it deletes neither the stage
    // of a compaction that may still be running nor a leftover `.old`
    val live = crashedLayout()
    val other = bucketOf.values.find(_ != victim).get
    val stage = new org.apache.hadoop.fs.Path(s"$live/data/.compact.stage/__bucket__=$victim")
    val leftover = new org.apache.hadoop.fs.Path(s"$live/data/.__bucket__=$other.compact.old")
    require(fs.mkdirs(stage) && fs.mkdirs(leftover))
    assert(ids(live) == rows.map(_._1).toSet)
    graft.operators.MatrixStore.fromPartitionedLayout(spark, live)
    assert(fs.exists(stage) && fs.exists(leftover), "a read must not delete swap residue")
    assert(new java.io.File(s"$live/data/__bucket__=$victim").exists)
  }

  test("ingest streams repay their own small-file debt on the compact cadence") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.operators.Ann
    val e = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"), col("embedding"))
    val path = Files.createTempDirectory("cadidx").toString
    Ann.ivfBqSave(Ann.ivfBqBuild(Ann.ivfBuild(
      e.filter(col("vec_id") >= 40), "vec_id", "embedding", nLists = 2)), path)
    val watch = Files.createTempDirectory("cadwatch")
    (0 until 4).foreach { i =>
      val tmp = Files.createTempDirectory(s"cadstage$i")
      e.filter(col("vec_id") >= 10 * i && col("vec_id") < 10 * (i + 1))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, watch.resolve(s"b$i.parquet"))
    }
    val st = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    // 4 single-batch triggers, compaction fires after batches 2 and 4
    val q = graft.streaming.StreamingOps.ivfBqIngestStream(st, path,
      "vec_id", "embedding", compactEvery = 2, compactMaxFiles = 1)
    try q.processAllAvailable() finally q.stop()
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // the final cadence ran at batch 4, so no dir holds more than one
    // file (nothing appended after it)
    new java.io.File(s"$path/lists").listFiles().filter(_.isDirectory).foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) <= 1,
        s"dir ${d.getName} must be compacted by the cadence")
    }
    // and nothing was lost across appends + compactions
    assert(spark.read.parquet(s"$path/lists").count() == e.count())
  }

  test("index ingest streams are replay-idempotent across a checkpoint restart") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.operators.Ann
    // the hybrid family as representative — all three raw-append
    // ingest streams share the same BatchLedger wrap
    val e = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"), col("embedding"))
    val path = Files.createTempDirectory("rplidx").toString
    Ann.ivfBqSave(Ann.ivfBqBuild(Ann.ivfBuild(
      e.filter(col("vec_id") >= 40), "vec_id", "embedding", nLists = 2)), path)
    val watch = Files.createTempDirectory("rplwatch")
    (0 until 2).foreach { i =>
      val tmp = Files.createTempDirectory(s"rplstage$i")
      e.filter(col("vec_id") >= 10 * i && col("vec_id") < 10 * (i + 1))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, watch.resolve(s"b$i.parquet"))
    }
    val cp = Files.createTempDirectory("rplcp").toString
    def run(): Unit = {
      val st = spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(watch.toString)
      val q = graft.streaming.StreamingOps.ivfBqIngestStream(st, path,
        "vec_id", "embedding", checkpointDir = Some(cp))
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val lists = spark.read.parquet(s"$path/lists")
    val countOnce = lists.count()
    assert(countOnce == e.filter(col("vec_id") >= 40).count() + 20)
    def probe(): Seq[String] = {
      val q = e.filter(col("vec_id") < 3)
      Ann.ivfBqTopK(Ann.ivfBqLoad(spark, path), q, "vec_id", "embedding",
        k = 5, nProbe = 2, oversample = 4)
        .collect().map(_.toString).sorted.toSeq
    }
    val probeOnce = probe()
    // crash injection: drop the LAST batch's engine commit so a
    // restart from the same checkpoint re-delivers it in full
    val commits = new java.io.File(s"$cp/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastName = commits.last.getName
    assert(commits.last.delete())
    // local-FS checksum sidecar would block the re-commit rename
    new java.io.File(s"$cp/commits/.$lastName.crc").delete()
    run()
    val after = spark.read.parquet(s"$path/lists")
    assert(after.count() == countOnce,
      "replayed batch must not double-append")
    assert(after.select(col("id")).distinct().count() == countOnce,
      "no duplicate ids after replay")
    assert(probe() == probeOnce,
      "probe results must be identical to single delivery")
  }

  test("batch ledger rolls back a crashed mid-append delivery, then applies exactly once") {
    import java.nio.file.Files
    import graft.streaming.BatchLedger
    val base = Files.createTempDirectory("bldg").toString
    val data = s"$base/lists"
    val ledger = s"$base/_ledger"
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=0")
    // an UNTOUCHED directory: the ledger must never list or snapshot it
    Seq(9L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=9")
    def fileSet(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(data)).map(_.getPath).toSet
    }
    val before = fileSet()
    val touched = Seq(s"$data/cluster=0", s"$data/cluster=1")
    def append(partial: Boolean): (Seq[String], () => Unit) =
      (touched, () => {
        Seq(3L).toDF("id").coalesce(1).write.mode("append").parquet(s"$data/cluster=0")
        Seq(4L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=1")
        if (partial) throw new RuntimeException("injected crash")
      })
    // delivery 1 of batch 7 crashes AFTER appending but BEFORE the
    // ledger finalize — the worst window
    val boom = intercept[RuntimeException] {
      BatchLedger.runIdempotent(spark, ledger, 7L, "cp-A")(append(partial = true))
    }
    assert(boom.getMessage == "injected crash")
    assert(fileSet() != before, "partial append visible pre-recovery")
    val marker = new java.io.File(ledger).listFiles()
      .find(_.getName.endsWith(".inprogress")).get
    // the snapshot is bounded by the TOUCHED dirs — corpus-sized
    // layouts must not pay a full listing per batch
    val markerBody = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    assert(!markerBody.contains("cluster=9"),
      "marker must snapshot only the touched dirs")
    assert(markerBody.contains("cluster=0") && markerBody.contains("cluster=1"))
    // delivery 2 (the engine replay): rollback restores the pre-batch
    // state (including REMOVING the dir the partial append created),
    // then the append runs once
    assert(BatchLedger.runIdempotent(spark, ledger, 7L, "cp-A")(append(partial = false)))
    assert(spark.read.parquet(data).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 9L),
      "rollback must drop the partial rows; re-apply lands once")
    // delivery 3 (a second replay): fully applied → skipped, and the
    // staging thunk is never evaluated
    assert(!BatchLedger.runIdempotent(spark, ledger, 7L, "cp-A") {
      fail("prepare must not run for an already-applied batch")
    })
  }

  test("batch ledger rollback removes directories the partial append created") {
    import java.nio.file.Files
    import graft.streaming.BatchLedger
    val base = Files.createTempDirectory("bldgdir").toString
    val data = s"$base/lists"
    val ledger = s"$base/_ledger"
    Seq(1L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=0")
    intercept[RuntimeException] {
      BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A")(
        (Seq(s"$data/cluster=0", s"$data/cluster=5"), () => {
          Seq(5L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=5")
          throw new RuntimeException("crash before cluster=0 lands")
        }))
    }
    assert(new java.io.File(s"$data/cluster=5").exists)
    // next delivery's rollback happens first; inject an apply that
    // touches nothing so ONLY the rollback's effect is visible
    assert(BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A")(
      (Seq(s"$data/cluster=0"), () => ())))
    assert(!new java.io.File(s"$data/cluster=5").exists,
      "a dir created by the rolled-back append must not survive, even empty")
    assert(new java.io.File(s"$data/cluster=0").exists)
  }

  test("batch ledger fails fast when a different checkpoint lineage reuses it") {
    import java.nio.file.Files
    import graft.streaming.BatchLedger
    val base = Files.createTempDirectory("bldglin").toString
    val data = s"$base/lists"
    val ledger = s"$base/_ledger"
    assert(BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A")(
      (Seq(s"$data/cluster=0"), () =>
        Seq(1L).toDF("id").coalesce(1).write.parquet(s"$data/cluster=0"))))
    // same lineage resumes: batch 0 already applied → skip, batch 1 runs
    assert(!BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A") {
      fail("applied batch must skip under the same lineage")
    })
    assert(BatchLedger.runIdempotent(spark, ledger, 1L, "cp-A")(
      (Seq.empty, () => ())))
    // a FRESH checkpoint restarts batch ids at 0; without the stamp its
    // early batches would silently match the applied markers above
    val e = intercept[IllegalStateException] {
      BatchLedger.runIdempotent(spark, ledger, 0L, "cp-B") {
        fail("mismatched lineage must never reach prepare")
      }
    }
    assert(e.getMessage.contains("cp-A") && e.getMessage.contains("cp-B"))
  }

  test("streaming ingest trips the reshard gate through the serving handle") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    // 8 shards over 8 rows is far under the ~6.25k knee: the first
    // streamed batch must trip needsReshard and swap in a 1-shard tier
    val st = mkStore((0 until 8).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("rsstore").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val hs = cache.toLocal().toHnswSharded(nShards = 8, m = 4, efConstruction = 8)
    cache.unpersist()
    val serving = new graft.operators.HnswShardsServing(hs, slack = 2.0)
    assert(serving.nShards == 8 && serving.resharded == 0)
    val watch = Files.createTempDirectory("rswatch")
    val staging = Files.createTempDirectory("rsstage")
    Seq(("100", Seq(0f, 0f, 1f, 0f)), ("101", Seq(0f, 0f, 0f, 1f)))
      .toDF("id", "vec")
      .select(col("id").as("__id__"),
        col("vec").cast(ArrayType(FloatType)).as("vector"))
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, watch.resolve("b1.parquet"))
    val stream = spark.readStream
      .schema(spark.read.parquet(watch.toString).schema).parquet(watch.toString)
    val q = graft.streaming.StreamingOps.upsertStreamWithHnsw(stream, store, serving)
    try q.processAllAvailable() finally q.stop()
    // gate fired once, handle swapped to the ideal count, nothing lost
    serving.awaitReshard()
    assert(serving.resharded == 1)
    assert(serving.nShards == graft.operators.HnswShards.defaultShards(10))
    assert(serving.nRows == 10)
    // both streamed and base rows serve from the swapped handle
    assert(serving.query(Array(0f, 0f, 1f, 0f), 1, ef = 16).head._1 == "100")
    assert(serving.query(Array(0f, 0f, 0f, 1f), 1, ef = 16).head._1 == "101")
    assert(serving.query(Array(8f, 1f, 0f, 0f), 1, ef = 16).head._1 == "7")
    // the delete twin drives the swapped handle through the same trait
    serving.markDeleted(Seq("100"))
    assert(serving.query(Array(0f, 0f, 1f, 0f), 10, ef = 16).forall(_._1 != "100"))
  }

  test("reshard rebuild runs off the ingest thread; journaled mutations survive the swap") {
    import java.nio.file.Files
    val st = mkStore((0 until 8).map(i => (i.toString, Seq(i + 1f, 1f, 0f, 0f), s"c$i")))
    val store = Files.createTempDirectory("rsbg").toString
    VectorStore.Partitioned.init(st, store, nBuckets = 4)
    val cache = graft.operators.MatrixStore.fromPartitionedLayout(spark, store)
    val hs = cache.toLocal().toHnswSharded(nShards = 8, m = 4, efConstruction = 8)
    cache.unpersist()
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    // hold the rebuild open at the pre-swap seam so the in-flight
    // window is deterministic, not a timing race
    val gateL = new java.util.concurrent.CountDownLatch(1)
    val serving = new graft.operators.HnswShardsServing(hs, slack = 2.0,
      preSwapHook = () => gateL.await())
    // trips the gate (8 shards over 10 rows is far under the knee) and
    // RETURNS while the rebuild is still running — the old behavior
    // blocked here for the whole rebuild
    serving.add(Seq("100" -> v(0, 0, 1, 0), "101" -> v(0, 0, 0, 1)))
    assert(serving.reshardInFlight && serving.resharded == 0)
    // ingest latency during the reshard is bounded by the batch, not
    // the rebuild: both mutation kinds land and serve immediately
    serving.add(Seq("200" -> v(0, 1, 0, 0)))
    serving.markDeleted(Seq("100"))
    assert(serving.reshardInFlight, "mutations must not wait out the rebuild")
    assert(serving.query(v(0, 1, 0, 0), 1, ef = 16).head._1 == "200")
    assert(serving.query(v(0, 0, 1, 0), 10, ef = 16).forall(_._1 != "100"))
    gateL.countDown()
    serving.awaitReshard()
    assert(serving.resharded == 1 && serving.lastReshardError.isEmpty)
    assert(serving.nShards == graft.operators.HnswShards.defaultShards(serving.nRows))
    // the journal replayed into the fresh instance in arrival order:
    // 8 base + {100, 101, 200} added − {100} deleted = 10 live rows
    assert(serving.nRows == 10)
    assert(serving.query(v(0, 1, 0, 0), 1, ef = 16).head._1 == "200")
    assert(serving.query(v(0, 0, 0, 1), 1, ef = 16).head._1 == "101")
    assert(serving.query(v(0, 0, 1, 0), 10, ef = 16).forall(_._1 != "100"))
    // checkpoint through the handle: barriers on the reshard, then the
    // persisted artifact round-trips the post-swap post-journal state
    val ckpt = Files.createTempDirectory("rsbgsave").toString
    serving.saveDelta(spark, ckpt)
    val reloaded = graft.operators.HnswShards.load(spark, ckpt)
    assert(reloaded.nRows == 10 && reloaded.nShards == serving.nShards)
    assert(reloaded.query(v(0, 1, 0, 0), 1, ef = 16).head._1 == "200")
  }

  test("local serving replica: bitwise-equal to the distributed matrix scan") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    try {
      assert(local.nRows == st.len())
      (0L to 9L).foreach { i =>
        val q = e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
        assert(local.query(q, 10).toSeq == mx.query(q, 10).toSeq, s"query $i differs")
        // inclusive threshold behaves identically
        assert(local.query(q, 10, betterThan = Some(0.5)).toSeq ==
          mx.query(q, 10, betterThan = Some(0.5)).toSeq)
      }
      // and both equal the DataFrame store path's ranking
      val q0 = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0).toArray
      val viaStore = st.query(q0, 10).select("__id__").collect().map(_.getString(0)).toSeq
      assert(local.query(q0, 10).map(_._1).toSeq == viaStore)
    } finally mx.unpersist()
  }

  test("empty store lifecycle (unit_tests.rs:250-278)") {
    val empty = mkStore(base).delete(Seq("a", "b", "c"))
    assert(empty.isEmpty)
    assert(empty.query(Array(1f, 0f, 0f, 0f), 5).collect().isEmpty)
  }

  test("O4 id-set predicate on the fast tiers matches the DataFrame path bitwise") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    try {
      val allowed = st.df.filter(col("label") === 3)
        .select(col("__id__")).collect().map(_.getString(0)).toSet
      assert(allowed.nonEmpty)
      (0L to 4L).foreach { i =>
        val q = e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
        val expect = st.query(q, 5, betterThan = Some(0.1), filter = Some(col("label") === 3))
          .select("__id__", "__metrics__")
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        assert(mx.query(q, 5, Some(0.1), Some(allowed)).toSeq == expect, s"mx query $i")
        assert(local.query(q, 5, Some(0.1), Some(allowed)).toSeq == expect, s"local query $i")
        // every returned id satisfies the predicate
        assert(mx.query(q, 5, None, Some(allowed)).forall(h => allowed(h._1)))
      }
      // empty allow set: empty results, not an error
      val q0 = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0).toArray
      assert(mx.query(q0, 5, None, Some(Set.empty[String])).isEmpty)
      assert(local.query(q0, 5, None, Some(Set.empty[String])).isEmpty)
    } finally mx.unpersist()
  }

  test("local replica incremental refresh equals cold toLocal after bucketed upsert") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val nBuckets = 8
    val mx = graft.operators.MatrixStore.fromStoreBucketed(st, nBuckets)
    val replica = mx.toLocal()
    // upsert: reverse 5 vectors, insert 5 far ids (touches a bucket subset)
    val batch = e.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("string").as("__id__"),
        reverse(col("embedding")).as("vector"), col("label"))
      .union(e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).cast("string").as("__id__"),
          col("embedding").as("vector"), col("label")))
    val st2 = st.upsert(batch).store
    val touched = batch
      .select(VectorStore.Partitioned.bucketOf(nBuckets).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(touched.nonEmpty && touched.size < nBuckets)
    val refreshed = mx.refreshBuckets(st2, touched)
    val delta = replica.refresh(refreshed, touched) // touched slabs only
    val cold = refreshed.toLocal()
    try {
      assert(delta.nRows == cold.nRows)
      val qs = (0L to 4L).map { i =>
        e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
      } :+ batch.filter(col("__id__") === "0").select("vector").head().getSeq[Float](0).toArray
      qs.zipWithIndex.foreach { case (q, i) =>
        assert(delta.query(q, 10).toSeq == cold.query(q, 10).toSeq, s"query $i differs")
      }
      // the updated vector self-hits through the delta-refreshed replica
      assert(delta.query(qs.last, 5).head._1 == "0")
      // a non-bucket-aligned replica refuses refresh loudly
      val flat = graft.operators.MatrixStore.fromStore(st)
      val flatLocal = flat.toLocal()
      val ex = intercept[IllegalArgumentException](flatLocal.refresh(refreshed, touched))
      assert(ex.getMessage.contains("bucket-aligned"))
      flat.unpersist()
    } finally { refreshed.unpersist(); mx.unpersist() }
  }

  test("replica batch query and int8 O4 filter: all tiers agree") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val local = mx.toLocal()
    val qmx = graft.operators.QuantizedMatrixStore.fromStore(st)
    val qlocal = qmx.toLocal()
    try {
      val qs = Seq(0L, 3L, 9L).map { i =>
        i.toString -> e.filter(col("vec_id") === i).select("embedding")
          .head().getSeq[Float](0).toArray
      }
      // replica batch kernel == replica per-query kernel == distributed batch
      val viaBatch = local.queryBatch(qs, 5)
      val viaDist = mx.queryBatch(qs, 5)
      qs.foreach { case (qid, v) =>
        assert(viaBatch(qid).toSeq == local.query(v, 5).toSeq, s"qid $qid vs per-query")
        assert(viaBatch(qid).toSeq == viaDist(qid).toSeq, s"qid $qid vs distributed")
      }
      // O4 id-set filter on the int8 tiers == filtered exact tier
      val allowed = st.df.filter(col("label") === 3)
        .select(col("__id__")).collect().map(_.getString(0)).toSet
      qs.foreach { case (qid, v) =>
        val expect = mx.query(v, 5, None, Some(allowed)).toSeq
        assert(qmx.query(v, 5, oversample = 8, Some(allowed)).toSeq == expect,
          s"qid $qid int8 distributed")
        assert(qlocal.query(v, 5, oversample = 8, Some(allowed)).toSeq == expect,
          s"qid $qid int8 replica")
      }
      // filtered batch with threshold agrees too
      val fb = local.queryBatch(qs, 5, Some(0.1), Some(allowed))
      val fd = mx.queryBatch(qs, 5, Some(0.1), Some(allowed))
      qs.foreach { case (qid, _) => assert(fb(qid).toSeq == fd(qid).toSeq) }
    } finally { mx.unpersist(); qmx.unpersist() }
  }

  test("int8 local replica: exact scores, equals distributed int8 tier and exact replica") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = graft.operators.MatrixStore.fromStore(st)
    val exactLocal = mx.toLocal()
    val qmx = graft.operators.QuantizedMatrixStore.fromStore(st)
    val qlocal = qmx.toLocal()
    try {
      assert(qlocal.nRows == st.len())
      (0L until 10L).foreach { i =>
        val q = e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
        val viaLocal = qlocal.query(q, 10, oversample = 8).toSeq
        // same kernel as the distributed int8 tier, element for element
        assert(viaLocal == qmx.query(q, 10, oversample = 8).toSeq, s"query $i vs distributed")
        // emitted scores are EXACT: bitwise-equal to the exact replica
        // for every id both return (on this fixture nomination recalls
        // the full top-10, so the whole ranking matches)
        assert(viaLocal == exactLocal.query(q, 10).toSeq, s"query $i vs exact replica")
      }
    } finally { mx.unpersist(); qmx.unpersist() }
  }
}
