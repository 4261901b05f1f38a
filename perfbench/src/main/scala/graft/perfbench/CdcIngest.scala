package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators._
import graft.sources.NanoJsonCodec
import graft.streaming.BatchLedger

/** `cdc_ingest`: change-data microbatches interleaved with reads on
  * persisted layouts. Bound by the Spark job floor and file I/O.
  *
  * Set-up migrates a clustered corpus through the reference file format
  * (NanoJsonCodec write + read) into three layouts: the id-bucketed
  * store, a bucket-aligned matrix cache with its in-process replica,
  * and a persisted IVF x BQ index. One write applies one microbatch to
  * all of them; the IVF x BQ append runs under the batch ledger, after
  * the delete of the batch's deleted and updated ids (so an update
  * replaces its row instead of duplicating it), and ends with the
  * compaction of both layouts. Compacting on every write keeps writes
  * alike, so the few a run holds give steady percentiles. One read opens
  * the index afresh and probes it. */
final class CdcIngest(n0: Int, dim: Int, buckets: Int, nLists: Int, upserts: Int,
    deletes: Int, setupReps: Int) extends Workload {
  val K = 10
  val NProbe = 3
  val Oversample = 32
  val MaxFiles = 1
  val ReadsPerWrite = 8

  private final class Layouts(val root: String) {
    val store = s"$root/store"
    val ivf = s"$root/ivfbq"
    var mx: MatrixStore = _
    var lmx: LocalMatrixStore = _
  }

  /** The id-bucket of [[VectorStore.Partitioned]]: pmod(xxhash64(id), n). */
  private def bucketOf(id: String): Int = {
    val s = UTF8String.fromString(id)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    (((h % buckets) + buckets) % buckets).toInt
  }

  private def vecFrame(spark: SparkSession, rows: Seq[(String, Array[Float])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v.toSeq) }, 1),
      StructType(Seq(StructField(VectorStore.IdCol, StringType, nullable = false),
        StructField(VectorStore.VectorCol, ArrayType(FloatType, containsNull = false)))))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val log = new OpLog
    val (gen, genS) = Stats.timeS {
      import spark.implicits._
      val g = new Gen.CdcStream(ctx.seed, dim, n0, upserts, deletes)
      val (mix, seed) = (g.mix, ctx.seed)
      val raw = spark.range(0, n0, 1, spark.sparkContext.defaultParallelism)
        .map(i => Gen.cdcRow(mix, seed, i)).toDF(VectorStore.IdCol, VectorStore.VectorCol).cache()
      raw.count()
      (g, raw)
    }
    val (stream, raw) = gen
    ctx.mark("generate")

    val phases = Seq("insert", "codec_write", "codec_read", "partitioned_init",
      "matrix_build", "ivfbq_build").map(_ -> ArrayBuffer.empty[Double]).toMap
    def phase[T](name: String)(body: => T): T = {
      val (r, s) = Stats.timeS(body)
      phases(name) += s
      r
    }
    var lay: Layouts = null
    (0 until setupReps).foreach { rep =>
      if (lay != null) {
        lay.mx.unpersist(blocking = true)
        deleteTree(new java.io.File(lay.root))
      }
      val l = new Layouts(s"${ctx.workDir}/cdc-$rep")
      new java.io.File(l.root).mkdirs()
      val file = s"${l.root}/corpus.nano.json"
      val st0 = phase("insert")(VectorStore.fromDataFrame(raw, VectorStore.IdCol,
        VectorStore.VectorCol, dim))
      phase("codec_write")(NanoJsonCodec.write(st0, file))
      val st = phase("codec_read")(NanoJsonCodec.read(spark, file))
      phase("partitioned_init")(VectorStore.Partitioned.init(st, l.store, buckets))
      phase("matrix_build") {
        l.mx = MatrixStore.fromPartitionedLayout(spark, l.store)
        l.lmx = l.mx.toLocal()
      }
      phase("ivfbq_build") {
        val ivf = Ann.ivfBuild(st.df, VectorStore.IdCol, VectorStore.VectorCol, nLists)
        Ann.ivfBqSave(Ann.ivfBqBuild(ivf), l.ivf)
      }
      new java.io.File(file).delete()
      lay = l
    }
    ctx.mark("set-up")
    val setupS = (0 until setupReps).map(i => phases.values.map(_(i)).sum)
    val heapMb = Stats.liveHeapMb()

    val model = new VecModel(dim)
    stream.corpus.foreach { case (id, v) => model.upsert(id, v) }
    val lineage = s"${lay.root}/lineage"
    val listDirs = (0 until nLists).map(c => s"${lay.ivf}/lists/cluster=$c")
    var lastUpserted: Option[(String, Array[Float])] = None
    var batchId = 0L
    var userBytesWritten = 0.0
    var dirsTouched = 0L
    // closed loop of cycles (one write, then its reads): the first cycle,
    // with a single read, warms up; then whole cycles are timed while
    // another one fits in the run length, and at least one is. A traced
    // run times at least two, one traced and one not, so that it can
    // measure the tracing overhead.
    var cycle = 0
    var lastCycleS = 0.0
    while (cycle <= 1 || (tr.enabled && cycle <= 2) ||
        log.elapsedS + lastCycleS <= ctx.seconds) {
      if (cycle == 1) log.startTiming()
      val cycleStartS = log.elapsedS
      // the warm-up cycle runs untraced, then traced and untraced alternate
      tr.active = cycle % 2 == 1
      locally {
        val b = stream.nextBatch()
        val bid = batchId
        batchId += 1
        val touched = (b.upserts.map(_._1) ++ b.deletes).map(bucketOf).distinct.sorted
        val r = log.run(tr.op("write") {
          val up = vecFrame(spark, b.upserts)
          tr.span("VectorStore.Partitioned.upsert")(
            VectorStore.Partitioned.upsert(spark, lay.store, up))
          tr.span("VectorStore.Partitioned.delete")(
            VectorStore.Partitioned.delete(spark, lay.store, b.deletes))
          val st = tr.span("VectorStore.Partitioned.load")(
            VectorStore.Partitioned.load(spark, lay.store))
          val old = lay.mx
          lay.mx = tr.span("MatrixStore.refreshBuckets")(old.refreshBuckets(st, touched))
          old.unpersist()
          lay.lmx = tr.span("LocalMatrixStore.refresh")(lay.lmx.refresh(lay.mx, touched))
          val delTouched = tr.span("Ann.ivfBqDeleteSave")(
            Ann.ivfBqDeleteSave(spark, lay.ivf, b.deletes ++ b.updatedIds.toSeq.sorted))
          var appTouched = Seq.empty[Int]
          // every microbatch routes rows to every list, so the ledger
          // snapshots all list directories
          tr.span("BatchLedger.runIdempotent")(
            BatchLedger.runIdempotent(spark, s"${lay.ivf}/_ledger", bid, lineage) {
              (listDirs, () => appTouched = tr.span("Ann.ivfBqAppendSave")(Ann.ivfBqAppendSave(
                spark, lay.ivf, up, VectorStore.IdCol, VectorStore.VectorCol)))
            })
          tr.span("VectorStore.Partitioned.compact")(
            VectorStore.Partitioned.compact(spark, lay.store, MaxFiles))
          tr.span("Ann.ivfBqCompactSave")(Ann.ivfBqCompactSave(spark, lay.ivf, MaxFiles))
          touched.size + (delTouched ++ appTouched).distinct.size
        })
        r.foreach { case (dirs, ms) =>
          dirsTouched += dirs
          log.write(ms, (b.upserts.size + b.deletes.size).toLong,
            tr.enabled && tr.active)
        }
        b.upserts.foreach { case (id, v) => model.upsert(id, v) }
        b.deletes.foreach(model.delete)
        if (tr.enabled && tr.active)
          userBytesWritten += b.upserts.map(_._1.length + 4.0 * dim).sum
        lastUpserted = b.upserts.lastOption
      }
      (0 until (if (cycle == 0) 1 else ReadsPerWrite)).foreach { _ =>
        val fresh = lastUpserted.filter(_ => stream.coin(0.3))
        val q = fresh.map(_._2).getOrElse(stream.noise(model.vecs(stream.pickLive())))
        val r = log.run(tr.op("read") {
          val idx = tr.span("Ann.ivfBqLoad")(Ann.ivfBqLoad(spark, lay.ivf))
          val qdf = spark.createDataFrame(java.util.Arrays.asList(Row("q", q.map(_.toDouble).toSeq)),
            StructType(Seq(StructField("qid", StringType), StructField("qv", ArrayType(DoubleType)))))
          tr.span("Ann.ivfBqTopK")(Ann.ivfBqTopK(idx, qdf, "qid", "qv", K, NProbe, Oversample).collect())
            .sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
        })
        r.foreach { case (got, ms) =>
          log.read("ivfbq", ms, tr.enabled && tr.active)
          log.check {
            val qn = VecModel.normalizeQuery(q)
            val exp = model.topK(q, K)
            log.mismatch(VecModel.checkScores("Ann.ivfBqTopK", got, model.score(_, qn), 2e-6))
            log.recall(VecModel.recall(exp, got))
            val exact = lay.lmx.query(q, K)
            log.mismatch(VecModel.checkExact("LocalMatrixStore", exp, exact, model.score(_, qn)))
            fresh.foreach { case (id, _) =>
              if (!exact.headOption.exists(_._1 == id))
                log.mismatch(Some(s"LocalMatrixStore: upserted $id not first for its own vector"))
              if (!got.headOption.exists(_._1 == id))
                log.mismatch(Some(s"Ann.ivfBqTopK: upserted $id not first for its own vector"))
            }
          }
        }
      }
      lastCycleS = log.elapsedS - cycleStartS
      cycle += 1
    }
    log.stopTiming()
    ctx.mark("loop")
    tr.active = true

    log.check {
      val nStore = VectorStore.Partitioned.load(spark, lay.store).len()
      val lists = Ann.ivfBqLoad(spark, lay.ivf).lists
      val nIvf = lists.count()
      val nIvfIds = lists.select("id").distinct().count()
      Seq("store" -> nStore, "ivfbq" -> nIvf, "ivfbq distinct ids" -> nIvfIds,
        "replica" -> lay.lmx.nRows).foreach { case (what, got) =>
        if (got != model.size) log.mismatch(Some(s"$what holds $got rows, model ${model.size}"))
      }
    }
    val disk = Stats.dirBytes(new java.io.File(lay.store)) + Stats.dirBytes(new java.io.File(lay.ivf))
    val files = Stats.dirFiles(new java.io.File(lay.store)) + Stats.dirFiles(new java.io.File(lay.ivf))
    val userBytes = model.vecs.keysIterator.map(_.length + 4.0 * dim).sum
    val e2e = Common.endToEnd(log, setupS, heapMb, disk.toDouble, userBytes)
    val calls = Seq("VectorStore.Partitioned.upsert", "VectorStore.Partitioned.delete",
      "VectorStore.Partitioned.compact", "MatrixStore.refreshBuckets", "LocalMatrixStore.refresh",
      "BatchLedger.runIdempotent", "Ann.ivfBqAppendSave", "Ann.ivfBqDeleteSave",
      "Ann.ivfBqCompactSave", "Ann.ivfBqLoad", "Ann.ivfBqTopK")
    val med = (p: String) => Stats.median(phases(p).toSeq)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else Common.layers(tr, log, calls, userBytesWritten) ++ Map(
        "layout.files" -> files.toDouble,
        "layout.dirs_touched_per_write" -> (if (batchId > 0) dirsTouched.toDouble / batchId else 0.0),
        "setup.insert_s" -> med("insert"),
        "setup.tier_build_s" -> med("matrix_build"),
        "setup.NanoJsonCodec.write_s" -> med("codec_write"),
        "setup.NanoJsonCodec.read_s" -> med("codec_read"),
        "setup.Partitioned.init_s" -> med("partitioned_init"),
        "setup.ivfBq.build_s" -> med("ivfbq_build"),
        "bench.gen_s" -> genS)
    ctx.log(f"writes ${log.writes.size}, " +
      f"reads ${log.reads.size}, live rows ${model.size}, layout files $files")
    lay.mx.unpersist()
    raw.unpersist()
    Outcome(e2e ++ layers, log.attempted, log.failed, log.mismatches.toSeq)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
