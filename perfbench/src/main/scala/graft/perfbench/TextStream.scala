package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.InvertedIndex
import graft.streaming.StreamingOps

/** `text_stream`: streaming maintenance of the persisted inverted index.
  * Bound by the trigger and the delete/compact protocol; bypasses every
  * vector kernel and matrix store.
  *
  * Set-up builds the index over a Zipf-worded corpus and starts two
  * file-source streams on it: appends through `invIngestStream` (with a
  * checkpoint, so the batch ledger runs) and deletes through
  * `tombstoneStream`, which compacts once one trigger's worth of
  * tombstones is outstanding: every trigger compacts, which keeps writes
  * alike, so the few a run holds give steady percentiles.
  * One write lands an append file, drains the append stream, then lands
  * a delete file and drains the delete stream: one writer at a time, as
  * the index requires. One read is a BM25 top-10 between triggers. */
final class TextStream(n0: Int, vocab: Int, buckets: Int, appends: Int, deletes: Int,
    setupReps: Int) extends Workload {
  val K = 10
  val ReadsPerWrite = 16

  private val docSchema = StructType(Seq(StructField("id", StringType),
    StructField("text", StringType)))
  private val idSchema = StructType(Seq(StructField("id", StringType)))

  private final class Index(val root: String) {
    val path = s"$root/index"
    val appendDir = s"$root/watch-append"
    val deleteDir = s"$root/watch-delete"
    val staging = s"$root/staging"
    var ingest: StreamingQuery = _
    var tombstone: StreamingQuery = _
  }

  private def jsonLines(file: java.io.File, rows: Seq[Seq[(String, String)]]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try rows.foreach { r =>
      val o = m.createObjectNode()
      r.foreach { case (k, v) => o.put(k, v) }
      w.println(m.writeValueAsString(o))
    } finally w.close()
  }

  private def start(spark: SparkSession, ix: Index): Unit = {
    ix.ingest = StreamingOps.invIngestStream(
      spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1).json(ix.appendDir),
      ix.path, "id", "text", checkpointDir = Some(s"${ix.root}/ckpt-append"))
    ix.tombstone = StreamingOps.tombstoneStream(
      spark.readStream.schema(idSchema).option("maxFilesPerTrigger", 1).json(ix.deleteDir),
      "id", invPath = Some(ix.path), invCompactTombstones = deletes.toLong)
  }

  private def stop(ix: Index): Unit = { ix.ingest.stop(); ix.tombstone.stop() }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val log = new OpLog
    val parts = spark.sparkContext.defaultParallelism
    val (gen, genS) = Stats.timeS {
      import spark.implicits._
      val g = new Gen.TextStream(ctx.seed, n0, vocab, appends, deletes)
      val (z, seed) = (g.zipf, ctx.seed)
      val docs = spark.range(0, n0, 1, parts).map(i => Gen.textRow(z, seed, i))
        .toDF("id", "text").cache()
      docs.count()
      (g, docs)
    }
    val (stream, docs) = gen
    ctx.mark("generate")

    val buildS = ArrayBuffer.empty[Double]
    val startS = ArrayBuffer.empty[Double]
    val stopS = ArrayBuffer.empty[Double]
    var ix: Index = null
    (0 until setupReps).foreach { rep =>
      if (ix != null) stopS += Stats.timeS(stop(ix))._2
      val x = new Index(s"${ctx.workDir}/text-$rep")
      Seq(x.appendDir, x.deleteDir, x.staging).foreach(d => new java.io.File(d).mkdirs())
      buildS += Stats.timeS(InvertedIndex.build(docs, "id", "text", x.path, buckets, buckets))._2
      startS += Stats.timeS(start(spark, x))._2
      ix = x
    }
    ctx.mark("set-up")
    val setupS = buildS.indices.map(i => buildS(i) + startS(i))
    val heapMb = Stats.liveHeapMb()

    val model = new TextModel
    stream.corpus.foreach { case (id, t) => model.add(id, t) }
    var trigger = 0L
    var userBytesWritten = 0.0
    var compactions = 0L
    val tombsAtProbe = ArrayBuffer.empty[Double]
    def tombstones(): Long = InvertedIndex.tombstoneCount(spark, ix.path)
    var tombs = if (tr.enabled) tombstones() else 0L
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
        val name = f"batch-$trigger%06d.json"
        trigger += 1
        val addFile = new java.io.File(ix.staging, "a-" + name)
        val delFile = new java.io.File(ix.staging, "d-" + name)
        jsonLines(addFile, b.appends.map { case (id, t) => Seq("id" -> id, "text" -> t) })
        jsonLines(delFile, b.deletes.map(id => Seq("id" -> id)))
        val r = log.run(tr.op("write") {
          tr.span("StreamingOps.invIngestStream.trigger") {
            require(addFile.renameTo(new java.io.File(ix.appendDir, name)))
            ix.ingest.processAllAvailable()
          }
          tr.span("StreamingOps.tombstoneStream.trigger") {
            require(delFile.renameTo(new java.io.File(ix.deleteDir, name)))
            ix.tombstone.processAllAvailable()
          }
        })
        r.foreach { case (_, ms) =>
          log.write(ms, (b.appends.size + b.deletes.size).toLong,
            tr.enabled && tr.active)
        }
        b.appends.foreach { case (id, t) => model.add(id, t) }
        b.deletes.foreach(model.delete)
        if (tr.enabled && tr.active)
          userBytesWritten += b.appends.map { case (id, t) => id.length + t.length.toDouble }.sum
        if (tr.enabled) log.check {
          val now = tombstones()
          if (log.recording && now < tombs + b.deletes.size) compactions += 1
          tombs = now
        }
      }
      (0 until (if (cycle == 0) 1 else ReadsPerWrite)).foreach { _ =>
        val terms = stream.nextQuery()
        val r = log.run(tr.op("read") {
          tr.span("InvertedIndex.bm25TopK")(InvertedIndex.bm25TopK(spark, ix.path, terms, K)
            .collect().map(r => (r.getString(0), r.getDouble(1))))
        })
        r.foreach { case (got, ms) =>
          log.read("bm25", ms, tr.enabled && tr.active)
          log.check {
            val all = model.bm25(terms)
            val scores = all.toMap
            val exp = all.take(K)
            log.mismatch(VecModel.checkExact(s"InvertedIndex.bm25TopK(${terms.mkString(" ")})",
              exp, got, scores.get))
            log.recall(VecModel.recall(exp, got))
            if (tr.enabled && log.recording) tombsAtProbe += tombs.toDouble
          }
        }
      }
      lastCycleS = log.elapsedS - cycleStartS
      cycle += 1
    }
    log.stopTiming()
    ctx.mark("loop")
    tr.active = true
    stopS += Stats.timeS(stop(ix))._2

    log.check {
      val nDocs = InvertedIndex.readStats(spark, ix.path).nDocs
      if (nDocs != model.size) log.mismatch(Some(s"index holds $nDocs live docs, model ${model.size}"))
    }
    val disk = Stats.dirBytes(new java.io.File(ix.path)).toDouble
    val userBytes = model.liveBytes
    val e2e = Common.endToEnd(log, setupS, heapMb, disk, userBytes)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val base = Common.layers(tr, log, Seq("InvertedIndex.bm25TopK"), userBytesWritten)
        val prog = scala.jdk.CollectionConverters.CollectionHasAsScala(tr.progress).asScala
          .filter(_.inputRows > 0).toSeq
        def dur(k: String) = Stats.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
        val writes = tr.spans.filter(s => s.parent < 0 && s.name == "write")
        val byJob = tr.attribute()
        def jobsOf(q: StreamingQuery) = {
          val qid = q.id.toString
          val inWrites = writes.map(w => tr.spans.filter(_.parent == w.id).flatMap(c =>
            byJob.getOrElse(c.id, Nil).filter(_.streamQuery == qid)).size.toDouble)
          Stats.mean(inWrites)
        }
        base ++ Map(
          "StreamingOps.trigger_ms" -> dur("triggerExecution"),
          "StreamingOps.add_batch_ms" -> dur("addBatch"),
          "StreamingOps.wal_commit_ms" -> dur("walCommit"),
          "StreamingOps.jobs_per_trigger" -> jobsOf(ix.ingest),
          "StreamingOps.start_ms" -> Stats.median(startS.toSeq) * 1e3,
          "StreamingOps.stop_ms" -> Stats.median(stopS.toSeq) * 1e3,
          "InvertedIndex.compactions" -> compactions.toDouble,
          "InvertedIndex.jobs_per_delete_trigger" -> jobsOf(ix.tombstone),
          "InvertedIndex.tombstones_at_probe" -> Stats.mean(tombsAtProbe),
          "setup.InvertedIndex.build_s" -> Stats.median(buildS.toSeq),
          "bench.gen_s" -> genS)
      }
    ctx.log(f"triggers $trigger, reads ${log.reads.size}, live docs ${model.size}")
    docs.unpersist()
    Outcome(e2e ++ layers, log.attempted, log.failed, log.mismatches.toSeq)
  }
}
