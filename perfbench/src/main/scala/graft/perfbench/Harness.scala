package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer, its seed and run
  * length, a scratch directory inside the checkout, and a log sink for
  * the human-readable lines printed before the result. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val workDir: String, val log: String => Unit) {
  private var lastMark = System.nanoTime()

  /** Log the wall time spent since the previous mark, to show where a
    * run's time goes. */
  def mark(phase: String): Unit = {
    val now = System.nanoTime()
    log(f"phase $phase ${(now - lastMark) / 1e9}%.1f s")
    lastMark = now
  }
}

final case class ReadRec(tag: String, ms: Double, traced: Boolean)
final case class WriteRec(ms: Double, rows: Long, traced: Boolean)

/** The closed loop's record: per-operation latencies, failures, oracle
  * mismatches, and the wall time spent checking (which is not timed).
  * Operations before [[startTiming]] warm the JIT and Spark's caches:
  * they run and are checked but their latencies are not recorded. */
final class OpLog {
  val reads = ArrayBuffer.empty[ReadRec]
  val writes = ArrayBuffer.empty[WriteRec]
  var attempted = 0L
  var failed = 0L
  val mismatches = ArrayBuffer.empty[String]
  var checkNs = 0L
  var loopStartNs = 0L
  var loopEndNs = 0L
  var recording = false
  var gcMs = 0.0
  var timedOps = 0L
  val recalls = ArrayBuffer.empty[Double]

  def startTiming(): Unit = {
    recording = true
    checkNs = 0L
    gcMs = Stats.gcMs().toDouble
    loopStartNs = System.nanoTime()
  }

  def stopTiming(): Unit = {
    loopEndNs = System.nanoTime()
    gcMs = Stats.gcMs() - gcMs
  }

  /** Loop time spent so far, oracle checks excluded; 0 while warming. */
  def elapsedS: Double =
    if (!recording) 0.0 else (System.nanoTime() - loopStartNs - checkNs) / 1e9

  def read(tag: String, ms: Double, traced: Boolean): Unit =
    if (recording) { reads += ReadRec(tag, ms, traced); timedOps += 1 }
  def write(ms: Double, rows: Long, traced: Boolean): Unit =
    if (recording) { writes += WriteRec(ms, rows, traced); timedOps += 1 }
  def recall(r: Double): Unit = if (recording) recalls += r

  def loopSeconds: Double = (loopEndNs - loopStartNs - checkNs) / 1e9

  def mismatch(m: Option[String]): Unit = m.foreach { s =>
    if (mismatches.size < 20) mismatches += s
  }

  /** Time `body` as one operation; an exception counts as a failure. */
  def run[T](body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some((r, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Throwable =>
        failed += 1
        mismatch(Some(s"operation threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300)))
        None
    }
  }

  /** Run an oracle check outside the timed loop. */
  def check[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val x = p / 100.0 * (s.size - 1)
    val lo = math.floor(x).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (x - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Live heap in MB: the least heap in use right after each of five full
    * collections, so that Spark's background threads allocating between
    * a collection and its reading do not count. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def dirBytes(root: java.io.File): Long =
    if (!root.exists) 0L
    else if (root.isFile) root.length
    else Option(root.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def dirFiles(root: java.io.File): Long =
    if (!root.exists) 0L
    else if (root.isFile) (if (root.getName.endsWith(".crc")) 0L else 1L)
    else Option(root.listFiles).map(_.map(dirFiles).sum).getOrElse(0L)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload's product: end-to-end and per-layer metrics by name, plus
  * the operation counts and the oracle's verdict. */
final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long,
    mismatches: Seq[String])

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Metrics both kinds of run report from the loop record. */
object Common {
  /** The tail percentile of every workload: the highest with at least 10
    * samples beyond it at `serve`'s ~140-450 timed reads per run. */
  val TailPct = 90.0

  def endToEnd(log: OpLog, setupS: Seq[Double], heapMb: Double, diskBytes: Double,
      userBytes: Double): Map[String, Double] = {
    val r = log.reads.map(_.ms).toSeq
    val w = log.writes.map(_.ms).toSeq
    val wSec = w.sum / 1e3
    Map(
      "setup_s" -> Stats.median(setupS),
      "query_p50_ms" -> Stats.median(r),
      "query_tail_ms" -> Stats.pct(r, TailPct),
      "queries_per_s" -> (if (log.loopSeconds > 0) r.size / log.loopSeconds else 0.0),
      "write_p50_ms" -> Stats.median(w),
      "write_tail_ms" -> Stats.pct(w, TailPct),
      "rows_written_per_s" -> (if (wSec > 0) log.writes.map(_.rows).sum / wSec else 0.0),
      "recall_at_10" -> Stats.mean(log.recalls),
      "disk_bytes_per_user_byte" -> (if (userBytes > 0) diskBytes / userBytes else 0.0),
      "heap_mb" -> heapMb,
      "failed_ops_frac" -> (if (log.attempted > 0) log.failed.toDouble / log.attempted else 0.0))
  }

  /** Per-layer metrics from the spans: the Spark counters per read and
    * per write operation, self time and jobs per named call, and the
    * tracing overhead (traced against untraced operations of the same
    * run). `calls` lists the call names the workload reports. */
  def layers(t: Tracer, log: OpLog, calls: Seq[String],
      userBytesWritten: Double): Map[String, Double] = {
    val byJob = t.attribute()
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    val subJobs = mutable.HashMap.empty[Int, Seq[JobRec]]
    def jobsUnder(id: Int): Seq[JobRec] = subJobs.getOrElseUpdate(id,
      byJob.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => jobsUnder(c.id)))
    def selfMs(s: Span): Double =
      (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e6
    def jobCoverMs(s: Span, js: Seq[JobRec]): Double = {
      val lo = t.toEpochMs(s.startNs)
      val hi = t.toEpochMs(s.endNs)
      val iv = js.map(j => (math.max(j.startMs.toDouble, lo),
        math.min((if (j.endMs > 0) j.endMs else j.startMs).toDouble, hi)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curLo = Double.NaN
      var curHi = Double.NaN
      iv.foreach { case (a, b) =>
        if (curHi.isNaN || a > curHi) {
          if (!curHi.isNaN) covered += curHi - curLo
          curLo = a; curHi = b
        } else curHi = math.max(curHi, b)
      }
      if (!curHi.isNaN) covered += curHi - curLo
      covered
    }
    def stageSum(js: Seq[JobRec])(f: StageRec => Long): Double =
      js.flatMap(_.stageIds).distinct.map(id => f(t.stageRec(id))).sum.toDouble
    val roots = spans.filter(_.parent < 0)
    def perOp(kind: String)(f: Span => Double): Double =
      Stats.mean(roots.filter(_.name == kind).map(f))
    val m = mutable.LinkedHashMap[String, Double](
      "spark.jobs_per_query" -> perOp("read")(s => jobsUnder(s.id).size),
      "spark.driver_gap_ms_per_query" -> perOp("read")(s =>
        s.durNs / 1e6 - jobCoverMs(s, jobsUnder(s.id))),
      "spark.bytes_read_per_query" -> perOp("read")(s =>
        stageSum(jobsUnder(s.id))(_.bytesRead)),
      "spark.jobs_per_write" -> perOp("write")(s => jobsUnder(s.id).size),
      "spark.tasks_per_write" -> perOp("write")(s => stageSum(jobsUnder(s.id))(_.tasks)),
      "spark.job_ms_per_write" -> perOp("write")(s => jobCoverMs(s, jobsUnder(s.id))),
      "spark.driver_gap_ms_per_write" -> perOp("write")(s =>
        s.durNs / 1e6 - jobCoverMs(s, jobsUnder(s.id))),
      "spark.shuffle_bytes_per_write" -> perOp("write")(s =>
        stageSum(jobsUnder(s.id))(_.shuffleWrite)),
      "spark.bytes_written_per_user_byte" -> {
        val written = roots.filter(_.name == "write")
          .map(s => stageSum(jobsUnder(s.id))(_.bytesWritten)).sum
        if (userBytesWritten > 0) written / userBytesWritten else 0.0
      },
      "jvm.gc_ms_per_op" -> (if (log.timedOps > 0) log.gcMs / log.timedOps else 0.0))
    calls.foreach { c =>
      val ss = spans.filter(_.name == c)
      m(s"$c.self_ms_p50") = Stats.median(ss.map(selfMs).toSeq)
      m(s"$c.self_ms_total") = ss.map(selfMs).sum
      m(s"$c.jobs") = Stats.mean(ss.map(s => jobsUnder(s.id).size.toDouble))
    }
    def overhead(xs: Seq[(Double, Boolean)]): Double = {
      val on = xs.filter(_._2).map(_._1)
      val off = xs.filterNot(_._2).map(_._1)
      if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on) / Stats.median(off) - 1.0
    }
    m("trace.overhead_query_p50_frac") = overhead(log.reads.map(r => (r.ms, r.traced)).toSeq)
    m("trace.overhead_write_p50_frac") = overhead(log.writes.map(w => (w.ms, w.traced)).toSeq)
    m.toMap
  }

  /** Every span in order, one JSON object per line, for offline reading. */
  def writeSpans(t: Tracer, file: java.io.File): Unit = {
    val byJob = t.attribute()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try t.spans.foreach { s =>
      val js = byJob.getOrElse(s.id, Nil)
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.opId},""" +
        f""""start_ms":${t.toEpochMs(s.startNs)}%.3f,"end_ms":${t.toEpochMs(s.endNs)}%.3f,""" +
        s""""jobs":[${js.sortBy(_.jobId).map(j => s"[${j.jobId},${j.startMs},${j.endMs}]").mkString(",")}]}""")
    } finally w.close()
  }
}
