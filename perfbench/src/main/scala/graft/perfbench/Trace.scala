package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer, recorded by the benchmark around the
  * engine's public functions. `parent` is -1 for an operation's root
  * span; every span of one operation shares `opId`. */
final class Span(val id: Int, val name: String, val parent: Int, val opId: Long,
    val startNs: Long) {
  var endNs: Long = -1L
  def durNs: Long = endNs - startNs
}

/** A Spark job as the listener saw it. `span` is the benchmark span whose
  * local property the submitting thread carried (-1 if none); streaming
  * jobs carry their query id instead and are attributed by time. */
final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, span: Int,
    streamQuery: String, stageIds: Seq[Int])

final class StageRec {
  var tasks = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleWrite = 0L
}

/** One trigger of a streaming query: its input rows and phase durations. */
final case class Progress(inputRows: Long, durations: Map[String, Long])

/** Spans plus the Spark and streaming listeners that attribute jobs,
  * tasks, bytes and trigger durations to them. With tracing off `span`
  * only runs its body, so untraced runs pay nothing but a branch. Spans
  * stay in memory until [[attribute]] runs at the end. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val SpanProp = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opCounter = 0L
  private var currentOp = -1L
  /** Off for the untraced half of a traced run's operations. */
  var active = true

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val span = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
        val sq = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, span, sq, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.computeIfAbsent(e.stageId, _ => new StageRec)
        s.synchronized {
          s.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            s.bytesRead += m.inputMetrics.bytesRead
            s.bytesWritten += m.outputMetrics.bytesWritten
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        progress.add(Progress(p.numInputRows, d))
      }
    })
  }

  def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  /** One operation: the root span of every call `body` makes. */
  def op[T](kind: String)(body: => T): T = {
    opCounter += 1
    currentOp = opCounter
    try span(kind)(body) finally currentOp = -1L
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled || !active) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, parent, currentOp, System.nanoTime())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** Wait until the listener bus delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Per-span job attribution: a client-thread job belongs to the span
    * it was submitted under; a streaming job to the innermost span whose
    * interval holds its start (the client is one closed loop, so the
    * running trigger is the one it waits on). */
  def attribute(): Map[Int, Seq[JobRec]] = {
    drain()
    val all = scala.jdk.CollectionConverters.CollectionHasAsScala(jobs.values()).asScala.toSeq
    all.flatMap { j =>
      val sid =
        if (j.span >= 0 && j.streamQuery.isEmpty) j.span
        else innermostAt(j.startMs)
      if (sid >= 0) Some(sid -> j) else None
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def innermostAt(ms: Long): Int = {
    var best = -1
    var bestDepth = -1
    spans.foreach { s =>
      if (s.endNs > 0 && toEpochMs(s.startNs) <= ms && ms <= toEpochMs(s.endNs)) {
        val d = depth(s)
        if (d > bestDepth) { best = s.id; bestDepth = d }
      }
    }
    best
  }

  private def depth(s: Span): Int = {
    var d = 0
    var p = s.parent
    while (p >= 0) { d += 1; p = spans(p).parent }
    d
  }

  def stageRec(id: Int): StageRec = Option(stages.get(id)).getOrElse(new StageRec)
}
