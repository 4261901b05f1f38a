package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.operators._
import graft.sources.NanoJsonCodec

/** `serve`: read-only top-10 search over a uniform random corpus with an
  * int `label` column, spread over the six matrix tiers and the
  * DataFrame path by seeded weight. Bound by the scan kernels and the
  * tiers; bypasses persistence, Ann and streaming. Its writes are the
  * reference's bulk insert, timed after the query loop. */
final class Serve(n: Int, dim: Int, setupReps: Int) extends Workload {
  val K = 10
  val InsertReps = 20
  val WarmDecks = 6

  private final class Tiers(val store: VectorStore, val mx: MatrixStore,
      val qmx: QuantizedMatrixStore, val bmx: BinaryMatrixStore,
      val lmx: LocalMatrixStore, val lq: LocalQuantizedMatrixStore,
      val lb: LocalBinaryMatrixStore) {
    def release(): Unit = {
      mx.unpersist(blocking = true); qmx.unpersist(blocking = true)
      bmx.unpersist(blocking = true); store.df.unpersist(blocking = true)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val log = new OpLog
    val parts = spark.sparkContext.defaultParallelism

    val (corpus, genS) = Stats.timeS {
      import spark.implicits._
      val (seed, d) = (ctx.seed, dim)
      val raw = spark.range(0, n, 1, parts).map(i => Gen.serveRow(seed, i, d))
        .toDF("id", "vec", "label").cache()
      raw.count()
      (Gen.serveCorpus(ctx.seed, n, dim), raw)
    }
    val (c, raw) = corpus
    ctx.mark("generate")
    val allowedByLabel: Map[Int, Set[String]] =
      c.ids.indices.groupBy(c.labels(_)).map { case (l, is) => l -> is.map(c.ids(_)).toSet }

    // the reference's insert: normalize and cache the whole corpus
    def insert(): (VectorStore, Double) = Stats.timeS {
      val st = VectorStore.fromDataFrame(raw, "id", "vec", dim)
      val cached = st.copy(df = st.df.cache())
      cached.df.count()
      cached
    }

    // set-up: insert, then build all six tiers; run `setupReps` times,
    // keep the last, report the median
    var tiers: Tiers = null
    val insertS = ArrayBuffer.empty[Double]
    val tierS = ArrayBuffer.empty[Double]
    (0 until setupReps).foreach { _ =>
      if (tiers != null) tiers.release()
      val (store, ti) = insert()
      val (t, tb) = Stats.timeS {
        val mx = MatrixStore.fromStore(store)
        val qmx = QuantizedMatrixStore.fromStore(store)
        val bmx = BinaryMatrixStore.fromStore(store)
        new Tiers(store, mx, qmx, bmx, mx.toLocal(), qmx.toLocal(), bmx.toLocal())
      }
      tiers = t
      insertS += ti
      tierS += tb
    }
    ctx.mark("set-up")
    val setupS = insertS.indices.map(i => insertS(i) + tierS(i))
    val heapMb = Stats.liveHeapMb()

    // closed loop: one request at a time; the first `WarmDecks` decks warm
    // up the JIT and Spark's caches, then requests are timed until the run
    // length is spent
    val reqs = new Gen.ServeRequests(ctx.seed, c)
    val answered = ArrayBuffer.empty[(Gen.ServeRequest, Array[(String, Double)])]
    var i = 0L
    while (!log.recording || log.elapsedS < ctx.seconds) {
      if (i == WarmDecks * Gen.DeckSize) log.startTiming()
      val q = reqs.next()
      // warm-up requests run untraced, then traced and untraced alternate
      tr.active = log.recording && i % 2 == 0
      val r = log.run(tr.op("read")(query(tiers, q, allowedByLabel)))
      r.foreach { case (res, ms) =>
        log.read(q.tier, ms, tr.enabled && tr.active)
        answered += q -> res
      }
      i += 1
    }
    log.stopTiming()
    ctx.mark("loop")
    tr.active = true

    // serve's writes are the reference's bulk insert of the whole corpus,
    // timed `InsertReps` times after the loop has warmed the JIT and
    // Spark's caches, each released after
    (0 until InsertReps).foreach { _ =>
      val (st, s) = insert()
      st.df.unpersist(blocking = true)
      log.writes += WriteRec(s * 1e3, n.toLong, traced = false)
    }
    ctx.mark("inserts")

    // oracle: exact tiers equal the model, approximate tiers return only
    // allowed ids with true scores; recall over the approximate answers
    val model = new VecModel(dim)
    c.ids.indices.foreach(j => model.upsert(c.ids(j), c.vecs(j), c.labels(j)))
    val exactTiers = Set("MatrixStore.local", "MatrixStore.dist", "VectorStore")
    val checked = new Array[(Option[String], Option[Double])](answered.size)
    java.util.stream.IntStream.range(0, answered.size).parallel().forEach { j =>
      val (q, got) = answered(j)
      val allowed: String => Boolean = q.label match {
        case Some(l) => id => model.labels.get(id).contains(l)
        case None => _ => true
      }
      val exp = model.topK(q.query, K, q.threshold, allowed)
      val qn = VecModel.normalizeQuery(q.query)
      val trueScore = (id: String) => if (allowed(id)) model.score(id, qn) else None
      checked(j) =
        if (exactTiers(q.tier)) (VecModel.checkExact(q.tier, exp, got, trueScore), None)
        else (VecModel.checkScores(q.tier, got, trueScore), Some(VecModel.recall(exp, got)))
    }
    checked.drop(WarmDecks * Gen.DeckSize).foreach { case (_, rc) => rc.foreach(log.recall) }
    checked.foreach { case (m, _) => log.mismatch(m) }
    if (tiers.lmx.nRows != n) log.mismatch(Some(s"replica holds ${tiers.lmx.nRows} rows, model $n"))

    // the reference's save: the collection in its own file format
    val file = new java.io.File(ctx.workDir, "serve.nano.json")
    val (_, saveS) = Stats.timeS(NanoJsonCodec.write(tiers.store, file.getPath))
    val userBytes = c.ids.map(_.length.toDouble + 4.0 * dim).sum
    val e2e = Common.endToEnd(log, setupS, heapMb, file.length.toDouble, userBytes)

    val tierP50 = Gen.Tiers.map(_._1).map { t =>
      val name = if (t == "VectorStore") "VectorStore.query_p50_ms" else s"$t.query_p50_ms"
      name -> Stats.median(log.reads.filter(_.tag == t).map(_.ms).toSeq)
    }.toMap
    ctx.log(f"reference anchors (Apple M4, 100000 x 1024; this run: $n x $dim, other hardware): " +
      f"insert 175 ms vs setup.insert_s ${Stats.median(insertS.toSeq) * 1e3}%.1f ms; " +
      f"top-10 13 ms vs MatrixStore.local.query_p50_ms ${tierP50("MatrixStore.local.query_p50_ms")}%.2f ms; " +
      f"file 540 MB = ${540e6 / (100000.0 * (4 * 1024 + 6))}%.3f B/user B vs " +
      f"NanoJsonCodec ${file.length / userBytes}%.3f B/user B (${file.length} B, save ${saveS * 1e3}%.0f ms)")
    file.delete()

    val counts = kernelCounts(answered.map(_._1).toSeq, c, parts)
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else Common.layers(tr, log, Nil, 0.0) ++ tierP50 ++ counts ++ Map(
        "setup.insert_s" -> Stats.median(insertS.toSeq),
        "setup.tier_build_s" -> Stats.median(tierS.toSeq),
        "bench.gen_s" -> genS)
    tiers.release()
    raw.unpersist()
    Outcome(e2e ++ layers ++ (if (tr.enabled) Map.empty else tierP50), log.attempted, log.failed,
      log.mismatches.toSeq)
  }

  private def query(t: Tiers, q: Gen.ServeRequest,
      allowedByLabel: Map[Int, Set[String]]): Array[(String, Double)] = {
    val allowed = q.label.map(allowedByLabel)
    q.tier match {
      case "MatrixStore.local" => t.lmx.query(q.query, K, q.threshold, allowed)
      case "QuantizedMatrixStore.local" => t.lq.query(q.query, K, allowedIds = allowed)
      case "BinaryMatrixStore.local" => t.lb.query(q.query, K, allowedIds = allowed)
      case "MatrixStore.dist" => t.mx.query(q.query, K, q.threshold, allowed)
      case "QuantizedMatrixStore.dist" => t.qmx.query(q.query, K, allowedIds = allowed)
      case "BinaryMatrixStore.dist" => t.bmx.query(q.query, K, allowedIds = allowed)
      case "VectorStore" =>
        t.store.query(q.query, K, q.threshold, q.label.map(l => col("label") === l))
          .select(VectorStore.IdCol, VectorStore.MetricsCol).collect()
          .map(r => (r.getString(0), r.getDouble(1)))
    }
  }

  /** Kernel work per query, derived from the inputs and each tier's
    * configuration: rows the kernel scores after the id gate, bytes it
    * scans (f32 rows, int8 codes or sign bits, plus the f32 rerank), and
    * rows it reranks exactly (oversample x k per block, capped by the
    * block's allowed rows). Blocks are the corpus' `parts` contiguous
    * slices. */
  private def kernelCounts(reqs: Seq[Gen.ServeRequest], c: Gen.ServeCorpus,
      parts: Int): Map[String, Double] = {
    val blockOf = (0 until n).map(i => (i.toLong * parts / n).toInt)
    val perBlock: Option[Int] => Array[Long] = label => {
      val a = new Array[Long](parts)
      (0 until n).foreach(i => if (label.forall(_ == c.labels(i))) a(blockOf(i)) += 1)
      a
    }
    val cache = (None +: (0 until 10).map(Some(_))).map(l => l -> perBlock(l)).toMap
    val per = reqs.map { q =>
      val blocks = cache(q.label)
      val rows = blocks.sum.toDouble
      def rerank(os: Int) = blocks.map(b => math.min(b, (os * K).toLong)).sum.toDouble
      q.tier match {
        case t if t.startsWith("MatrixStore") || t == "VectorStore" => (rows, rows * dim * 4, 0.0)
        case t if t.startsWith("Quantized") => (rows, rows * dim + rerank(8) * dim * 4, rerank(8))
        case _ => (rows, rows * dim / 8 + rerank(16) * dim * 4, rerank(16))
      }
    }
    Map("kernel.rows_scored_per_query" -> Stats.mean(per.map(_._1)),
      "kernel.bytes_scanned_per_query" -> Stats.mean(per.map(_._2)),
      "kernel.rerank_rows_per_query" -> Stats.mean(per.map(_._3)))
  }
}
