package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-curve benchmark: the headline queries timed at every available
  * scale factor in ONE run, so nonlinear plan behavior (a band join
  * whose pair volume curves super-linearly, an agg that stops combining
  * map-side) shows up as a measured curve instead of a guess.
  *
  * Key selection: queries whose INPUT actually scales with sf —
  * lineitem/orders/events grow 10x per step (sf0.001→0.01→0.1);
  * documents/embeddings only grow at sf0.1, so their keys contribute a
  * two-point curve. Per (sf, query): median-of-3 ([[Bench.median3]]),
  * one warmup count per table per sf outside any timed section.
  * Output: BENCH_CURVE.json {"sfs": [...], "queries": {name: {sf: sec}}}.
  * Expected shapes at 10x input: scans/aggs/joins ~linear (sub-linear
  * while fixed per-query overhead dominates at these local sizes);
  * band joins near-linear in pair volume; top-k linear in rows.
  */
object BenchCurve {

  /** Headline keys with genuinely sf-scaling inputs (see Scaladoc).
    * Round-8 additions: pipe_shards (one shuffle over documents),
    * dedup_semantic / dedup_semantic_text (cluster-blocked pair joins
    * whose within-cluster volume is the quantity to watch), and
    * ann_ivf_topk (build + probe over the scaling embeddings). */
  private val keys = Seq(
    "q1_agg", "q5_join_agg", "q6_filter_sum", "q14_promo", "q_window",
    "q_salted_agg", "events_hourly", "events_funnel",
    "text_stats", "text_langid", "dedup_exact", "dedup_simhash",
    "o3_topk", "pipe_e2e",
    "pipe_shards", "dedup_semantic", "dedup_semantic_text", "ann_ivf_topk",
    "ann_opq", "ann_ivfbq", "pipe_upsample", "dedup_neardup_survivor")

  /** Large-N synthetic scale points for the compressed index families
    * — the 100×-posture evidence the sf curve can't give (sf0.001→0.1
    * wall times are flat, fixed-overhead-dominated at these local
    * sizes). Per section: corpora of `ns` rows × `dim` (the same
    * hash-expression generator as Bench's reference workload), with
    * nLists ∝ √N (standard IVF sizing, so rows-per-probed-list ∝ √N at
    * fixed nProbe): across a 10× N step the exact brute-force probe
    * must grow ~linearly, the ivf/ivfbq probes ~√N (≈3.2×), and bq's
    * flat signature scan linearly at 1/32 the bytes. Build costs are
    * committed alongside so the amortization story is auditable.
    * Probes run the collect-free batch twins over the PERSISTED
    * layouts (partition pruning is part of what's being measured).
    *
    * Each point also times a fixed-size (1k-row) append onto the
    * persisted hybrid, raw and wrapped in the ingest streams' batch
    * ledger: per-batch ingest cost (including the ledger's
    * touched-dir snapshot) must stay FLAT as the corpus decades —
    * the acceptance bench for the corpus-independent ledger. */
  private def scaleSection(spark: SparkSession, tag: String, dim: Int,
      ns: Seq[Long]): String = {
    import graft.operators.Ann
    val k = 10
    val nProbe = 8
    val points = ns.map { n =>
      val nLists = math.max(64, math.sqrt(n.toDouble).round.toInt)
      def genRange(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").cast("string").as("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(hash(col("id"), i), lit(1000)).cast("double") / 500.0 - 1.0)
            .cast("float")).as("v"))
      val corpus = genRange(0L, n).cache()
      corpus.count()
      val queries = corpus.limit(16).cache()
      queries.count()
      val base = java.nio.file.Files.createTempDirectory(s"scale$tag$n").toString
      def timed(df: => org.apache.spark.sql.DataFrame): Double = {
        df.count() // warm (plan + page cache), then median-of-3
        Bench.median3(() => { df.count(); () })
      }
      val probeExact = timed(Ann.bruteForceTopK(
        corpus, "id", "v", queries, "id", "v", k))
      val tBq0 = System.nanoTime()
      Ann.bqSaveIndex(corpus, "id", "v", s"$base/bq", nBuckets = 32)
      val buildBq = (System.nanoTime() - tBq0) / 1e9
      val sigs = Ann.bqLoadIndex(spark, s"$base/bq").sigs.cache()
      sigs.count()
      val probeBq = timed(Ann.bqTopKBatch(
        sigs, corpus, "id", "v", queries, "id", "v", k, oversample = 8))
      val tIvf0 = System.nanoTime()
      val ivf = Ann.ivfBuild(corpus, "id", "v", nLists = nLists, maxIter = 2)
      Ann.ivfSave(ivf, s"$base/ivf")
      val buildIvf = (System.nanoTime() - tIvf0) / 1e9
      val ivfL = Ann.ivfLoad(spark, s"$base/ivf")
      val probeIvf = timed(Ann.ivfTopKBatch(ivfL, queries, "id", "v", k, nProbe))
      val tHy0 = System.nanoTime()
      Ann.ivfBqSave(Ann.ivfBqBuild(ivf), s"$base/ivfbq")
      val buildHy = (System.nanoTime() - tHy0) / 1e9
      val hy = Ann.ivfBqLoad(spark, s"$base/ivfbq")
      val probeHy = timed(Ann.ivfBqTopK(
        hy, queries, "id", "v", k, nProbe, oversample = 8))
      // fixed-size ingest batches onto the grown layout: raw append,
      // then the ledgered path (stage → snapshot touched dirs →
      // append → finalize), fresh ids each so nothing collides
      val batchRaw = genRange(n, n + 1000L).cache(); batchRaw.count()
      val tAp0 = System.nanoTime()
      Ann.ivfBqAppendSave(spark, s"$base/ivfbq", batchRaw, "id", "v")
      val appendRaw = (System.nanoTime() - tAp0) / 1e9
      val batchLed = genRange(n + 1000L, n + 2000L).cache(); batchLed.count()
      val tAp1 = System.nanoTime()
      graft.streaming.BatchLedger.runIdempotent(
        spark, s"$base/ivfbq/_ledger", 0L, "curve") {
        val (staged, touched) = Ann.ivfBqStageAppend(
          spark, s"$base/ivfbq", batchLed, "id", "v")
        (touched.map(c => s"$base/ivfbq/lists/cluster=$c"),
          () => Ann.appendStagedLists(staged, s"$base/ivfbq", touched.size))
      }
      val appendLedger = (System.nanoTime() - tAp1) / 1e9
      corpus.unpersist(blocking = true)
      queries.unpersist(blocking = true)
      sigs.unpersist(blocking = true)
      batchRaw.unpersist(blocking = true)
      batchLed.unpersist(blocking = true)
      System.gc()
      s"""{"n":$n,"n_lists":$nLists,"build_bq":$buildBq,""" +
        s""""build_ivf":$buildIvf,"build_ivfbq":$buildHy,""" +
        s""""probe_exact":$probeExact,"probe_bq":$probeBq,""" +
        s""""probe_ivf":$probeIvf,"probe_ivfbq":$probeHy,""" +
        s""""append_ivfbq":$appendRaw,"append_ivfbq_ledger":$appendLedger}"""
    }
    s""""$tag":{"dim":$dim,"k":$k,"n_probe":$nProbe,${provenance()},""" +
      s""""points":[${points.mkString(",")}]}"""
  }

  /** Large-N scale evidence for the LEXICAL family: synthetic corpora
    * of `ns` documents × 100 words from a 10k-word vocabulary (each
    * query term matches ~1% of docs — a realistic mid-frequency
    * keyword at a realistic doc length). Per point: inverted-index
    * build cost, the pruned probe
    * ([[graft.operators.InvertedIndex.bm25TopK]] — lists and reads ONLY
    * |terms| term-hash buckets of ~100·N/nBuckets postings, nBuckets ∝
    * √N so the probe grows ~√N) vs the corpus-scan formulation
    * ([[graft.operators.TextAnalysis.bm25TopK]] — re-reads and
    * re-tokenizes every document's full text, ~linear in corpus bytes),
    * and a fixed-size 1k-doc append raw + wrapped in the ingest
    * stream's batch ledger (per-batch cost must stay flat as the corpus
    * decades — same acceptance shape as the hybrid append). */
  private def lexSection(spark: SparkSession, ns: Seq[Long]): String = {
    import graft.operators.{InvertedIndex, TextAnalysis}
    val k = 10
    val terms = Seq("w7", "w42", "w123")
    val points = ns.map { n =>
      val nBuckets = math.max(64, (math.sqrt(n.toDouble) / 4).round.toInt)
      def gen(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").cast("string").as("id"),
        concat_ws(" ", transform(sequence(lit(0), lit(99)),
          i => concat(lit("w"), pmod(hash(col("id"), i), lit(10000)).cast("string"))))
          .as("text"))
      // a low-cardinality metadata column for the stored-facet point —
      // derived as a PROJECTION wherever an ingest needs it, never
      // cached: the 8M cached corpus sits at the 8 GiB methodology
      // heap's edge, and one more cached column tips the giant
      // mlt_scan job into OOM (measured — two runs died in the same
      // stage before this was hoisted out of gen())
      def withLang(df: org.apache.spark.sql.DataFrame) = df.withColumn("lang",
        concat(lit("l"), pmod(hash(col("id"), lit(3)), lit(5)).cast("string")))
      val corpus = gen(0L, n).cache(); corpus.count()
      val base = java.nio.file.Files.createTempDirectory(s"scalelex$n").toString
      def timed(df: => org.apache.spark.sql.DataFrame): Double = {
        df.count()
        Bench.median3(() => { df.count(); () })
      }
      val probeScan = timed(TextAnalysis.bm25TopK(corpus, "id", "text", terms, k))
      val tB0 = System.nanoTime()
      // storeText + storeCols: the SERVING posture — the doc store is
      // what keeps MLT seeds and snippet text off the corpus, the
      // stored facet column what keeps the facet sidebar off it; the
      // curve builds (and prices) the layout a deployment would run
      InvertedIndex.build(withLang(corpus), "id", "text", s"$base/inv",
        nBuckets = nBuckets, nDocBuckets = 64, storeText = true,
        storeCols = Seq("lang"))
      val buildInv = (System.nanoTime() - tB0) / 1e9
      val probeInv = timed(InvertedIndex.bm25TopK(spark, s"$base/inv", terms, k))
      // DICTIONARY ops: a prefix cannot hash-prune, so both read the
      // vocab-sized termstats layout — vocabulary here is fixed at 10k
      // terms however many docs, so these points must stay FLAT across
      // 16× docs (Heaps' law keeps real vocab growth sublinear). The
      // fuzzy probe adds the expansion's own pruned postings read.
      //
      // The FIRST dictionary demand after a state change pays the
      // consolidated-snapshot build (the O(nBuckets) layout walk +
      // vocab agg + one-file write) — priced separately here as
      // suggest_snap_build; suggest_dict then measures the
      // steady-state snapshot-backed call, which is the per-call cost
      // every subsequent suggest/fuzzy/didYouMean pays and must be
      // FLAT in the bucket count (the r17 honest-negative this
      // retires).
      val tS0 = System.nanoTime()
      InvertedIndex.suggestTerms(spark, s"$base/inv", "w1", k = 10).count()
      val suggestSnapBuild = (System.nanoTime() - tS0) / 1e9
      val suggestDict = timed(
        InvertedIndex.suggestTerms(spark, s"$base/inv", "w1", k = 10))
      val fuzzyDict = timed(InvertedIndex.bm25FuzzyTopK(spark, s"$base/inv",
        Seq("w42"), k = 10, maxEdits = 1, maxExpansions = 128))
      // STORED FACETS: match set ∝ the query terms' postings (~3% of
      // docs here), values from the index's own (id, lang) columns —
      // this point prices the honest O(match set) cost of a facet
      // sidebar with NO corpus table access (text never read)
      val facetStore = timed(InvertedIndex.facetCountsStored(spark,
        s"$base/inv", Seq("lang"), terms, matchAll = false))
      import spark.implicits._
      // appends measured BEFORE the giant MLT-scan job: a preceding
      // 8M-doc token-explode leaves enough JVM/page-cache churn to
      // inflate the NEXT metric ~6× on identical code (the r13 curve's
      // contaminated 35 s readings) — ordering the small jobs first is
      // the isolation the numbers need
      val batchRaw = withLang(gen(n, n + 1000L)).cache(); batchRaw.count()
      val tA0 = System.nanoTime()
      InvertedIndex.append(spark, s"$base/inv", batchRaw, "id", "text")
      val appendRaw = (System.nanoTime() - tA0) / 1e9
      val batchLed = withLang(gen(n + 1000L, n + 2000L)).cache(); batchLed.count()
      val tA1 = System.nanoTime()
      graft.streaming.BatchLedger.runIdempotent(
        spark, s"$base/inv/_ledger", 0L, "curve") {
        val (p, d, dirs) = InvertedIndex.stageAppend(
          spark, s"$base/inv", batchLed, "id", "text")
        (dirs, () => InvertedIndex.applyStagedAppend(spark, s"$base/inv", p, d))
      }
      val appendLedger = (System.nanoTime() - tA1) / 1e9
      // DOC-STORE point lookup: fetch the top-k probe hits' text — the
      // snippet/seed-render primitive; reads only the ids' dbucket dirs,
      // so the point must stay ~flat across 16× docs
      val topIds = InvertedIndex.bm25TopK(spark, s"$base/inv", terms, k)
        .select(col("id")).localCheckpoint(true)
      val fetchDocsT = timed(InvertedIndex.fetchDocs(spark, s"$base/inv", topIds))
      // MLT term selection at scale (one seed, top-5 terms, then the
      // k=10 index probe). Three forms, the claim the doc store exists
      // for: the corpus variant pays a full token explode + seed-vocab
      // df shuffle per call and the fallback a seed-gated corpus scan —
      // both grow with the corpus — while the doc-store variant reads
      // the seed's own dbucket + bucket-pruned df probes, the measured
      // form of "mltStream's per-batch cost is ∝ batch".
      val seed = Seq("0").toDF("id")
      def mltRun(q: org.apache.spark.sql.DataFrame): Unit = {
        InvertedIndex.bm25TopKBatch(spark, s"$base/inv", q, "qid", "terms",
          k = 10).count(); ()
      }
      val tM2 = System.nanoTime()
      mltRun(TextAnalysis.mltQueriesIdx(spark, s"$base/inv", seed, nTerms = 5))
      val mltIdx = (System.nanoTime() - tM2) / 1e9
      val tM0 = System.nanoTime()
      mltRun(TextAnalysis.mltQueries(corpus, "id", "text", seed, nTerms = 5))
      val mltScan = (System.nanoTime() - tM0) / 1e9
      val tM1 = System.nanoTime()
      mltRun(TextAnalysis.mltQueriesIdx(spark, s"$base/inv", corpus,
        "id", "text", seed, nTerms = 5))
      val mltIdxFallback = (System.nanoTime() - tM1) / 1e9
      // decontamination at scale: the eval set's vocabulary is 5% of
      // the corpus's (w0..w499 of w0..w9999 — the realistic shape: eval
      // sets are tiny next to a web corpus), so the position-chain
      // reconstruction reads only those terms' postings
      def genEval(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").cast("string").as("id"),
        concat_ws(" ", transform(sequence(lit(0), lit(99)),
          i => concat(lit("w"), pmod(hash(col("id"), i, lit(7)), lit(500)).cast("string"))))
          .as("text"))
      val evalDocs = genEval(0L, 100L).cache(); evalDocs.count()
      val tCt0 = System.nanoTime()
      InvertedIndex.contaminationHits(spark, s"$base/inv", evalDocs, "text", n = 3).count()
      val contamIdx = (System.nanoTime() - tCt0) / 1e9
      evalDocs.unpersist(blocking = true)
      // delete-heavy stream debt: 100k REAL ids tombstoned THROUGH
      // delete() (the state a stream of delete batches accumulates
      // between compactions — and routed through the real operator, so
      // sidecar stats, doc stats, and postings agree before AND after
      // the compaction: probe_inv_compacted scores the same effective
      // corpus the tombstoned probe hid). Measures what every probe
      // pays for the broadcast anti-join while the debt is outstanding,
      // what the batched rewrite costs to repay it once, and that the
      // probe returns to its tombstone-free cost after. This is the
      // curve behind needsCompact's threshold: probe cost should stay
      // ~flat under six-figure debt (anti-join, never an isin literal),
      // so the gate exists to bound the DEFERRED rewrite, not the probe.
      val tD0 = System.nanoTime()
      InvertedIndex.delete(spark, s"$base/inv", (0L until 100000L).map(_.toString))
      val delete100k = (System.nanoTime() - tD0) / 1e9
      val probeTomb = timed(InvertedIndex.bm25TopK(spark, s"$base/inv", terms, k))
      // dictionary under CORPUS-SPREAD debt: a 100k random delete's
      // term footprint is every bucket, so its delta landing DEFERS
      // (the sync gate) and suggest serves the exact postings-count
      // fallback — this point prices that documented worst case; the
      // trickle case (fast path under debt) is suggest_dict_tomb below
      val suggestSpread = timed(
        InvertedIndex.suggestTerms(spark, s"$base/inv", "w1", k = 10))
      // the EXPLICIT landing of the deferred spread generation — the
      // maintenance bill an operator pays on their own cadence to
      // restore the fast path without a compact. This is the measured
      // price of the postings-footprint read the sync gate refuses to
      // pay inside delete() (the shape behind the r16 mid-round
      // 30→139 s delete regression, now an explicit, optional step),
      // and suggest_dict_spread_landed must then track suggest_dict.
      val tLd0 = System.nanoTime()
      InvertedIndex.landPendingTermDeltas(spark, s"$base/inv")
      val landSpread = (System.nanoTime() - tLd0) / 1e9
      val suggestSpreadLanded = timed(
        InvertedIndex.suggestTerms(spark, s"$base/inv", "w1", k = 10))
      val tC0 = System.nanoTime()
      InvertedIndex.compact(spark, s"$base/inv")
      val compactTomb = (System.nanoTime() - tC0) / 1e9
      val probePost = timed(InvertedIndex.bm25TopK(spark, s"$base/inv", terms, k))
      // LOCALIZED tombstone cohort: 1000 docs drawn from a 50-term
      // vocabulary, so their postings concentrate in <= 50 term buckets.
      // Discovery comes from the tombstones' recorded bucket sets (cost
      // ∝ tombstones — no postings scan) and the rewrite is bounded by
      // the touched buckets, so this point must grow with the COHORT'S
      // bucket footprint, not the corpus — the incremental-repayment
      // claim compact_tomb100k (whose random vocabulary touches every
      // bucket) cannot show.
      def genLocal(lo: Long, hi: Long) = spark.range(lo, hi).select(
        concat(lit("loc"), col("id").cast("string")).as("id"),
        concat_ws(" ", transform(sequence(lit(0), lit(99)),
          i => concat(lit("v"), pmod(hash(col("id"), i), lit(50)).cast("string"))))
          .as("text"))
      val localBatch = withLang(genLocal(0L, 1000L)).cache(); localBatch.count()
      InvertedIndex.append(spark, s"$base/inv", localBatch, "id", "text")
      InvertedIndex.delete(spark, s"$base/inv", (0L until 1000L).map(i => s"loc$i"))
      // dictionary under TRICKLE debt — the production shape: the
      // localized cohort's footprint (<= 50 buckets) is inside the
      // sync gate, its deltas landed with the delete, and suggest must
      // stay on the vocab-sized fast path, tracking suggest_dict
      val suggestTomb = timed(
        InvertedIndex.suggestTerms(spark, s"$base/inv", "w1", k = 10))
      val tL0 = System.nanoTime()
      val localTouched = InvertedIndex.compact(spark, s"$base/inv")
      val compactLocal = (System.nanoTime() - tL0) / 1e9
      localBatch.unpersist(blocking = true)
      corpus.unpersist(blocking = true)
      batchRaw.unpersist(blocking = true)
      batchLed.unpersist(blocking = true)
      // the 8M doc-store layout is several GB — delete each point's
      // scratch index before the next point builds, or back-to-back
      // runs exhaust /tmp (the measured numbers are all taken by now)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      System.gc()
      s"""{"n":$n,"n_buckets":$nBuckets,"build_inv":$buildInv,""" +
        s""""probe_scan":$probeScan,"probe_inv":$probeInv,""" +
        s""""suggest_snap_build":$suggestSnapBuild,""" +
        s""""suggest_dict":$suggestDict,"fuzzy_dict":$fuzzyDict,""" +
        s""""facet_store":$facetStore,""" +
        s""""fetch_docs":$fetchDocsT,""" +
        s""""mlt_scan":$mltScan,"mlt_idx":$mltIdx,""" +
        s""""mlt_idx_fallback":$mltIdxFallback,"contam_idx":$contamIdx,""" +
        s""""append_inv":$appendRaw,"append_inv_ledger":$appendLedger,""" +
        s""""delete_100k":$delete100k,"suggest_dict_spread":$suggestSpread,""" +
        s""""land_spread":$landSpread,""" +
        s""""suggest_dict_spread_landed":$suggestSpreadLanded,""" +
        s""""suggest_dict_tomb":$suggestTomb,""" +
        s""""probe_inv_tomb100k":$probeTomb,"compact_tomb100k":$compactTomb,""" +
        s""""probe_inv_compacted":$probePost,""" +
        s""""compact_tomb_local":$compactLocal,"local_buckets":${localTouched.size}}"""
    }
    s""""lex":{"k":$k,${provenance()},"points":[${points.mkString(",")}]}"""
  }

  /** Code-commit + wall-clock stamp embedded in every section, so a
    * curve artifact measured BEFORE a code change is mechanically
    * distinguishable from one measured after (the r16 staleness gap). */
  private def provenance(): String = {
    // anchor the rev-parse at the repo that BUILT this code — resolved
    // from the classpath (this class's location), overridable with
    // -Dgraft.repo.root — NOT the process cwd: a bench launched from
    // outside the repo would otherwise stamp "unknown" (or the sha of
    // an unrelated enclosing repo), silently defeating the staleness
    // detection the stamp exists for
    val anchor = sys.props.get("graft.repo.root").map(new java.io.File(_))
      .orElse(try {
        val loc = new java.io.File(getClass.getProtectionDomain
          .getCodeSource.getLocation.toURI)
        Some(if (loc.isDirectory) loc else loc.getParentFile)
      } catch { case scala.util.control.NonFatal(_) => None })
      .getOrElse(new java.io.File("."))
    val sha = try scala.sys.process.Process(
        Seq("git", "rev-parse", "HEAD"), anchor).!!.trim
      catch { case scala.util.control.NonFatal(_) =>
        System.err.println(s"[BenchCurve] WARNING: git sha unresolvable from " +
          s"$anchor — provenance stamp falls back to 'unknown'")
        "unknown"
      }
    s""""code_sha":"$sha","measured_epoch_s":${System.currentTimeMillis / 1000}"""
  }

  /** The committed sections: the original 100k→1M decade at dim 256, a
    * SECOND decade (1M→4M at dim 64 — bounded cache footprint) so the
    * sub-linear probe and flat per-batch ingest claims are demonstrated
    * across two orders of magnitude, and the lexical CURVE (500k→2M→8M
    * docs, two 4× steps) for the inverted index — probe flatness has to
    * hold across decades, not one doubling, and the 8M point is where a
    * corpus-proportional build or probe term would show. */
  private def scalePoints(spark: SparkSession): String =
    scaleSection(spark, "scale", 256, Seq(100000L, 1000000L)) + "," +
      scaleSection(spark, "scale64", 64, Seq(1000000L, 4000000L)) + "," +
      lexSection(spark, Seq(500000L, 2000000L, 8000000L))

  def main(args: Array[String]): Unit = {
    // local-iteration convenience: `runMain graft.BenchCurve scale`
    // times ONLY the large-N scale section and prints its JSON (no
    // BENCH_CURVE.json write — the committed artifact always carries
    // both sections from a full run)
    val scaleOnly = args.sameElements(Array("scale"))
    val lexOnly = args.sameElements(Array("lex"))
    val scale64Only = args.sameElements(Array("scale64"))
    val sfs =
      if (args.nonEmpty && !scaleOnly && !lexOnly && !scale64Only) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM/codegen warmup
    if (scaleOnly) {
      println("{" + scalePoints(spark) + "}")
      spark.stop()
      return
    }
    if (lexOnly) {
      println("{" + lexSection(spark, Seq(500000L, 2000000L, 8000000L)) + "}")
      spark.stop()
      return
    }
    if (scale64Only) {
      println("{" + scaleSection(spark, "scale64", 64, Seq(1000000L, 4000000L)) + "}")
      spark.stop()
      return
    }
    val results = sfs.map { dir =>
      // touch each table once per sf outside the timed sections
      try {
        Tables.lineitem(spark, dir).count(); Tables.events(spark, dir).count()
        Tables.documents(spark, dir).count(); Tables.embeddings(spark, dir).count()
      } catch { case scala.util.control.NonFatal(_) => }
      dir -> keys.map { name =>
        System.gc()
        var failed = false
        val t = Bench.median3 { () =>
          try { SparkEntry.queries(name)(spark, dir).count(); () }
          catch { case scala.util.control.NonFatal(_) => failed = true }
        }
        name -> (if (failed) -1.0 else t)
      }.toMap
    }.toMap
    val scaleJson = scalePoints(spark)
    val sfName = (d: String) => d.substring(d.lastIndexOf('/') + 1)
    val json = {
      val qs = keys.map { k =>
        val per = sfs.map(d => s""""${sfName(d)}":${results(d)(k)}""").mkString(",")
        s""""$k":{$per}"""
      }.mkString(",")
      s"""{"sfs":[${sfs.map(d => s""""${sfName(d)}"""").mkString(",")}],""" +
        s""""queries":{$qs},$scaleJson}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_CURVE.json"), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
