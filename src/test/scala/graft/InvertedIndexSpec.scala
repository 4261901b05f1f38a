package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{InvertedIndex, TextAnalysis}

class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val terms = Seq("spark", "vector", "join")

  private def docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"inv$tag").toString

  private def key(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  test("indexed BM25 matches the corpus-scan formulation") {
    val path = tmp("base")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val idx = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    val scan = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(idx.map(_._1) == scan.map(_._1), s"ids: $idx vs $scan")
    // scan sums raw doubles, index sums 1e-9-quantized terms: equal to 6dp
    // within one quantization ulp
    idx.zip(scan).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 2e-6, s"score drift: $a vs $b") }
  }

  test("no tombstones without a stats sidecar: delete and compact fail loudly without one") {
    // compact reads the stats before its tombstone-emptiness check; that
    // is safe because tombstones are only written by a delete whose own
    // stats read succeeded, and compact needs the stats at entry anyway
    val path = tmp("nostats")
    InvertedIndex.build(docs.filter(col("doc_id") < 20), "doc_id", "text", path,
      nBuckets = 4, nDocBuckets = 2)
    val stats = new java.io.File(s"$path/_stats")
    assert(stats.isDirectory)
    stats.listFiles().foreach(_.delete())
    assert(stats.delete())
    intercept[IllegalArgumentException](InvertedIndex.delete(spark, path, Seq("1", "2")))
    assert(!new java.io.File(s"$path/tombstones").exists,
      "a delete that cannot read the stats must write no tombstone")
    intercept[IllegalArgumentException](InvertedIndex.compact(spark, path))
  }

  test("append equals a fresh rebuild; stats stay exact") {
    val grown = tmp("grow"); val rebuilt = tmp("rebuild")
    InvertedIndex.build(docs.filter(col("doc_id") < 30), "doc_id", "text",
      grown, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.append(spark, grown, docs.filter(col("doc_id") >= 30), "doc_id", "text")
    InvertedIndex.build(docs, "doc_id", "text", rebuilt, nBuckets = 8, nDocBuckets = 4)
    assert(key(InvertedIndex.bm25TopK(spark, grown, terms, k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, rebuilt, terms, k = 10)))
    assert(InvertedIndex.readStats(spark, grown) ==
      InvertedIndex.readStats(spark, rebuilt))
  }

  test("tombstone delete answers immediately; compact preserves it and clears") {
    val path = tmp("del"); val oraclePath = tmp("delref")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val dropIds = (0L until 10L).map(_.toString)
    InvertedIndex.delete(spark, path, dropIds)
    InvertedIndex.build(docs.filter(col("doc_id") >= 10), "doc_id", "text",
      oraclePath, nBuckets = 8, nDocBuckets = 4)
    val want = key(InvertedIndex.bm25TopK(spark, oraclePath, terms, k = 10))
    val preCompact = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    assert(preCompact == want, "tombstones must take effect before compaction")
    assert(InvertedIndex.readStats(spark, path) ==
      InvertedIndex.readStats(spark, oraclePath), "stats must shrink exactly")
    // re-deleting the same ids must not double-subtract
    InvertedIndex.delete(spark, path, dropIds.take(3))
    assert(InvertedIndex.readStats(spark, path) ==
      InvertedIndex.readStats(spark, oraclePath))
    val touched = InvertedIndex.compact(spark, path)
    assert(touched.nonEmpty)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    // tombstones cleared: a second compact is a no-op
    assert(InvertedIndex.compact(spark, path).isEmpty)
    // and the postings physically lost the dropped ids
    val gone = spark.read.parquet(s"$path/postings")
      .filter(col("id").isin(dropIds: _*)).count()
    assert(gone == 0L)
  }

  test("compact rewrites only buckets holding tombstoned postings") {
    val path = tmp("touch")
    // two docs with DISJOINT vocabularies so their postings land in
    // knowably different buckets
    val df = Seq((1L, "aaa bbb aaa"), (2L, "ccc ddd eee")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 32, nDocBuckets = 2)
    val before = listFiles(s"$path/postings")
    InvertedIndex.delete(spark, path, Seq("2"))
    val touched = InvertedIndex.compact(spark, path)
    val after = listFiles(s"$path/postings")
    // doc 1's buckets keep their files byte-identical (same path, len, mtime)
    val touchedDirs = touched.map(b => s"bucket=$b").toSet
    val untouchedBefore = before.filterNot(f => touchedDirs.exists(f._1.contains))
    val untouchedAfter = after.filterNot(f => touchedDirs.exists(f._1.contains))
    assert(untouchedBefore == untouchedAfter,
      "untouched bucket dirs must not be rewritten")
    assert(spark.read.parquet(s"$path/postings").filter(col("id") === "2").count() == 0L)
  }

  test("phraseTopK: consecutive-word semantics, repeats, counts, absence") {
    val path = tmp("phrase")
    val df = Seq(
      (1L, "fast scan fast scan slow"),  // "fast scan" x2
      (2L, "fast slow scan fast"),       // words present, never adjacent
      (3L, "scan fast scan"),            // "fast scan" x1 (at offset 1)
      (4L, "fast fast fast"),            // repeated-word phrase fodder
      (5L, "nothing here")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val r = InvertedIndex.phraseTopK(spark, path, Seq("fast", "scan"), k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("1", 2L), ("3", 1L)), s"got ${r.toSeq}")
    // repeated word resolves against the same position array
    val rr = InvertedIndex.phraseTopK(spark, path, Seq("fast", "fast"), k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(rr.toSeq == Seq(("4", 2L)), s"got ${rr.toSeq}")
    // single-word phrase degenerates to tf
    val one = InvertedIndex.phraseTopK(spark, path, Seq("fast"), k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(one == Map("4" -> 3L, "1" -> 2L, "2" -> 2L, "3" -> 1L))
    // a phrase whose words exist nowhere
    assert(InvertedIndex.phraseTopK(spark, path, Seq("absent", "words"), k = 10).isEmpty)
    // tombstoned docs drop from phrase results too
    InvertedIndex.delete(spark, path, Seq("1"))
    val afterDel = InvertedIndex.phraseTopK(spark, path, Seq("fast", "scan"), k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(afterDel.toSeq == Seq(("3", 1L)))
  }

  test("bm25TopKBatch equals per-query single probes, rank for rank") {
    val path = tmp("batch")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val qs = Seq("a" -> Seq("spark", "vector", "join"), "b" -> Seq("table", "scan"))
    val batch = InvertedIndex.bm25TopKBatch(spark, path,
        qs.toDF("qid", "terms"), "qid", "terms", k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSet
    val singles = qs.flatMap { case (qid, ts) =>
      InvertedIndex.bm25TopK(spark, path, ts, k = 5).collect()
        .zipWithIndex.map { case (r, i) => (qid, i + 1, r.getString(0), r.getDouble(1)) }
    }.toSet
    assert(batch == singles, s"batch $batch vs singles $singles")
  }

  test("delete tolerates ids routing to buckets that never got a directory") {
    val path = tmp("sparse")
    val df = Seq((1L, "aaa bbb"), (2L, "ccc ddd")).toDF("doc_id", "text")
    // 64 doc buckets over 2 docs: almost every dbucket has no directory
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 64)
    val before = InvertedIndex.readStats(spark, path)
    // all-absent ids (many hash to dirless buckets): exact no-op
    InvertedIndex.delete(spark, path, (100L until 130L).map(_.toString))
    assert(InvertedIndex.readStats(spark, path) == before)
    // a real id mixed with an absent one still lands, exactly once
    InvertedIndex.delete(spark, path, Seq("1", "999"))
    val after = InvertedIndex.readStats(spark, path)
    assert(after.nDocs == 1L && after.sumDl == 2L)
    InvertedIndex.compact(spark, path)
    assert(spark.read.parquet(s"$path/postings")
      .filter(col("id") === "1").count() == 0L)
  }

  test("ledgered ingest: crashed delivery rolls back whole (incl. stats version), replay lands exactly once") {
    import graft.streaming.BatchLedger
    val path = tmp("ledger"); val ref = tmp("ledgerref")
    InvertedIndex.build(docs.filter(col("doc_id") < 30), "doc_id", "text",
      path, nBuckets = 8, nDocBuckets = 4)
    val batch = docs.filter(col("doc_id") >= 30 && col("doc_id") < 40)
    val ledger = s"$path/_ledger"
    // delivery 1: everything lands, then the process dies BEFORE the
    // marker finalizes — the worst replay window (rows present, batch
    // not recorded as applied)
    val boom = intercept[RuntimeException] {
      BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A") {
        val (p, d, dirs) = InvertedIndex.stageAppend(spark, path, batch, "doc_id", "text")
        (dirs, () => {
          InvertedIndex.applyStagedAppend(spark, path, p, d)
          throw new RuntimeException("crash before finalize")
        })
      }
    }
    assert(boom.getMessage == "crash before finalize")
    // delivery 2 (engine replay): must roll the half-recorded batch
    // back — including the stats version file it added — and re-apply
    val ran = BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A") {
      val (p, d, dirs) = InvertedIndex.stageAppend(spark, path, batch, "doc_id", "text")
      (dirs, () => InvertedIndex.applyStagedAppend(spark, path, p, d))
    }
    assert(ran)
    // delivery 3: applied marker present, prepare never evaluated
    val ran2 = BatchLedger.runIdempotent(spark, ledger, 0L, "cp-A") {
      fail("prepare must not run for an applied batch"): (Seq[String], () => Unit)
    }
    assert(!ran2)
    // exactly-once: equals a fresh build over the union, no duplicate postings
    InvertedIndex.build(docs.filter(col("doc_id") < 40), "doc_id", "text",
      ref, nBuckets = 8, nDocBuckets = 4)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, ref, terms, k = 10)))
    assert(InvertedIndex.readStats(spark, path) == InvertedIndex.readStats(spark, ref))
    val dups = spark.read.parquet(s"$path/postings")
      .groupBy(col("term"), col("id")).count().filter(col("count") > 1).count()
    assert(dups == 0L, "a replayed batch must not duplicate postings")
  }

  test("empty index (never populated or fully deleted) probes to an explicit empty frame") {
    val path = tmp("empty")
    InvertedIndex.build(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    assert(InvertedIndex.readStats(spark, path).nDocs == 0L)
    assert(InvertedIndex.bm25TopK(spark, path, terms, k = 10).isEmpty)
    assert(InvertedIndex.bm25TopKBatch(spark, path,
      Seq(("a", Seq("spark"))).toDF("qid", "terms"), "qid", "terms", k = 5).isEmpty)
    // fully deleted: same guard, no NaN-poisoned scores
    val path2 = tmp("drained")
    val df = Seq((1L, "aaa bbb"), (2L, "ccc ddd")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path2, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path2, Seq("1", "2"))
    assert(InvertedIndex.readStats(spark, path2).nDocs == 0L)
    assert(InvertedIndex.bm25TopK(spark, path2, Seq("aaa"), k = 5).isEmpty)
    // the scan twin guards the same edge
    assert(TextAnalysis.bm25TopK(df.limit(0), "doc_id", "text", Seq("aaa"), k = 5).isEmpty)
  }

  test("re-appending a tombstoned id fails fast until compact clears it") {
    val path = tmp("reapp")
    val df = Seq((1L, "aaa bbb"), (2L, "ccc ddd")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path, Seq("1"))
    // silent path would: hide the fresh doc behind the tombstone
    // anti-join, then physically drop it at compact while stats count it
    val boom = intercept[IllegalArgumentException] {
      InvertedIndex.append(spark, path, Seq((1L, "aaa eee")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    assert(boom.getMessage.contains("compact"))
    // untombstoned ids in the same batch are NOT collateral: the stage
    // rejected the whole batch, nothing landed
    val st = InvertedIndex.readStats(spark, path)
    assert(st.nDocs == 1L)
    // after compact the id is free again and the round-trip is exact
    InvertedIndex.compact(spark, path)
    InvertedIndex.append(spark, path, Seq((1L, "aaa eee")).toDF("doc_id", "text"),
      "doc_id", "text")
    val r = InvertedIndex.bm25TopK(spark, path, Seq("eee"), k = 5)
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq("1"), s"re-appended doc must be probeable, got $r")
  }

  test("probe heals compact crash residue instead of silently shrinking results") {
    val path = tmp("heal")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val want = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    // simulate a crash inside rewriteDirsBatched's rename window: one
    // probed bucket dir renamed away to .compact.old, replacement absent
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketOfSpark = Seq("spark").toDF("term")
      .select(pmod(xxhash64(col("term")), lit(8L))).collect()(0).getLong(0)
    val dir = new org.apache.hadoop.fs.Path(s"$path/postings/bucket=$bucketOfSpark")
    val old = new org.apache.hadoop.fs.Path(
      s"$path/postings/.bucket=$bucketOfSpark.compact.old")
    assert(fs.exists(dir), "fixture needs the probed bucket to exist")
    assert(fs.rename(dir, old))
    // the probe must NOT treat the mid-swap bucket as 'term never
    // indexed' — it heals the root and answers exactly
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    assert(fs.exists(dir) && !fs.exists(old), "residue must be healed, not read around")
    // batch + phrase probes share the healing path
    assert(fs.rename(dir, old))
    assert(InvertedIndex.bm25TopKBatch(spark, path,
      Seq(("a", terms)).toDF("qid", "terms"), "qid", "terms", k = 10)
      .count() == want.size)
    assert(fs.exists(dir))
  }

  test("compact survives a six-figure tombstone set with no driver-side literal plan") {
    val path = tmp("bigtomb")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    // real deletions, so the rewrite has actual work to do...
    InvertedIndex.delete(spark, path, (0L until 10L).map(_.toString))
    val want = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    // ...plus a delete-heavy stream's debt: 150k synthetic tombstones
    // (absent from the corpus — only the anti-join semantics matter).
    // The old isin-literal form would build a 150k-element plan node.
    spark.range(1000000, 1150000).select(col("id").cast("string").as("id"))
      .write.mode("append").parquet(s"$path/tombstones")
    assert(InvertedIndex.needsCompact(spark, path, maxTombstones = 100000L))
    assert(!InvertedIndex.needsCompact(spark, path, maxTombstones = 1000000L))
    assert(InvertedIndex.compact(spark, path).nonEmpty)
    assert(!InvertedIndex.needsCompact(spark, path, maxTombstones = 1L),
      "compact must clear the tombstone set")
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    assert(spark.read.parquet(s"$path/postings")
      .filter(col("id").isin((0L until 10L).map(_.toString): _*)).count() == 0L,
      "tombstoned postings must be physically gone")
  }

  test("mixed-whitespace corpus round-trips identically through scan-BM25 and index-BM25") {
    // the shared TextAnalysis.tokens analyzer: single-space split,
    // empties kept — build, append, probe, and the corpus scan must all
    // agree or a query-time caller gets silent zero recall
    val path = tmp("ws")
    val df = Seq(
      (1L, "alpha  beta alpha"),       // double space -> empty token
      (2L, " beta gamma"),             // leading space
      (3L, "alpha beta "),             // trailing space
      (4L, "alpha\tbeta alpha beta")). // tab is NOT a separator
      toDF("doc_id", "text")
    InvertedIndex.build(df.filter(col("doc_id") < 4), "doc_id", "text",
      path, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.append(spark, path, df.filter(col("doc_id") === 4), "doc_id", "text")
    val qs = Seq("alpha", "beta")
    val idx = key(InvertedIndex.bm25TopK(spark, path, qs, k = 10))
    val scan = TextAnalysis.bm25TopK(df, "doc_id", "text", qs, k = 10)
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(idx.map(_._1) == scan.map(_._1), s"ids: $idx vs $scan")
    idx.zip(scan).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 2e-6, s"score drift: $a vs $b") }
    // "alpha\tbeta" is ONE token under the contract: doc 4 scores via
    // its un-tabbed occurrences, and the tabbed compound is queryable
    // as its own term in both engines
    val compound = key(InvertedIndex.bm25TopK(spark, path, Seq("alpha\tbeta"), k = 10))
    val compoundScan = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("alpha\tbeta"), k = 10)
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(compound.map(_._1) == Seq("4") && compoundScan.map(_._1) == Seq("4"))
    // the driver-side query analyzer matches the Column analyzer
    // token for token — INCLUDING trailing empties (Scala's 1-arg
    // split would drop them)
    Seq("alpha  beta alpha", " beta gamma", "alpha beta ", "alpha\tbeta x")
      .foreach { s =>
        val viaCol = Seq(s).toDF("t").select(TextAnalysis.tokens(col("t")))
          .collect()(0).getSeq[String](0).toSeq
        assert(TextAnalysis.tokensOf(s) == viaCol, s"analyzer drift on '$s'")
      }
  }

  test("compact repays append small-file debt in postings AND docstats") {
    val path = tmp("filedebt")
    InvertedIndex.build(docs.filter(col("doc_id") < 30), "doc_id", "text",
      path, nBuckets = 4, nDocBuckets = 2)
    // a delete-free ingest stream's debt: each small append lands one
    // file per touched dir, and the tombstone path never fires
    (0 until 12).foreach { i =>
      InvertedIndex.append(spark, path,
        docs.filter(col("doc_id") >= 30 + 2 * i && col("doc_id") < 32 + 2 * i),
        "doc_id", "text")
    }
    def maxFilesPerDir(root: String): Int = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(d => fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
        .max
    }
    assert(maxFilesPerDir(s"$path/postings") > 8, "fixture must carry debt")
    val want = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    val stats = InvertedIndex.readStats(spark, path)
    assert(InvertedIndex.compact(spark, path).isEmpty) // no tombstones
    assert(maxFilesPerDir(s"$path/postings") == 1, "postings debt must be repaid")
    assert(maxFilesPerDir(s"$path/docstats") == 1, "docstats debt must be repaid")
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    assert(InvertedIndex.readStats(spark, path) == stats)
  }

  test("filtered BM25: allow set gates candidates, scores stay corpus-wide, scan == index") {
    val path = tmp("filter")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val allow = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val idx = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10,
      allowed = Some(allow)))
    // every hit satisfies the predicate
    assert(idx.nonEmpty && idx.forall(_._1.toLong % 3 == 0))
    // scan twin agrees rank for rank
    val scan = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, k = 10,
        allowed = Some(allow))
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(idx.map(_._1) == scan.map(_._1), s"ids: $idx vs $scan")
    // filter-context semantics: a doc's score equals its UNFILTERED
    // score (the filter narrows candidates, never the stats)
    val unfiltered = key(InvertedIndex.bm25TopK(spark, path, terms, k = 1000)).toMap
    idx.foreach { case (id, s) =>
      assert(math.abs(unfiltered(id) - s) < 1e-9, s"score of $id changed under filter") }
    // batch twin gates every query identically
    val batch = InvertedIndex.bm25TopKBatch(spark, path,
        Seq(("a", terms)).toDF("qid", "terms"), "qid", "terms", k = 10,
        allowed = Some(allow))
      .collect().map(r => (r.getString(2), r.getDouble(3))).toSeq
    assert(batch == idx, s"batch $batch vs single $idx")
  }

  test("contaminationHits through the index equals the corpus-scan shingle intersection") {
    val path = tmp("contam")
    val corpus = docs.filter(col("doc_id") < 200)
    InvertedIndex.build(corpus, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val eval_ = corpus.filter(col("doc_id") % 7 === 0)
    val train = corpus.filter(col("doc_id") % 7 =!= 0)
    // scan side: distinct-shingle intersection counts
    val scan = TextAnalysis.contaminationStats(train, eval_, "doc_id", "text", n = 3)
      .filter(col("n_hits") > 0)
      .select(col("id").cast("string"), col("n_hits"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // index side: eval grams phrase-probe the positional postings;
    // eval docs are IN the index, so gate them out like the query does
    val idx = InvertedIndex.contaminationHits(spark, path, eval_, "text", n = 3)
      .filter(col("id").cast("long") % 7 =!= 0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(idx == scan, s"index ${idx.size} docs vs scan ${scan.size}")
    assert(scan.nonEmpty, "fixture must actually contaminate")
    // containsPhrases is the complete match set: per-query row counts
    // equal the top-k probe at unbounded k
    val q = Seq(("p0", Seq("spark", "join"))).toDF("qid", "phrase")
    val full = InvertedIndex.containsPhrases(spark, path, q, "qid", "phrase")
    val topped = InvertedIndex.phraseTopKBatch(spark, path, q, "qid", "phrase",
      k = 1000000)
    assert(full.count() == topped.count())
    assert(full.select(col("id"), col("n_phrase"))
      .exceptAll(topped.select(col("id"), col("n_phrase"))).isEmpty)
  }

  test("mltQueries extracts rank-ordered TF-IDF seed terms; describe reports exact state") {
    val path = tmp("mlt")
    val df = Seq(
      (1L, "rare gem rare gem common"),
      (2L, "common common filler words here"),
      (3L, "rare gem common filler stuff")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    // seed doc 1: "rare"/"gem" (tf=2, df=2) outrank "common" (tf=1, df=3)
    val q = TextAnalysis.mltQueries(df, "doc_id", "text", Seq("1").toDF("id"), nTerms = 2)
      .collect()
    assert(q.length == 1 && q(0).getString(0) == "1")
    assert(q(0).getSeq[String](1).toSeq == Seq("gem", "rare"),
      "terms must come back in rank order (score desc, token tiebreak)")
    // several seeds batch in one frame
    val q2 = TextAnalysis.mltQueries(df, "doc_id", "text",
      Seq("1", "3").toDF("id"), nTerms = 2)
    assert(q2.count() == 2)
    // the composition: doc 3 (shares rare+gem) must beat doc 2, and the
    // allowed gate keeps the seed itself out
    val hits = InvertedIndex.bm25TopKBatch(spark, path, TextAnalysis.mltQueries(
        df, "doc_id", "text", Seq("1").toDF("id"), nTerms = 2),
        "qid", "terms", k = 5,
        allowed = Some(df.filter(col("doc_id") =!= 1).select(col("doc_id"))))
      .collect().map(r => (r.getInt(1), r.getString(2)))
    assert(hits.toSeq == Seq((1, "3")), s"got ${hits.toSeq}")
    // describe: exact geometry/stats/debt, metadata-only
    val d0 = InvertedIndex.describe(spark, path).collect()(0)
    assert(d0.getInt(0) == 8 && d0.getInt(1) == 4)
    assert(d0.getLong(2) == 3L && d0.getLong(3) == 15L)
    assert(d0.getDouble(4) == 5.0 && d0.getLong(5) == 0L)
    // capability flags: no doc store on a plain build, term stats
    // present (the serving fast path an operator gates on)
    assert(!d0.getBoolean(6) && d0.getBoolean(7))
    InvertedIndex.delete(spark, path, Seq("2"))
    val d1 = InvertedIndex.describe(spark, path).collect()(0)
    assert(d1.getLong(2) == 2L && d1.getLong(5) == 1L,
      "describe must reflect the delete: stats shrink, debt counts")
  }

  test("phraseTopKBatch equals per-query phraseTopK, rank for rank") {
    val path = tmp("phrbatch")
    val df = Seq(
      (1L, "fast scan fast scan slow"),
      (2L, "fast slow scan fast"),
      (3L, "scan fast scan"),
      (4L, "fast fast fast"),
      (5L, "nothing here")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val qs = Seq(
      "a" -> Seq("fast", "scan"),
      "b" -> Seq("fast", "fast"),      // repeated word, same position array
      "c" -> Seq("fast"),              // one-word phrase degenerates to tf
      "d" -> Seq("absent", "words"))   // no hits -> no rows for that qid
    val batch = InvertedIndex.phraseTopKBatch(spark, path,
        qs.toDF("qid", "phrase"), "qid", "phrase", k = 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    val singles = qs.flatMap { case (qid, ph) =>
      InvertedIndex.phraseTopK(spark, path, ph, k = 5).collect()
        .zipWithIndex.map { case (r, i) => (qid, i + 1, r.getString(0), r.getLong(1)) }
    }.toSet
    assert(batch == singles, s"batch $batch vs singles $singles")
    // tombstones apply to the batch path too
    InvertedIndex.delete(spark, path, Seq("1"))
    val afterDel = InvertedIndex.phraseTopKBatch(spark, path,
        Seq("a" -> Seq("fast", "scan")).toDF("qid", "phrase"), "qid", "phrase", k = 5)
      .collect().map(r => (r.getString(2), r.getLong(3))).toSeq
    assert(afterDel == Seq(("3", 1L)))
  }

  test("mltQueriesIdx equals mltQueries term for term over the index's corpus") {
    val path = tmp("mltidx")
    val df = Seq(
      (1L, "rare gem rare gem common"),
      (2L, "common common filler words here"),
      (3L, "rare gem common filler stuff")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val seeds = Seq("1", "3").toDF("id")
    val scan = TextAnalysis.mltQueries(df, "doc_id", "text", seeds, nTerms = 3)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toMap
    val idx = TextAnalysis.mltQueriesIdx(spark, path, df, "doc_id", "text",
        seeds, nTerms = 3)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toMap
    assert(idx == scan, s"index-backed terms $idx vs corpus terms $scan")
  }

  test("fold analyzer: sidecar pins it, both sides fold, recall survives case/punct") {
    val path = tmp("fold")
    val df = Seq(
      (1L, "Spark, JOIN! spark join."),
      (2L, "vector;Join data"),
      (3L, "unrelated words entirely")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4, analyzer = "fold")
    assert(InvertedIndex.readStats(spark, path).analyzer == "fold")
    // mixed-case, punctuated query terms fold on the probe side; the
    // scan twin folds BOTH sides the same way, so ids and scores match
    val q = Seq("SPARK", "Join")
    val idx = key(InvertedIndex.bm25TopK(spark, path, q, k = 5))
    val scan = TextAnalysis.bm25TopK(df, "doc_id", "text", q, k = 5,
        analyzer = "fold")
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(idx.map(_._1) == scan.map(_._1) && idx.nonEmpty,
      s"fold recall: $idx vs $scan")
    assert(idx.map(_._1).take(2).toSet == Set("1", "2"),
      "folded probe must hit the case/punct variants")
    // a multi-word raw term splits under fold and still probes
    val multi = key(InvertedIndex.bm25TopK(spark, path, Seq("Spark-Join"), k = 5))
    assert(multi.map(_._1).contains("1"))
    // driver-side twin and Column twin agree, empty-token contract kept
    val samples = Seq("A, b!", "Data-Base x9", "", "!!!", "two  spaces")
    val colToks = samples.toDF("t")
      .select(TextAnalysis.tokens(col("t"), "fold")).collect()
      .map(_.getSeq[String](0).toSeq)
    samples.zip(colToks).foreach { case (s, ct) =>
      assert(TextAnalysis.tokensOf(s, "fold") == ct, s"parity for '$s': $ct") }
    // appends inherit the sidecar's analyzer — no way to diverge
    InvertedIndex.append(spark, path, Seq((4L, "SPARK!!! spark")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(key(InvertedIndex.bm25TopK(spark, path, Seq("spark"), k = 5))
      .map(_._1).contains("4"))
  }

  test("delete records only ids actually present; absent ids never block appends") {
    val path = tmp("delabsent")
    val df = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    // deleting ids that never existed is a COMPLETE no-op: no tombstone,
    // no stats change, no debt
    InvertedIndex.delete(spark, path, Seq("zz", "99"))
    val d = InvertedIndex.describe(spark, path).collect()(0)
    assert(d.getLong(2) == 2L && d.getLong(5) == 0L,
      "absent-id delete must leave stats and debt untouched")
    // and a brand-new doc with that id appends fine (no spurious
    // tombstone to trip the re-append fail-fast)
    InvertedIndex.append(spark, path, Seq((99L, "alpha fresh")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(key(InvertedIndex.bm25TopK(spark, path, Seq("fresh"), k = 5))
      .map(_._1) == Seq("99"))
    // duplicate delete calls append the tombstone once (second finds nothing)
    InvertedIndex.delete(spark, path, Seq("1"))
    InvertedIndex.delete(spark, path, Seq("1"))
    assert(InvertedIndex.describe(spark, path).collect()(0).getLong(5) == 1L)
  }

  test("partial compaction: fraction gate retains tombstones, probes stay exact throughout") {
    val path = tmp("partial"); val oraclePath = tmp("partialref")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val dropIds = (0L until 10L).map(_.toString)
    InvertedIndex.delete(spark, path, dropIds)
    InvertedIndex.build(docs.filter(col("doc_id") >= 10), "doc_id", "text",
      oraclePath, nBuckets = 8, nDocBuckets = 4)
    val want = key(InvertedIndex.bm25TopK(spark, oraclePath, terms, k = 10))
    // a fraction bar this high gates every bucket out (10 docs of 500):
    // nothing rewrites, the whole set is retained — and the probe is
    // EXACTLY as correct as before, because retained ids stay anti-joined
    val touchedGated = InvertedIndex.compact(spark, path, minTombFrac = 0.9)
    assert(touchedGated.isEmpty, s"gate at 0.9 should rewrite nothing, got $touchedGated")
    val debtAfterGate = InvertedIndex.describe(spark, path).collect()(0).getLong(5)
    assert(debtAfterGate == 10L, "gated-out tombstones must be retained")
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    // full compaction (default gate) repays everything: postings drop,
    // set clears, probe unchanged, re-append unblocked
    val touchedFull = InvertedIndex.compact(spark, path)
    assert(touchedFull.nonEmpty)
    assert(InvertedIndex.describe(spark, path).collect()(0).getLong(5) == 0L)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want)
    // re-append of the retired ids is legal again and restores the
    // full corpus exactly
    InvertedIndex.append(spark, path,
      docs.filter(col("doc_id") < 10), "doc_id", "text")
    val fullPath = tmp("partialfull")
    InvertedIndex.build(docs, "doc_id", "text", fullPath, nBuckets = 8, nDocBuckets = 4)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, fullPath, terms, k = 10)))
    assert(InvertedIndex.readStats(spark, path).nDocs ==
      InvertedIndex.readStats(spark, fullPath).nDocs)
  }

  test("partial compaction rewrites hot buckets only and retires exactly the repaid ids") {
    val path = tmp("partialsubset")
    // two vocabularies routed to DISJOINT term buckets (probed against
    // the real hash at nBuckets = 2), so the per-bucket debt is under
    // the test's control: vocab-A docs live entirely in bucket 0,
    // vocab-B docs entirely in bucket 1
    val words = (0 until 400).map(i => s"w$i")
    val bucketOf = words.toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(2L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabA = words.filter(bucketOf(_) == 0L).take(6)
    val vocabB = words.filter(bucketOf(_) == 1L).take(6)
    val docsAB = ((0 until 10).map(i => (s"a$i", vocabA.mkString(" "))) ++
      (0 until 10).map(i => (s"b$i", vocabB.mkString(" ")))).toDF("doc_id", "text")
    InvertedIndex.build(docsAB, "doc_id", "text", path, nBuckets = 2, nDocBuckets = 2)
    // bucket 0 debt: 8/10 of its postings tombstoned; bucket 1: 1/10
    InvertedIndex.delete(spark, path,
      (0 until 8).map(i => s"a$i") :+ "b0")
    val touched = InvertedIndex.compact(spark, path, minTombFrac = 0.5)
    assert(touched == Seq(0L), s"only the hot bucket passes the 0.5 gate: $touched")
    // the a-tombstones' whole bucket set was rewritten -> retired; b0's
    // bucket was skipped -> retained (its postings still need hiding)
    assert(InvertedIndex.describe(spark, path).collect()(0).getLong(5) == 1L)
    val probeA = key(InvertedIndex.bm25TopK(spark, path, vocabA.take(1), k = 20))
    assert(probeA.map(_._1).sorted == Seq("a8", "a9"), s"got $probeA")
    val probeB = key(InvertedIndex.bm25TopK(spark, path, vocabB.take(1), k = 20))
    assert(probeB.map(_._1).sorted == (1 until 10).map(i => s"b$i"), s"got $probeB")
    // full compaction repays the cold bucket and clears the set
    assert(InvertedIndex.compact(spark, path) == Seq(1L))
    assert(InvertedIndex.describe(spark, path).collect()(0).getLong(5) == 0L)
    assert(key(InvertedIndex.bm25TopK(spark, path, vocabB.take(1), k = 20))
      .map(_._1).sorted == (1 until 10).map(i => s"b$i"))
  }

  test("proximity BM25: adjacency boost breaks bag-of-words ties; bm25 part == plain probe") {
    val path = tmp("prox")
    val df = Seq(
      (1L, "spark join now"),   // adjacent pair
      (2L, "join spark now"),   // same bag of words, wrong order -> no pair
      (3L, "spark alone here"),
      (4L, "nothing relevant")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val r = InvertedIndex.bm25ProxTopK(spark, path, Seq("spark", "join"), k = 10)
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getDouble(2), x.getLong(3)))
    val byId = r.map(x => x._1 -> x).toMap
    assert(byId("1")._3 == byId("2")._3,
      "permuted docs must have identical bag-of-words bm25")
    assert(byId("1")._4 == 1L && byId("2")._4 == 0L && byId("3")._4 == 0L)
    assert(math.abs(byId("1")._2 - (byId("1")._3 + 0.5)) < 2e-6,
      "score = bm25 + 0.5 per adjacent pair")
    assert(r.head._1 == "1", "the adjacent-pair doc must rank first")
    assert(!byId.contains("4"), "zero-bm25 docs stay out")
    // the lexical part is EXACTLY the plain probe's quantized score
    val plain = InvertedIndex.bm25TopK(spark, path, Seq("spark", "join"), k = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    r.foreach { case (id, _, bm, _) => assert(bm == plain(id), s"bm25 drift for $id") }
  }

  test("boolean BM25: must gates all, mustNot excludes, should only scores") {
    val path = tmp("bool")
    val df = Seq(
      (1L, "spark join fast"),    // must + should, no mustNot
      (2L, "spark slow join"),    // must but excluded by mustNot
      (3L, "join vector fast"),   // should only -> fails must
      (4L, "spark alone"),        // must only, zero should
      (5L, "irrelevant words")).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val r = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq("spark"), should = Seq("join", "vector"),
        mustNot = Seq("slow"), k = 10)
      .collect().map(x => (x.getString(0), x.getDouble(1)))
    assert(r.map(_._1).toSet == Set("1", "4"), s"got ${r.toSeq}")
    // a should-matching doc outscores a must-only one (extra term score)
    assert(r.head._1 == "1")
    // scores equal the plain probe's for the same scoring terms
    val plain = InvertedIndex.bm25TopK(spark, path,
        Seq("spark", "join", "vector"), k = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    r.foreach { case (id, s) => assert(s == plain(id), s"score drift for $id") }
    // multi-must requires EVERY term; empty must means any should match
    val both = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq("spark", "join"), k = 10)
      .collect().map(_.getString(0))
    assert(both.toSeq.sorted == Seq("1", "2"))
    val anyOf = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq.empty, should = Seq("vector"), k = 10)
      .collect().map(_.getString(0))
    assert(anyOf.toSeq == Seq("3"))
  }

  test("snippets: ±window context around the first match, clamped at both edges") {
    val path = tmp("snip")
    val df = Seq(
      (1L, "a b spark join c d e"),  // match at 2: full window both sides
      (2L, "spark join x"),          // match at 0: left clamp
      (3L, "p q r s spark join")     // match at 4: right clamp
    ).toDF("doc_id", "text")
    InvertedIndex.build(df, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    val q = Seq(("q0", Seq("spark", "join"))).toDF("qid", "phrase")
    val out = InvertedIndex.snippets(spark, path, df, "doc_id", "text",
        q, "qid", "phrase", window = 2)
      .collect().map(x => x.getString(1) -> ((x.getLong(3), x.getString(4)))).toMap
    assert(out("1") == ((2L, "a b spark join c d")))
    assert(out("2") == ((0L, "spark join x")))
    assert(out("3") == ((4L, "r s spark join")))
  }

  test("probe heals an interrupted tombstone swap instead of resurrecting deletes") {
    val path = tmp("tombswap")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path, (0L until 10L).map(_.toString))
    val want = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    // simulate the crash window of a partial compaction's tombstone
    // swap: the live set renamed away, the replacement never renamed in
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/tombstones"),
      new org.apache.hadoop.fs.Path(s"$path/.tombstones.old")))
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == want,
      "probe must heal the swap residue, not resurrect the deleted docs")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "healing renames the old set back")
  }

  test("delete and rebuild handle tombstone-swap residue (heal first, never resurrect)") {
    val path = tmp("swapmut")
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path, (0L until 10L).map(_.toString))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def simulateMidSwap(): Unit =
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/tombstones"),
        new org.apache.hadoop.fs.Path(s"$path/.tombstones.old")))
    // a delete landing in the crash window must heal BEFORE appending —
    // a fresh tombstones dir would shadow the old set and resurrect it
    simulateMidSwap()
    InvertedIndex.delete(spark, path, Seq("10"))
    assert(InvertedIndex.tombstoneCount(spark, path) == 11L,
      "healed set (10) + the new id (1)")
    val top = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)).map(_._1)
    assert((0L to 10L).map(_.toString).forall(id => !top.contains(id)))
    // a REBUILD over swap residue starts clean: the old index's
    // tombstones must not hide the new corpus's docs
    simulateMidSwap()
    InvertedIndex.build(docs, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    assert(InvertedIndex.tombstoneCount(spark, path) == 0L)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, cachedFullIdx, terms, k = 10)))
  }

  test("doc store: fetchDocs is a point lookup — present, absent, tombstoned, and the storeText gate") {
    val path = tmp("docstore")
    val d = docs.filter(col("doc_id") < 200)
    InvertedIndex.build(d, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4,
      storeText = true)
    // present ids come back with exact dl + raw text
    val got = InvertedIndex.fetchDocs(spark, path,
        Seq("3", "7", "11", "9999").toDF("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    val want = d.filter(col("doc_id").isin(3, 7, 11))
      .select(col("doc_id").cast("string"), size(split(col("text"), " ")).cast("long"),
        col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq) // absent id 9999 contributes nothing
    // a tombstoned doc disappears from the fetch immediately
    InvertedIndex.delete(spark, path, Seq("7"))
    assert(InvertedIndex.fetchDocs(spark, path, Seq("7", "3").toDF("id"))
      .collect().map(_.getString(0)).toSeq == Seq("3"))
    // appended docs are fetchable (stage inherits the sidecar flag)
    InvertedIndex.append(spark, path,
      Seq(("n1", "fresh appended text")).toDF("doc_id", "text"), "doc_id", "text")
    assert(InvertedIndex.fetchDocs(spark, path, Seq("n1").toDF("id"))
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("n1", "fresh appended text")))
    // an index that does not store text fails fast instead of
    // returning an empty frame that looks like "no such ids"
    val bare = tmp("docstorebare")
    InvertedIndex.build(d, "doc_id", "text", bare, nBuckets = 8, nDocBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.fetchDocs(spark, bare, Seq("3").toDF("id")) }
    assert(e.getMessage.contains("storeText"))
  }

  test("delete replay converges: re-delete of tombstoned ids is a full no-op") {
    val path = tmp("delreplay")
    InvertedIndex.build(docs.filter(col("doc_id") < 300), "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4, storeText = true)
    InvertedIndex.delete(spark, path, Seq("1", "2", "3"))
    val st1 = InvertedIndex.readStats(spark, path)
    val tomb1 = InvertedIndex.tombstoneCount(spark, path)
    // replaying the SAME delete (a crashed caller's retry) must not
    // double-decrement stats or duplicate tombstone rows
    InvertedIndex.delete(spark, path, Seq("1", "2", "3"))
    assert(InvertedIndex.readStats(spark, path) == st1)
    assert(InvertedIndex.tombstoneCount(spark, path) == tomb1)
  }

  test("compact sweeps doc-stats residue of a delete that crashed before its rewrite") {
    val path = tmp("delresidue")
    val d = docs.filter(col("doc_id") < 300)
    InvertedIndex.build(d, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4,
      storeText = true)
    // snapshot doc 5's doc-stats row, delete it, then put the row BACK
    // into its dbucket dir — exactly the state a crash between the
    // tombstone append and the doc-stats rewrite leaves behind
    val row5 = spark.read.parquet(s"$path/docstats")
      .filter(col("id") === "5").drop("dbucket").localCheckpoint(true)
    val bucket5 = spark.read.parquet(s"$path/docstats")
      .filter(col("id") === "5")
      .select(col("dbucket")).collect()(0).getInt(0)
    InvertedIndex.delete(spark, path, Seq("5"))
    val stAfterDelete = InvertedIndex.readStats(spark, path)
    row5.coalesce(1).write.mode("append").parquet(s"$path/docstats/dbucket=$bucket5")
    // residue visible nowhere user-facing: the fetch anti-joins tombstones
    assert(InvertedIndex.fetchDocs(spark, path, Seq("5").toDF("id")).isEmpty)
    // compact physically sweeps it and never touches the stats
    InvertedIndex.compact(spark, path)
    assert(spark.read.parquet(s"$path/docstats").filter(col("id") === "5").isEmpty)
    assert(InvertedIndex.readStats(spark, path) == stAfterDelete)
    assert(InvertedIndex.tombstoneCount(spark, path) == 0L)
    // and the id is re-appendable after the full compact, as always
    InvertedIndex.append(spark, path,
      Seq(("5", "replacement text")).toDF("doc_id", "text"), "doc_id", "text")
    assert(InvertedIndex.fetchDocs(spark, path, Seq("5").toDF("id"))
      .collect()(0).getString(2) == "replacement text")
  }

  test("snippetsMulti: overlapping windows merge, top-M by start, offsets exact") {
    val path = tmp("snipmulti")
    val corpus = Seq(
      ("d0", "a spark join b spark join c d e f g spark join x"),
      ("d1", "nothing to see here"))
      .toDF("doc_id", "text")
    InvertedIndex.build(corpus, "doc_id", "text", path, nBuckets = 4,
      nDocBuckets = 2, storeText = true)
    val q = Seq(("q0", Seq("spark", "join"))).toDF("qid", "phrase")
    // offsets 1, 4, 11; window=1, qlen=2 → intervals [0,3] [3,6] [10,13]:
    // the first two OVERLAP → one merged [0,6] window of 2 hits; the
    // third stands alone
    val got = InvertedIndex.snippetsMulti(spark, path, q, "qid", "phrase",
        window = 1, maxPerDoc = 3)
      .orderBy(col("id"), col("snip_no"))
      .collect().map(r => (r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    assert(got.toSeq == Seq(
      ("d0", 1, 2L, 0L, 6L, "a spark join b spark join c"),
      ("d0", 2, 1L, 10L, 13L, "g spark join x")))
    // maxPerDoc truncates by start order
    assert(InvertedIndex.snippetsMulti(spark, path, q, "qid", "phrase",
      window = 1, maxPerDoc = 1).count() == 1L)
    // the doc-store snippets overload matches the corpus-frame one
    val viaStore = InvertedIndex.snippets(spark, path, q, "qid", "phrase", 3)
      .orderBy(col("id")).collect().toSeq
    val viaCorpus = InvertedIndex.snippets(spark, path, corpus, "doc_id", "text",
        q, "qid", "phrase", window = 3)
      .orderBy(col("id")).collect().toSeq
    assert(viaStore == viaCorpus)
  }

  test("sloppy proximity: slop=0 is adjacency; slop widens ordered matches only") {
    val path = tmp("slop")
    val corpus = Seq(
      ("adj", "spark join x x x x"),   // adjacent pair
      ("gap1", "spark x join x x x"),  // one intervening token
      ("gap2", "spark x x join x x"),  // two intervening tokens
      ("rev", "join x spark x x x"))   // wrong order — never a pair
      .toDF("doc_id", "text")
    InvertedIndex.build(corpus, "doc_id", "text", path, nBuckets = 4, nDocBuckets = 2)
    def pairs(slop: Int): Map[String, Long] =
      InvertedIndex.bm25ProxTopK(spark, path, Seq("spark", "join"), k = 10,
          slop = slop)
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(pairs(0) == Map("adj" -> 1L, "gap1" -> 0L, "gap2" -> 0L, "rev" -> 0L))
    assert(pairs(1) == Map("adj" -> 1L, "gap1" -> 1L, "gap2" -> 0L, "rev" -> 0L))
    assert(pairs(2) == Map("adj" -> 1L, "gap1" -> 1L, "gap2" -> 1L, "rev" -> 0L))
    // the bm25 part is identical across slops (only the boost moves)
    def bm25s(slop: Int): Map[String, Double] =
      InvertedIndex.bm25ProxTopK(spark, path, Seq("spark", "join"), k = 10,
          slop = slop)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(bm25s(0) == bm25s(2))
  }

  test("boolean BM25 phrase clause gates candidates without changing scores") {
    val path = cachedFullIdx
    val base = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq("spark"), should = Seq("vector", "join"),
        mustNot = Seq("slow"), k = 500)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val phrased = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq("spark"), should = Seq("vector", "join"),
        mustNot = Seq("slow"), k = 500,
        mustPhrases = Seq(Seq("spark", "join")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(phrased.nonEmpty && phrased.size < base.size)
    // survivors: subset of the termwise result, scores unchanged
    phrased.foreach { case (id, s) => assert(base(id) == s) }
    // exactly the docs with a consecutive match survive
    val withPhrase = InvertedIndex.phraseTopK(spark, path,
        Seq("spark", "join"), k = 100000)
      .collect().map(_.getString(0)).toSet
    assert(phrased.keySet == base.keySet.intersect(withPhrase))
  }

  test("BM25F: per-field indexes agree with the corpus scan score for score") {
    val d = docs.filter(col("doc_id") < 400)
      .withColumn("title", array_join(slice(split(col("text"), " "), 1, 8), " "))
    val bodyIdx = tmp("f_body"); val titleIdx = tmp("f_title")
    InvertedIndex.build(d, "doc_id", "text", bodyIdx, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(d, "doc_id", "title", titleIdx, nBuckets = 8, nDocBuckets = 4)
    val viaIdx = InvertedIndex.bm25fTopK(spark,
        Seq((titleIdx, 2.0, 0.6), (bodyIdx, 1.0, 0.75)), terms, k = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val viaScan = TextAnalysis.bm25fTopK(d, "doc_id",
        Seq(("title", 2.0, 0.6), ("text", 1.0, 0.75)), terms, k = 10)
      .collect().map(r => (r.getLong(0).toString, r.getDouble(1))).toSeq
    assert(viaIdx.map(_._1) == viaScan.map(_._1))
    // both quantize identically — scores agree exactly, not within ulp
    viaIdx.zip(viaScan).foreach { case ((_, a), (_, b)) => assert(a == b) }
    // the boost matters: title-heavy scoring differs from plain BM25
    val plain = key(InvertedIndex.bm25TopK(spark, bodyIdx, terms, k = 10))
    assert(viaIdx.map(_._2) != plain.map(_._2))
  }

  test("ws analyzer: a space-containing query term splits into its words (pinned contract)") {
    val path = cachedFullIdx
    assert(key(InvertedIndex.bm25TopK(spark, path, Seq("spark join"), k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, path, Seq("spark", "join"), k = 10)))
  }

  test("tombstone hard cap forces a full compact when thin deletes defeat the fraction gate") {
    import scala.jdk.CollectionConverters._
    val path = tmp("hardcap")
    InvertedIndex.build(docs.filter(col("doc_id") < 500), "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4)
    val watch = java.nio.file.Files.createTempDirectory("hardcap_watch")
    def stage(name: String, ids: Seq[Long], mtime: Long): Unit = {
      val staging = java.nio.file.Files.createTempDirectory(s"hardcap_$name")
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = java.nio.file.Files.list(staging).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = watch.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    stage("b1", (0L until 10L).toSeq, t0)
    stage("b2", (10L until 20L).toSeq, t0 + 5000)
    val schema = spark.read.parquet(watch.toString).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(watch.toString)
    // fraction gate so strict nothing ever rewrites incrementally, and
    // a ratchet threshold the 20 deletes never reach — only the hard
    // cap (15) can fire, and it must fire as a FULL compact
    val q = graft.streaming.StreamingOps.tombstoneStream(stream, "id",
      invPath = Some(path), invCompactTombstones = 1000L,
      invCompactMinTombFrac = 0.99, invCompactHardCap = 15L)
    try q.processAllAvailable() finally q.stop()
    assert(InvertedIndex.tombstoneCount(spark, path) == 0L)
    val st = InvertedIndex.readStats(spark, path)
    assert(st.nDocs == 480L)
    val top = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)).map(_._1)
    assert((0L until 20L).map(_.toString).forall(id => !top.contains(id)))
  }

  test("delete crash between tombstone append and stats write reconciles from the tombstone rows") {
    val path = tmp("statscrash"); val oracle = tmp("statscrashref")
    val d = docs.filter(col("doc_id") < 300)
    InvertedIndex.build(d, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path, Seq("1", "2", "3"))
    // simulate the crash: the tombstones landed (step 1) but the
    // decremented stats version never did (step 2) — remove the newest
    // version, leaving tombstone rows whose sv is AHEAD of the sidecar
    val statsDir = java.nio.file.Paths.get(s"$path/_stats")
    val newest = java.nio.file.Files.list(statsDir).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(newest)
      .asScala.toSeq.sortBy(_.getFileName.toString)
    java.nio.file.Files.delete(names.last)
    // the stale sidecar still counts the deleted docs...
    assert(InvertedIndex.readStats(spark, path).nDocs == 300L)
    // ...until the next mutation entry point replays the pending
    // decrement idempotently from the tombstones' (dl, sv) columns
    InvertedIndex.delete(spark, path, Seq("4"))
    InvertedIndex.build(d.filter(!col("doc_id").isin(1, 2, 3, 4)), "doc_id",
      "text", oracle, nBuckets = 8, nDocBuckets = 4)
    assert(InvertedIndex.readStats(spark, path).nDocs == 296L)
    assert(InvertedIndex.readStats(spark, path).sumDl ==
      InvertedIndex.readStats(spark, oracle).sumDl)
    assert(InvertedIndex.readStats(spark, path).corpusFp ==
      InvertedIndex.readStats(spark, oracle).corpusFp)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) ==
      key(InvertedIndex.bm25TopK(spark, oracle, terms, k = 10)))
    // a crash healed by COMPACT instead converges the same way
    val path2 = tmp("statscrash2")
    InvertedIndex.build(d, "doc_id", "text", path2, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path2, Seq("1", "2", "3", "4"))
    val names2 = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$path2/_stats"))
          .iterator())
      .asScala.toSeq.sortBy(_.getFileName.toString)
    java.nio.file.Files.delete(names2.last)
    InvertedIndex.compact(spark, path2)
    assert(InvertedIndex.readStats(spark, path2).nDocs == 296L)
    assert(InvertedIndex.readStats(spark, path2).corpusFp ==
      InvertedIndex.readStats(spark, oracle).corpusFp)
  }

  test("deleteFields keeps a BM25F group coherent; a one-field delete fails fast and heals") {
    val title = tmp("bmfdelT"); val body = tmp("bmfdelB")
    val d = docs.filter(col("doc_id") < 200)
    val withTitle = d.withColumn("title",
      array_join(slice(split(col("text"), " "), 1, 8), " "))
    InvertedIndex.build(withTitle, "doc_id", "title", title, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(d, "doc_id", "text", body, nBuckets = 8, nDocBuckets = 4)
    val fields = Seq((title, 2.0, 0.6), (body, 1.0, 0.75))
    // a delete applied to ONE field index (a crashed deleteFields, or a
    // caller bypassing the lifecycle) desyncs the group. Unequal-count
    // desync trips the n_docs check:
    InvertedIndex.delete(spark, body, Seq("0", "1", "2"))
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.bm25fTopK(spark, fields, terms, k = 5)
    }.getMessage.contains("equal n_docs"))
    // ...and COINCIDENTALLY-EQUAL counts over different documents —
    // the case counts alone can never catch — trip the live-id
    // fingerprint check
    InvertedIndex.delete(spark, title, Seq("3", "4", "5"))
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.bm25fTopK(spark, fields, terms, k = 5)
    }.getMessage.contains("fingerprints differ"))
    // re-running the FULL group delete (both id sets, every field)
    // heals: already-applied deletes no-op, the missed ones catch up
    InvertedIndex.deleteFields(spark, Seq(title, body),
      Seq("0", "1", "2", "3", "4", "5"))
    val got = key(InvertedIndex.bm25fTopK(spark, fields, terms, k = 5))
    val titleRef = tmp("bmfdelTref"); val bodyRef = tmp("bmfdelBref")
    val surv = d.filter(col("doc_id") >= 6)
    InvertedIndex.build(surv.withColumn("title",
        array_join(slice(split(col("text"), " "), 1, 8), " ")),
      "doc_id", "title", titleRef, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(surv, "doc_id", "text", bodyRef, nBuckets = 8, nDocBuckets = 4)
    assert(got == key(InvertedIndex.bm25fTopK(spark,
      Seq((titleRef, 2.0, 0.6), (bodyRef, 1.0, 0.75)), terms, k = 5)))
  }

  test("appendFields grows a BM25F group coherently; a half-applied batch heals by replay") {
    val title = tmp("bmfappT"); val body = tmp("bmfappB")
    val d = docs.filter(col("doc_id") < 300)
    def withTitle(df: org.apache.spark.sql.DataFrame) = df.withColumn("title",
      array_join(slice(split(col("text"), " "), 1, 8), " "))
    val base = d.filter(col("doc_id") < 250)
    val rest = withTitle(d.filter(col("doc_id") >= 250))
    InvertedIndex.build(withTitle(base), "doc_id", "title", title,
      nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(base, "doc_id", "text", body, nBuckets = 8, nDocBuckets = 4)
    val fields = Seq((title, 2.0, 0.6), (body, 1.0, 0.75))
    // simulate the crash: the group batch lands in the TITLE index only
    InvertedIndex.appendFields(spark, Seq((title, "title")), rest, "doc_id",
      batchId = 7L)
    // the desynced group fails fast at the fingerprint check (counts
    // differ here too, but the fingerprint is what catches equal-count
    // desyncs — either way no incoherent score can escape)
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.bm25fTopK(spark, fields, terms, k = 5)
    }.getMessage.contains("document set"))
    // replaying the FULL group with the SAME batchId converges: the
    // title index no-ops on its applied marker (no double-insert), the
    // body index catches up
    InvertedIndex.appendFields(spark,
      Seq((title, "title"), (body, "text")), rest, "doc_id", batchId = 7L)
    val got = key(InvertedIndex.bm25fTopK(spark, fields, terms, k = 5))
    val titleRef = tmp("bmfappTref"); val bodyRef = tmp("bmfappBref")
    InvertedIndex.build(withTitle(d), "doc_id", "title", titleRef,
      nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(d, "doc_id", "text", bodyRef, nBuckets = 8, nDocBuckets = 4)
    assert(got == key(InvertedIndex.bm25fTopK(spark,
      Seq((titleRef, 2.0, 0.6), (bodyRef, 1.0, 0.75)), terms, k = 5)))
    assert(InvertedIndex.readStats(spark, title).corpusFp ==
      InvertedIndex.readStats(spark, titleRef).corpusFp)
  }

  test("bm25fTopKBatch equals per-query bm25fTopK, rank for rank") {
    val title = tmp("bmfbT"); val body = tmp("bmfbB")
    val d = docs.filter(col("doc_id") < 300)
    InvertedIndex.build(d.withColumn("title",
        array_join(slice(split(col("text"), " "), 1, 8), " ")),
      "doc_id", "title", title, nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.build(d, "doc_id", "text", body, nBuckets = 8, nDocBuckets = 4)
    val fields = Seq((title, 2.0, 0.6), (body, 1.0, 0.75))
    val qs = Seq("q0" -> Seq("spark", "vector", "join"), "q1" -> Seq("table", "scan"),
      "q2" -> Seq("zzz_absent_term"))
    val batch = InvertedIndex.bm25fTopKBatch(spark, fields,
        qs.toDF("qid", "terms"), "qid", "terms", k = 5)
      .orderBy(col("qid"), col("rank"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val single = qs.flatMap { case (qid, ts) =>
      InvertedIndex.bm25fTopK(spark, fields, ts, k = 5).collect()
        .zipWithIndex.map { case (r, i) => (qid, i + 1, r.getString(0), r.getDouble(1)) }
    }
    assert(batch.toSeq == single)
  }

  test("addDocStore retrofits the doc store: postings byte-identical, fetchDocs serves") {
    val path = tmp("backfill")
    val d = docs.filter(col("doc_id") < 200)
    InvertedIndex.build(d, "doc_id", "text", path, nBuckets = 8, nDocBuckets = 4)
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.fetchDocs(spark, path, Seq("5").toDF("id"))
    }.getMessage.contains("does not store document text"))
    val postingsBefore = listFiles(s"$path/postings")
    val probeBefore = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10))
    InvertedIndex.addDocStore(spark, path, d, "doc_id", "text")
    // postings untouched to the byte (path, length, mtime all equal)
    assert(listFiles(s"$path/postings") == postingsBefore)
    assert(InvertedIndex.readStats(spark, path).storesText)
    val got = InvertedIndex.fetchDocs(spark, path, Seq("5", "7").toDF("id"))
      .orderBy(col("id")).collect().map(r => (r.getString(0), r.getString(2)))
    val want = d.filter(col("doc_id").isin(5, 7))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.get(0).toString, r.getString(r.fieldIndex("text"))))
    assert(got.toSeq == want.toSeq)
    assert(key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)) == probeBefore)
    // a corpus missing a live doc fails fast BEFORE any rewrite
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.addDocStore(spark, path, d.filter(col("doc_id") =!= 5),
        "doc_id", "text")
    }.getMessage.contains("missing text"))
  }

  test("tombstone broadcast hint drops past the size bound; the anti-join stays exact") {
    val path = tmp("tombsize")
    InvertedIndex.build(docs.filter(col("doc_id") < 300), "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.delete(spark, path, (0L until 20L).map(_.toString))
    assert(InvertedIndex.tombstoneBytes(spark, path) > 0L)
    val idsDf = Seq("x").toDF("id")
    // under the bound (default 64 MiB): hinted
    assert(InvertedIndex.maybeBroadcastTombs(spark, path, idsDf)
      .queryExecution.logical.toString.contains("UnresolvedHint"))
    spark.conf.set("spark.graft.inv.tombBroadcastMaxBytes", "0")
    try {
      // past the bound: NO broadcast hint — AQE owns the strategy
      assert(!InvertedIndex.maybeBroadcastTombs(spark, path, idsDf)
        .queryExecution.logical.toString.contains("UnresolvedHint"))
      // and the probe is exact either way
      val top = key(InvertedIndex.bm25TopK(spark, path, terms, k = 10)).map(_._1)
      assert((0L until 20L).map(_.toString).forall(id => !top.contains(id)))
    } finally spark.conf.unset("spark.graft.inv.tombBroadcastMaxBytes")
  }

  test("minimum_should_match gates on distinct matched should terms; scores unchanged") {
    val path = tmp("msm")
    val corpus = Seq(
      ("d0", "spark vector join extra words"),
      ("d1", "spark vector only here"),
      ("d2", "spark alone in this doc"),
      ("d3", "vector join but no must term")).toDF("doc_id", "text")
    InvertedIndex.build(corpus, "doc_id", "text", path, nBuckets = 4, nDocBuckets = 2)
    def ids(msm: Int) = InvertedIndex.bm25BooleanTopK(spark, path,
        must = Seq("spark"), should = Seq("vector", "join"), k = 10,
        minShouldMatch = msm)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val m0 = ids(0); val m1 = ids(1); val m2 = ids(2)
    assert(m0.keySet == Set("d0", "d1", "d2"))
    assert(m1.keySet == Set("d0", "d1"))
    assert(m2.keySet == Set("d0"))
    // the gate only narrows candidates — surviving scores are the
    // msm=0 probe's exactly
    assert(m1.forall { case (id, s) => m0(id) == s })
    assert(m2.forall { case (id, s) => m0(id) == s })
    // msm past the distinct analyzed should set can never match: fail fast
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.bm25BooleanTopK(spark, path, must = Seq("spark"),
        should = Seq("vector", "join"), k = 10, minShouldMatch = 3)
    }.getMessage.contains("minShouldMatch"))
  }

  test("termDfs fast path: term stats replace the postings count, exact under tombstone debt and across compact") {
    val path = tmp("tstats")
    val d = docs.filter(col("doc_id") < 300)
    InvertedIndex.build(d.filter(col("doc_id") < 250), "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4)
    InvertedIndex.append(spark, path, d.filter(col("doc_id") >= 250),
      "doc_id", "text")
    val tq = Seq("spark", "vector", "join", "zzz_absent").toDF("tok")
    def want(corpus: org.apache.spark.sql.DataFrame) =
      Seq("spark", "vector", "join").map { t =>
        (t, corpus.filter(array_contains(split(col("text"), " "), t)).count())
      }.filter(_._2 > 0L).sortBy(_._1)
    def got() = InvertedIndex.termDfs(spark, path, tq, "tok")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    // fast path: no tombstones -> the plan reads ONLY the vocab-sized
    // term stats (build row + append delta summed), never the postings
    val fast = got()
    assert(!fast.queryExecution.executedPlan.toString.contains("postings"))
    assert(rows(fast) == want(d))
    // tombstones present -> STILL the vocab-sized fast path (the
    // delete appended its generation's negative deltas), exact live.
    // The toy 8-bucket index makes any real delete corpus-spread, so
    // raise the sync gate for this assertion (TermDeltaSpec pins the
    // default gate's deferral behavior separately).
    spark.conf.set("spark.graft.inv.tsDeltaSyncMaxFrac", "1.0")
    try {
      InvertedIndex.delete(spark, path, (0L until 25L).map(_.toString))
      val surv = d.filter(col("doc_id") >= 25)
      val fb = got()
      assert(!fb.queryExecution.executedPlan.toString.contains("postings"))
      assert(rows(fb) == want(surv))
    } finally spark.conf.unset("spark.graft.inv.tsDeltaSyncMaxFrac")
    val surv = d.filter(col("doc_id") >= 25)
    // full compact clears the debt AND recomputes the rewritten
    // buckets' stats -> fast path again, exact over the survivors
    InvertedIndex.compact(spark, path)
    val fast2 = got()
    assert(!fast2.queryExecution.executedPlan.toString.contains("postings"))
    assert(rows(fast2) == want(surv))
    // and the MLT consumer serves identical terms through either path
    val seed = Seq("30").toDF("id")
    InvertedIndex.build(surv, "doc_id", "text", tmp("tstatsref"),
      nBuckets = 8, nDocBuckets = 4)
    val mltFast = TextAnalysis.mltQueriesIdx(spark, path, surv, "doc_id",
        "text", seed, nTerms = 5)
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toSeq
    assert(mltFast == TextAnalysis.mltQueries(surv, "doc_id", "text", seed, 5)
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toSeq)
  }

  test("highlightTerms: occurrence windows from postings merge across terms, render from the doc store") {
    val path = tmp("hl")
    val corpus = Seq(
      // spark@1 vector@2 -> merged window [0,4] (w=2, touching);
      // join@9 alone -> second window [7,11]
      ("d0", "w0 spark vector w3 w4 w5 w6 w7 w8 join w10 w11"),
      // edge clamp: spark@0 -> window [0,2]; maxPerDoc bound: three
      // far-apart islands, only the first 2 render
      ("d1", "spark a b c d e f vector g h i j k l join m n"),
      ("d2", "no query words here at all")).toDF("doc_id", "text")
    InvertedIndex.build(corpus, "doc_id", "text", path,
      nBuckets = 4, nDocBuckets = 2, storeText = true)
    val got = InvertedIndex.highlightTerms(spark, path,
        Seq("d0", "d1", "d2", "dAbsent").toDF("id"),
        Seq("spark", "vector", "join"), window = 2, maxPerDoc = 2)
      .orderBy(col("id"), col("snip_no"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getString(6)))
    assert(got.toSeq == Seq(
      ("d0", 1, 2L, "spark,vector", 0L, 4L, "w0 spark vector w3 w4"),
      ("d0", 2, 1L, "join", 7L, 11L, "w7 w8 join w10 w11"),
      ("d1", 1, 1L, "spark", 0L, 2L, "spark a b"),
      ("d1", 2, 1L, "vector", 5L, 9L, "e f vector g h")))
    // no-match docs and unknown ids are simply absent; maxPerDoc
    // dropped d1's third island (join@14)
    assert(!got.exists(_._1 == "d2"))
    // window unclamped on the right like snippetsMulti: a hit at the
    // last token emits win_end past the doc edge, slice clamps
    val tail = InvertedIndex.highlightTerms(spark, path,
        Seq("d1").toDF("id"), Seq("m", "n"), window = 2, maxPerDoc = 3)
      .collect().map(r => (r.getLong(4), r.getLong(5), r.getString(6)))
    assert(tail.toSeq == Seq((13L, 18L, "l join m n")))
  }

  test("highlightTermsBatch equals per-query highlightTerms, pair for pair") {
    val path = tmp("hlb")
    val d = docs.filter(col("doc_id") < 200)
    InvertedIndex.build(d, "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4, storeText = true)
    val qs = Seq("q0" -> Seq("spark", "vector", "join"), "q1" -> Seq("table", "scan"))
    val perQidDocs = Map(
      "q0" -> Seq("3", "7", "11", "999999"), // absent id drops silently
      "q1" -> Seq("3", "5"))
    val pairs = perQidDocs.toSeq.flatMap { case (q, ids) => ids.map(q -> _) }
      .toDF("qid", "id")
    def row(r: org.apache.spark.sql.Row) =
      (r.getString(1), r.getInt(2), r.getLong(3), r.getString(4),
        r.getLong(5), r.getLong(6), r.getString(7))
    val batch = InvertedIndex.highlightTermsBatch(spark, path,
        qs.toDF("qid", "terms"), "qid", "terms", pairs, "qid", "id",
        window = 2, maxPerDoc = 2)
      .orderBy(col("qid"), col("id"), col("snip_no"))
      .collect().map(r => (r.getString(0), row(r))).toSeq
    val single = qs.flatMap { case (qid, terms) =>
      InvertedIndex.highlightTerms(spark, path,
          perQidDocs(qid).toDF("id"), terms, window = 2, maxPerDoc = 2)
        .orderBy(col("id"), col("snip_no"))
        .collect().map { r =>
          (qid, (r.getString(0), r.getInt(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getLong(5), r.getString(6)))
        }
    }.sortBy(p => (p._1, p._2._1, p._2._2))
    assert(batch == single)
    assert(batch.nonEmpty, "fixture must actually produce highlights")
  }

  test("boolean phrase clause shares the scoring probe's read: same results, no second postings scan") {
    val path = tmp("boolshare")
    InvertedIndex.build(docs.filter(col("doc_id") < 400), "doc_id", "text", path,
      nBuckets = 8, nDocBuckets = 4)
    val res = InvertedIndex.bm25BooleanTopK(spark, path,
      must = Seq("spark"), should = Seq("vector"), mustNot = Seq("slow"),
      k = 10, mustPhrases = Seq(Seq("spark", "join"), Seq("table", "scan")))
    // the phrase gate is a pure semi-join on the plain boolean probe:
    // results equal composing the no-phrase probe with an external
    // containsPhrases both-phrases gate (the r14 formulation)
    val plain = InvertedIndex.bm25BooleanTopK(spark, path,
      must = Seq("spark"), should = Seq("vector"), mustNot = Seq("slow"), k = 1000)
    val q = Seq(("p0", Seq("spark", "join")), ("p1", Seq("table", "scan")))
      .toDF("qid", "phrase")
    val gate = InvertedIndex.containsPhrases(spark, path, q, "qid", "phrase")
      .groupBy(col("id")).agg(countDistinct(col("qid")).as("np"))
      .filter(col("np") === 2L).select(col("id"))
    val want = plain.join(gate, Seq("id"), "left_semi")
      .orderBy(col("bm25").desc, col("id")).limit(10)
    assert(key(res) == key(want))
    assert(key(res).nonEmpty, "fixture must actually exercise the phrase gate")
    // ONE shared pruned read: the phrase clause consumes the scoring
    // probe's checkpoint, so the final plan scans NO postings parquet
    // at all (the one real scan happened materializing the checkpoint)
    val planScans = "file:[^\\s,\\]]*postings".r
      .findAllIn(res.queryExecution.executedPlan.toString).size
    assert(planScans == 0,
      s"expected the shared checkpoint to remove postings scans, found $planScans")
  }

  private lazy val cachedFullIdx: String = {
    val p = tmp("fullref")
    InvertedIndex.build(docs, "doc_id", "text", p, nBuckets = 8, nDocBuckets = 4)
    p
  }

  private def listFiles(root: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Set.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet"))
        b += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    b.result()
  }
}
