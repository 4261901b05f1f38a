package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted term-partitioned inverted index — the serving-scale path
  * for lexical (BM25) retrieval. [[TextAnalysis.bm25TopK]] scans the
  * corpus per query batch, which is the right shape for batch scoring;
  * at 100 TB a keyword lookup must instead read only the query terms'
  * posting lists. This index is the same discipline as the persisted
  * ANN families ([[Ann.ivfSave]] etc.): a partitioned parquet layout
  * whose partition column prunes at file-listing time, mutations
  * bounded by the touched directories, and an explicit compaction op
  * that repays deferred debt.
  *
  * Layout at `path`:
  *   - `postings/bucket=N/` — (term, id, tf, dl): one row per distinct
  *     (term, doc), partitioned by term-hash bucket so a probe lists
  *     only the buckets its terms hash into. `dl` (doc length) is
  *     denormalized onto each posting so scoring never joins a
  *     corpus-sized doc table.
  *   - `docstats/dbucket=N/` — (id, dl, tbuckets), partitioned by
  *     id-hash bucket: the THIN exact-stats ledger deletes read (and
  *     rewrite, touched buckets only) so the sidecar's N and Σdl stay
  *     exact. Deliberately stores nothing bulky — the ledger rewrite
  *     on every delete must cost doc-count rows, not document bytes.
  *   - `docstore/dbucket=N/` — (id, dl[, text][, stored cols...]),
  *     same id-hash bucketing, present iff `storeText`/`storeCols`:
  *     the DOC STORE behind [[fetchDocs]]/snippets/MLT and the Lucene
  *     doc-values analog behind [[facetCountsStored]]/[[sortByStored]].
  *     Deletes never rewrite it (tombstones hide rows, like the
  *     postings); when [[compact]] retires tombstones it lists the ids
  *     in `docstore/_dead/` (readers anti-join both sets), and the
  *     physical rewrite runs only once the dead fraction passes the
  *     sweep gate ([[sweepDocStore]] — Lucene's deleted-docs-until-
  *     merge). Splitting the store from the ledger is what keeps
  *     delete cost independent of the stored payload.
  *   - `tombstones/` — (id) append-only: deletes are Lucene-style
  *     logical tombstones (a doc's terms spread across ~all posting
  *     buckets, so eager physical deletion would rewrite the whole
  *     layout); probes anti-join the (bounded, broadcast) tombstone
  *     set, [[compact]] drops the rows physically and clears it.
  *   - `_stats/v<NNN>.json` — {n_buckets, n_doc_buckets, n_docs,
  *     sum_dl}: corpus stats as exact longs (avgdl = sum_dl/n_docs
  *     derives), updated arithmetically on append/delete — never
  *     recomputed by scan. Each update writes a NEW complete version
  *     (probes read the highest; [[compact]] prunes the history):
  *     append-only stats are what makes a streamed, ledger-wrapped
  *     ingest batch fully roll-backable — [[graft.streaming.BatchLedger]]
  *     undoes a half-landed batch by deleting the files it added, which
  *     an in-place sidecar rewrite would defeat.
  *
  * Determinism: per-posting BM25 term scores are quantized to 1e-9
  * before the per-doc sum (round(x·1e9) as long), so the grouped sum is
  * exact integer arithmetic — order-independent across partitionings
  * and engines, the same trick as [[TextAnalysis.lmScore]].
  */
object InvertedIndex {

  /** Corpus stats sidecar. `analyzer` pins the tokenization the index
    * was built with (`ws` | `fold`, see [[TextAnalysis.tokens]]) so
    * append batches and query terms pass through the SAME analyzer —
    * index-time/query-time disagreement is silent zero recall, the one
    * failure mode an index must make impossible. `storesText` records
    * whether the `docstore/` layout carries each document's raw text —
    * the id-bucketed DOC STORE that makes seed/snippet text fetch a
    * point lookup ([[fetchDocs]]) instead of a corpus scan.
    * `corpusFp` is an order-independent fingerprint of the LIVE id set
    * (bit-XOR of xxhash64(id) over live docs — updatable arithmetically
    * on append/delete, invariant under compaction), so [[bm25fTopK]]
    * can verify that per-field indexes really cover the same documents
    * instead of trusting coincidentally-equal counts; None on indexes
    * built before the field existed (the check then degrades to the
    * documented equal-n_docs form). */
  final case class InvStats(nBuckets: Int, nDocBuckets: Int, nDocs: Long, sumDl: Long,
      analyzer: String = "ws", storesText: Boolean = false,
      corpusFp: Option[Long] = None, storeCols: Seq[String] = Nil)

  /** Column names the doc-stats layout owns; stored metadata columns
    * may not collide with them. */
  private val ReservedDocStatsCols =
    Set("id", "dl", "tbuckets", "text", "dbucket", "sv")

  private def termBucket(nBuckets: Int) =
    pmod(xxhash64(col("term")), lit(nBuckets.toLong))
  private def docBucket(nDocBuckets: Int) =
    pmod(xxhash64(col("id")), lit(nDocBuckets.toLong))

  /** (term, id, tf, pos, dl, bucket) posting rows for a document frame
    * — POSITIONAL postings (`pos` = sorted 0-based token offsets of the
    * term in the doc, the Lucene shape that enables [[phraseTopK]]).
    * The posexplode → groupBy(term, id) is the one data-sized shuffle
    * of an index build (map-side combinable; boilerplate terms stay one
    * row per doc, so no key carries more than the corpus' doc count).
    * BM25 probes never select `pos`, so parquet column pruning keeps
    * the positions free for scoring reads. Tokenization is
    * [[TextAnalysis.tokens]] — the ONE analyzer shared with the
    * corpus-scan BM25, so a term that matches there matches here. */
  private def postingsOf(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, analyzer: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol), analyzer)
    df.select(col(idCol).cast(StringType).as("id"),
        size(toks).cast(LongType).as("dl"), posexplode(toks).as(Seq("pos", "term")))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("pos"))
      .withColumn("bucket", termBucket(nBuckets))
  }

  /** Per-document rows: (id, dl, tbuckets[, text][, stored cols...],
    * dbucket) — the SOURCE frame both id-bucketed layouts project from.
    * `tbuckets` — the sorted distinct TERM buckets the doc's tokens
    * hash into, computed in-row at index time — is what bounds a later
    * [[compact]]'s discovery to tombstone-touched buckets: [[delete]]
    * copies it onto the tombstone row, so compaction never scans the
    * postings to learn where a dead doc's terms live. With `storeText`
    * the RAW text rides along as one more column, with `storeCols`
    * the stored metadata (Lucene doc values, STRING-typed) — both land
    * ONLY in the `docstore/` layout ([[storeProjection]]); the thin
    * `docstats/` ledger ([[ledgerProjection]]) never carries them, so
    * a delete's ledger rewrite costs doc-count rows, not bytes. */
  private def docStatsOf(df: DataFrame, idCol: String, textCol: String,
      nDocBuckets: Int, nBuckets: Int, analyzer: String,
      storeText: Boolean, storeCols: Seq[String] = Nil): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol), analyzer)
    df.select(Seq(col(idCol).cast(StringType).as("id"),
        size(toks).cast(LongType).as("dl"),
        array_sort(array_distinct(transform(toks,
          t => pmod(xxhash64(t), lit(nBuckets.toLong)).cast(IntegerType))))
          .as("tbuckets")) ++
        (if (storeText) Seq(col(textCol).cast(StringType).as("text")) else Nil) ++
        storeCols.map(c => col(c).cast(StringType).as(c)): _*)
      .withColumn("dbucket", docBucket(nDocBuckets))
  }

  private def hasStore(st: InvStats): Boolean =
    st.storesText || st.storeCols.nonEmpty

  /** Layout-version guard: fail fast when the sidecar declares stored
    * fields but the `docstore/` root is absent — the on-disk shape of
    * an index built by the PRE-SPLIT code (text lived inside the
    * docstats ledger). Without this, [[fetchDocs]] silently serves an
    * EMPTY frame (probed dirs on the missing root find nothing) and
    * [[storedColumns]] throws an opaque path-not-found — both worse
    * than the truth: the index needs a rebuild or an [[addDocStore]]
    * migration. Empty indexes (nDocs = 0) are exempt — their readers
    * early-return and a just-created store may legitimately hold no
    * dirs yet. */
  private def requireStoreRoot(spark: SparkSession, path: String,
      st: InvStats): Unit = {
    if (hasStore(st) && st.nDocs > 0L) {
      require(statsFs(spark, path)
          .exists(new org.apache.hadoop.fs.Path(s"$path/docstore")),
        s"index at $path declares stored fields (stores_text=${st.storesText}" +
          (if (st.storeCols.isEmpty) ""
           else s", store_cols=${st.storeCols.mkString("[", ",", "]")}") +
          ") but has no docstore/ layout — it was built by a version " +
          "that kept text in the docstats ledger. Rebuild the index or " +
          "migrate it with addDocStore.")
    }
  }

  /** The thin ledger projection of [[docStatsOf]] rows. The doc store
    * persists the FULL row (repeating dl/tbuckets — parquet-pruned free
    * for every reader) so [[build]] can derive the ledger from the
    * just-written store with a column-pruned read instead of a second
    * corpus tokenization pass, and [[fetchDocs]] serves (id, dl, text)
    * from ONE layout. */
  private def ledgerProjection(rows: DataFrame): DataFrame =
    rows.select(col("id"), col("dl"), col("tbuckets"), col("dbucket"))

  private def statsDir(path: String) = s"$path/_stats"

  private def statsFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def statsVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(statsDir(path))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json"))
      .map(p => (p.getName.stripPrefix("v").stripSuffix(".json").toLong, p))
      .sortBy(_._1)
  }

  /** Escape a string for embedding in the hand-built stats JSON — a
    * quote or backslash in a stored-column name must not produce an
    * unparseable sidecar (which would brick every later readStats). */
  private def jsonStr(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeStats(spark: SparkSession, path: String, s: InvStats,
      version: Long): Unit =
    VectorStore.writeSidecar(spark, f"${statsDir(path)}/v$version%012d.json",
      s"""{"n_buckets": ${s.nBuckets}, "n_doc_buckets": ${s.nDocBuckets}, """ +
        s""""n_docs": ${s.nDocs}, "sum_dl": ${s.sumDl}, "analyzer": ${jsonStr(s.analyzer)}, """ +
        s""""stores_text": ${s.storesText}""" +
        s.corpusFp.map(fp => s""", "corpus_fp": $fp""").getOrElse("") +
        (if (s.storeCols.isEmpty) ""
         else s.storeCols.map(jsonStr)
           .mkString(""", "store_cols": [""", ", ", "]")) + "}")

  private def readStatsVersioned(spark: SparkSession, path: String): (InvStats, Long) = {
    val fs = statsFs(spark, path)
    val versions = statsVersions(fs, path)
    require(versions.nonEmpty, s"no stats versions under ${statsDir(path)} — not an index?")
    val (v, p) = versions.last
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    (InvStats(n.get("n_buckets").asInt(), n.get("n_doc_buckets").asInt(),
      n.get("n_docs").asLong(), n.get("sum_dl").asLong(),
      if (n.has("analyzer")) n.get("analyzer").asText() else "ws",
      n.has("stores_text") && n.get("stores_text").asBoolean(),
      if (n.has("corpus_fp")) Some(n.get("corpus_fp").asLong()) else None,
      if (!n.has("store_cols")) Nil
      else {
        val it = n.get("store_cols").elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }), v)
  }

  /** Read the current (highest-version) corpus stats. */
  def readStats(spark: SparkSession, path: String): InvStats =
    readStatsVersioned(spark, path)._1

  /** Build the index from a document frame. Exactly TWO corpus
    * tokenization passes — one for the postings, one projection for the
    * doc-stats ledger; the sidecar (N, Σdl) then aggregates the
    * just-written (id, dl) doc-stats table, which is doc-count-sized
    * with no text column, so at 100 TB the third full-corpus scan a
    * naive `df.agg` would pay never happens. */
  def build(df: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 16, nDocBuckets: Int = 16,
      analyzer: String = "ws", storeText: Boolean = false,
      storeCols: Seq[String] = Nil): Unit = {
    require(nBuckets > 0 && nDocBuckets > 0, "bucket counts must be positive")
    val clash = storeCols.filter(ReservedDocStatsCols.contains)
    require(clash.isEmpty,
      s"storeCols ${clash.mkString("[", ", ", "]")} collide with the " +
        s"doc-stats layout's own columns ($ReservedDocStatsCols)")
    val spark = df.sparkSession
    Ann.writeByPartition(postingsOf(df, idCol, textCol, nBuckets, analyzer),
      "bucket", nBuckets, "overwrite", s"$path/postings")
    val docRows = docStatsOf(df, idCol, textCol, nDocBuckets, nBuckets,
      analyzer, storeText, storeCols)
    val fs0 = statsFs(spark, path)
    if (storeText || storeCols.nonEmpty) {
      // ONE corpus pass lands the full rows in the doc store; the thin
      // ledger then derives from the just-written store with a
      // column-pruned read — never a second tokenization pass
      Ann.writeByPartition(docRows, "dbucket", nDocBuckets,
        "overwrite", s"$path/docstore")
      val storeHasDirs = fs0.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/docstore")).exists(_.isDirectory)
      Ann.writeByPartition(
        if (storeHasDirs)
          ledgerProjection(spark.read.parquet(s"$path/docstore"))
        else ledgerProjection(docRows),
        "dbucket", nDocBuckets, "overwrite", s"$path/docstats")
    } else {
      fs0.delete(new org.apache.hadoop.fs.Path(s"$path/docstore"), true)
      Ann.writeByPartition(docRows, "dbucket", nDocBuckets,
        "overwrite", s"$path/docstats")
    }
    val fs = statsFs(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    // a rebuild over a mid-swap crash must not leave `.tombstones.old`
    // behind — the first probe's heal would resurrect the OLD index's
    // tombstone set against the brand-new corpus
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.tombstones.old"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.tombstones.stage"), true)
    fs.delete(new org.apache.hadoop.fs.Path(statsDir(path)), true)
    // an empty corpus writes no dbucket dirs at all (only _SUCCESS) —
    // reading that back would fail schema inference, and the stats are
    // trivially zero
    val hasDocs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/docstats"))
      .exists(_.isDirectory)
    // TERM STATS — the vocab-sized (bucket, term, df) layout that makes
    // term-rarity lookups ([[termDfs]]' fast path) corpus-independent:
    // df on demand counts posting rows, which for a Zipf-common term
    // grows with the corpus, so MLT term selection over an 8M-doc index
    // was paying a postings-proportional count per call. Derived from
    // the just-written postings in a two-column pruned read ((term, id)
    // unique per layout, so df = row count; map-side combined to vocab
    // size) — never a third tokenization pass. Appends add DELTA rows
    // (readers sum), [[compact]] recomputes rewritten buckets, and the
    // fast path engages only while the tombstone set is empty — exactly
    // when physical postings = live postings.
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/termstats"), true)
    if (hasDocs) {
      Ann.writeByPartition(
        spark.read.parquet(s"$path/postings")
          .groupBy(col("bucket").cast(LongType).as("bucket"), col("term"))
          .agg(count(lit(1)).as("df")),
        "bucket", nBuckets, "overwrite", s"$path/termstats")
    }
    val (n, sdl, fp) = if (!hasDocs) (0L, 0L, 0L) else {
      val r = spark.read.parquet(s"$path/docstats")
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"), idXorAgg.as("x"))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
    }
    writeStats(spark, path,
      InvStats(nBuckets, nDocBuckets, n, sdl, analyzer, storeText, Some(fp),
        storeCols),
      version = 1L)
  }

  /** Order-independent live-id fingerprint aggregate over an `id`
    * column: bit-XOR of xxhash64(id). XOR is self-inverse, so appends
    * XOR a batch's fingerprint IN and deletes XOR the found ids' OUT —
    * exact long arithmetic, no recount ever needed. Coalesced so the
    * empty set fingerprints to 0. */
  private def idXorAgg: Column =
    coalesce(expr("bit_xor(xxhash64(id))"), lit(0L))

  /** Append NEW documents (ids disjoint from the corpus — append
    * maintenance, not upsert, same contract as [[Ann.ivfAppendSave]]).
    * Cost ∝ batch: postings land only in the term buckets the batch's
    * terms hash into, doc stats only in the batch ids' buckets, and the
    * sidecar update is exact long arithmetic on the batch's one-row
    * aggregate — nothing reads the existing corpus.
    *
    * A TOMBSTONED id may not be re-appended until [[compact]] has run:
    * the probe-side tombstone anti-join would hide the fresh doc and
    * the next compact would physically drop its postings while the
    * stats still count it — so the stage FAILS FAST on the clash
    * instead of silently diverging (enforced in [[stageAppend]]). */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (posts, ds, _) = stageAppend(spark, path, batch, idCol, textCol)
    applyStagedAppend(spark, path, posts, ds)
  }

  /** Stage an append WITHOUT landing any file: derive the batch's
    * posting and doc-stats frames (materialized via `localCheckpoint` —
    * staging must be deterministic under replay, so the batch's posting
    * rows must fit the executor cache tier, the same sizing contract as
    * [[MatrixStore]]; a microbatch is bounded by the trigger, never the
    * corpus) and the exact directories the apply will touch, including
    * the stats dir. The stage/apply split is what a
    * [[graft.streaming.BatchLedger]]-wrapped ingest batch needs:
    * snapshot the touched dirs first, then run [[applyStagedAppend]]. */
  private[graft] def stageAppend(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, Seq[String]) = {
    // append is a MUTATION entry point: a crashed delete's pending
    // stats decrement must land BEFORE this append derives its own
    // stats version, or the new version would bury the tombstones'
    // sv watermark and lose the decrement forever
    reconcileTombstoneStats(spark, path)
    val st = readStats(spark, path)
    val posts = postingsOf(batch, idCol, textCol, st.nBuckets, st.analyzer)
      .localCheckpoint(true)
    val ds = docStatsOf(batch, idCol, textCol, st.nDocBuckets, st.nBuckets,
        st.analyzer, st.storesText, st.storeCols)
      .localCheckpoint(true)
    // re-appending a tombstoned id would be INVISIBLE (probes anti-join
    // the tombstone set) and then physically dropped by the next
    // compact while stats still count it — fail fast on the clash; the
    // check costs one broadcast semi join and only when tombstones
    // exist at all
    tombstonesOf(spark, path).foreach { t =>
      val clash = ds.join(maybeBroadcastTombs(spark, path, t.select(col("id"))),
          Seq("id"), "left_semi")
        .limit(5).collect().map(_.getString(0))
      require(clash.isEmpty,
        s"append of tombstoned id(s) ${clash.mkString("[", ", ", "]")} to $path: " +
          "a deleted id may not be re-appended until compact() has " +
          "physically dropped its old postings and cleared the tombstone " +
          "set — run compact() first")
    }
    // STORE-DEAD clash (a retired-tombstone id being legitimately
    // re-appended while its old doc-store row is still physical behind
    // the dead list): appending the fresh row as-is would leave it
    // hidden by that same list. Sweep EXACTLY the clashing ids first —
    // their dbucket dirs rewrite dropping the old rows (cost ∝ batch),
    // then the dead list prunes them (staged two-rename swap, healed at
    // every read) — so "delete, compact, re-append" stays the one-step
    // contract it has always been. Replay-convergent: a crash after the
    // dir sweep leaves the ids listed with no rows (absent, consistent);
    // the re-run's clash detection prunes and proceeds.
    storeDeadIds(spark, path).foreach { dead =>
      val clash = ds.join(broadcast(dead.select(col("id")).distinct()),
          Seq("id"), "left_semi")
        .select(col("id")).localCheckpoint(true)
      if (clash.limit(1).count() > 0) {
        val fs = statsFs(spark, path)
        val dbs = clash.select(docBucket(st.nDocBuckets).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
          .filter(b => fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/docstore/dbucket=$b")))
        if (dbs.nonEmpty)
          rewriteDirsBatched(spark, s"$path/docstore", "dbucket", dbs,
            df => df.join(broadcast(clash), Seq("id"), "left_anti"))
        pruneStoreDead(spark, path, clash)
      }
    }
    val pb = posts.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val db = ds.select(col("dbucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    // term-stats deltas land in the batch terms' own buckets (same pb
    // set as the postings) — snapshot them for the ledger iff the
    // layout exists (legacy indexes without one stay legacy)
    val tsDirs =
      if (!statsFs(spark, path).exists(
        new org.apache.hadoop.fs.Path(s"$path/termstats"))) Seq.empty[String]
      else pb.map(b => s"$path/termstats/bucket=$b")
    val storeDirs =
      if (!hasStore(st)) Seq.empty[String]
      else db.map(b => s"$path/docstore/dbucket=$b")
    val dirs = pb.map(b => s"$path/postings/bucket=$b") ++
      db.map(b => s"$path/docstats/dbucket=$b") ++ tsDirs ++ storeDirs :+
      statsDir(path)
    (posts, ds, dirs)
  }

  /** Land a staged append: postings + doc stats into their touched
    * directories, then a NEW stats version derived from the
    * currently-highest one — pure file additions, so a ledger rollback
    * of a half-landed batch restores the exact pre-batch index
    * (including the stats the next reader sees). */
  private[graft] def applyStagedAppend(spark: SparkSession, path: String,
      posts: DataFrame, ds: DataFrame): Unit = {
    val touched = posts.select("bucket").distinct().count().toInt
    Ann.writeByPartition(posts, "bucket", math.max(1, touched),
      "append", s"$path/postings")
    val dTouched = ds.select("dbucket").distinct().count().toInt
    Ann.writeByPartition(ledgerProjection(ds), "dbucket", math.max(1, dTouched),
      "append", s"$path/docstats")
    // the doc store gets the FULL rows (text + stored cols) — pure
    // file additions into the batch ids' own dbuckets, ledger-rollback
    // compatible like every other append write here
    if (statsFs(spark, path).exists(
      new org.apache.hadoop.fs.Path(s"$path/docstore"))) {
      Ann.writeByPartition(ds, "dbucket", math.max(1, dTouched),
        "append", s"$path/docstore")
    }
    // term-stats DELTA rows (append is ids-disjoint, so the batch's
    // per-term counts add exactly): pure file additions — the only
    // mutation shape the batch ledger can roll back — summed by every
    // reader and consolidated by [[compact]]
    if (statsFs(spark, path).exists(
      new org.apache.hadoop.fs.Path(s"$path/termstats"))) {
      Ann.writeByPartition(
        posts.groupBy(col("bucket"), col("term")).agg(count(lit(1)).as("df")),
        "bucket", math.max(1, touched), "append", s"$path/termstats")
    }
    val r = ds.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"), idXorAgg.as("x"))
      .collect()(0)
    val (st, v) = readStatsVersioned(spark, path)
    writeStats(spark, path, st.copy(
      nDocs = st.nDocs + r.getLong(0),
      sumDl = st.sumDl + (if (r.isNullAt(1)) 0L else r.getLong(1)),
      corpusFp = st.corpusFp.map(_ ^ r.getLong(2))), v + 1)
    // an append creates no delete generation: the delta-coverage
    // watermark moves with the version it just bumped
    advanceCoverMarker(statsFs(spark, path), path, v, v + 1)
  }

  /** Delete documents by id: tombstone-append (postings stay in place —
    * a doc's terms spread across ~every term bucket, so physical
    * deletion belongs to [[compact]]), doc-stats rewrite bounded to the
    * ids' own buckets, sidecar decremented by the EXACTLY-FOUND rows.
    * Tombstones record ONLY the ids actually present in the index —
    * deleting an absent id (or re-deleting a tombstoned one, whose
    * doc-stats row is already gone) is a complete no-op, so spurious
    * ids never inflate [[needsCompact]]'s debt count or permanently
    * block a later legitimate append of a brand-new doc under the
    * re-append fail-fast. Each tombstone row carries the doc's
    * `tbuckets` (recorded at index time) — the map [[compact]] uses to
    * discover touched posting buckets without any postings scan. The
    * id list is driver-sized by the same argument as the reference's
    * `delete(&[String])` (lib.rs:273-286), but it reaches every plan as
    * a broadcast JOIN, never an isin literal — a six-figure delete
    * batch must not blow up the plan.
    *
    * CRASH ORDERING: tombstones land FIRST, then the decremented stats,
    * then the doc-stats rewrite — so a delete interrupted anywhere
    * replays to convergence: the found-set excludes already-tombstoned
    * ids (stats can never double-decrement), every probe hides the doc
    * from the moment its tombstone row exists, and a doc-stats row a
    * crash left behind is swept by the rewrite's tombstone anti-join on
    * the next delete touching its bucket or by [[compact]]'s residue
    * sweep. (The previous order — rewrite first — had a window where a
    * crash left the doc's postings live and permanently undeletable:
    * the replay found no doc-stats row and no-opped while the sidecar
    * still counted the doc.)
    *
    * The one gap that ordering leaves — a crash BETWEEN the tombstone
    * append and the stats write, where the found-set exclusion means no
    * replay ever re-attempts the decrement — closes through the
    * tombstone rows themselves: each carries its doc's `dl` and `sv`,
    * the stats version whose write was due next. Any tombstone whose
    * `sv` is AHEAD of the current sidecar version is a decrement that
    * never landed; [[reconcileTombstoneStats]] (run at every mutation
    * entry point) replays exactly those rows' (count, Σdl, id-XOR) into
    * a catch-up stats version — idempotent, because the write itself
    * moves the version past every pending `sv`. */
  def delete(spark: SparkSession, path: String, ids: Seq[String]): Unit = {
    if (ids.isEmpty) return
    import spark.implicits._
    delete(spark, path, ids.toDF("id"))
  }

  /** [[delete]] with the ids as a DataFrame (first column = the ids) —
    * the streaming / bulk form: the id set is staged once
    * ([[Ann.stageIdFrame]]) and reaches the found-set semi-join
    * size-gated ([[Ann.maybeBroadcastIds]]) instead of force-broadcast,
    * never funneling through the driver. All crash-ordering steps are
    * identical to the Seq form (which is now a thin wrapper). An empty
    * frame is a no-op. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val (idDf, nIds) = Ann.stageIdFrame(ids)
    if (nIds == 0L) return
    val fs = statsFs(spark, path)
    Ann.recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/docstats"))
    // a delete is a mutation entry point: heal swap residue BEFORE
    // appending, or a fresh tombstones dir would shadow a mid-swap
    // `.tombstones.old` and permanently resurrect its ids — and land
    // any crashed delete's pending stats decrement before reading the
    // version this delete will increment
    recoverTombstoneSwap(fs, path)
    reconcileTombstoneStats(spark, path)
    // land any earlier crashed delete's pending term-stats deltas while
    // its generation's postings are still guaranteed intact
    reconcileTermDeltas(spark, path, fromMutation = true)
    val debtZeroAtEntry = tombstoneBytes(spark, path) == 0L
    val (st, v) = readStatsVersioned(spark, path)
    val dbuckets = idDf.select(docBucket(st.nDocBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // the rows REALLY present, from the pruned scan — materialized
    // (with their term-bucket sets) BEFORE any mutation. Already-
    // tombstoned ids are EXCLUDED: their stats were decremented when
    // they were first tombstoned (re-deleting one — or replaying a
    // delete that crashed before its doc-stats rewrite — must be a
    // no-op for the sidecar). A pre-tbuckets layout deletes fine
    // (id-only tombstones — compact falls back to its postings-scan
    // discovery for those).
    val dsScan = spark.read.parquet(s"$path/docstats")
      .filter(col("dbucket").isin(dbuckets: _*))
    val hasTbCol = dsScan.columns.contains("tbuckets")
    val found0 = dsScan.join(Ann.maybeBroadcastIds(spark, idDf, nIds),
      Seq("id"), "left_semi")
    val found = (tombstonesOf(spark, path) match {
        case Some(t) =>
          found0.join(maybeBroadcastTombs(spark, path, t.select(col("id"))),
            Seq("id"), "left_anti")
        case None => found0
      })
      .select(Seq(col("id"), col("dl"), col("dbucket").cast(LongType).as("dbucket")) ++
        (if (hasTbCol) Seq(col("tbuckets")) else Nil): _*)
      .localCheckpoint(true)
    // ONE read job over the checkpoint computes the stats decrement AND
    // the touched doc-bucket list (collect_set is bounded by index
    // geometry — nDocBuckets — never by the delete size); the writes
    // below keep their exact order, this only merges two read-only
    // collects over the same immutable checkpoint (r19)
    val agg = found
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"), idXorAgg.as("x"),
        sort_array(collect_set(col("dbucket"))).as("fb"))
      .collect()(0)
    val nFound = agg.getLong(0)
    if (nFound > 0) {
      // 0. INTENT: the delta watermark must stop trusting the marker
      //    listing from this moment until this generation carries its
      //    own marker — a crash anywhere in between leaves tombstone
      //    rows the stats version knows nothing about, and the intent
      //    is what forces the next reconcile onto the full path.
      if (hasTbCol) writeIntentMarker(fs, path, v + 1)
      // 1. tombstones: from this row's existence on, every probe hides
      //    the doc and every replay's found-set excludes it. Each row
      //    carries dl + sv (the stats version due next), so a crash
      //    before step 2 reconciles idempotently at the next entry.
      found.select(Seq(col("id")) ++
          (if (hasTbCol) Seq(col("tbuckets")) else Nil) ++
          Seq(col("dl"), lit(v + 1).as("sv")): _*)
        .coalesce(1).write.mode("append").parquet(s"$path/tombstones")
      // 2. stats: exact decrement for the rows THIS call tombstoned
      writeStats(spark, path, st.copy(
        nDocs = st.nDocs - nFound, sumDl = st.sumDl - agg.getLong(1),
        corpusFp = st.corpusFp.map(_ ^ agg.getLong(2))), v + 1)
      // 2b. term-stats deltas for this generation: negative df rows
      //     keep the vocab-sized dictionary fast path LIVE-exact under
      //     the debt this delete just created. Landing reads the
      //     generation's tbuckets-pruned postings, so it is SYNCHRONOUS
      //     only while the footprint is small (the production trickle —
      //     a doc's terms touch ~|vocab per doc| buckets); a
      //     corpus-spread delete (footprint ~every bucket ⇒ the read is
      //     a postings scan) DEFERS instead: the dictionary falls back
      //     to exact postings counts until a compact's rewrite covers
      //     the generation (deferral is always exact — see
      //     [[reconcileTermDeltas]]). Idempotent + marker-committed;
      //     a crash here replays at the next entry point or read.
      if (hasTbCol) {
        val tb = found.select(explode(col("tbuckets")).as("b0"))
          .select(col("b0").cast(LongType).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
        if (tb.size <= deltaSyncMaxBuckets(spark, st.nBuckets))
          landTermDeltas(spark, path, v + 1, found.select(col("id")), tb)
        else {
          // a stale defer marker can linger from an aborted delete that
          // intended this same sv — replace, then cache the deferral so
          // later reconciles read the footprint from the marker name,
          // not a per-call explode job
          dropDeferMarker(fs, path, v + 1)
          writeDeferMarker(fs, path, v + 1, tb.size)
        }
        // this generation is marked either way: retire the intent and
        // extend coverage to the new version — from scratch when this
        // delete created the first debt (its generation is the only
        // one), by advance otherwise
        dropIntentMarker(fs, path, v + 1)
        if (debtZeroAtEntry) setCoverMarker(fs, path, v + 1)
        else advanceCoverMarker(fs, path, v, v + 1)
      }
      // 3. doc-stats rewrite, only the buckets that actually HOLD a
      //    found row (computed in the single entry aggregate above);
      //    survivors anti-join the FULL tombstone set (not just this
      //    call's ids), so a crashed earlier delete's row in these
      //    buckets sweeps away for free
      val foundBuckets = agg.getSeq[Long](3)
      val tombIds = tombstonesOf(spark, path)
        .map(_.select(col("id")).distinct().localCheckpoint(true))
        .getOrElse(idDf)
      rewriteDirsBatched(spark, s"$path/docstats", "dbucket", foundBuckets,
        df => df.join(maybeBroadcastTombs(spark, path, tombIds), Seq("id"), "left_anti"))
    }
  }

  /** Apply one delete to EVERY field index of a BM25F group — the
    * multi-field lifecycle hook [[bm25fTopK]]'s same-document-set
    * contract needs: deleting from one field index alone desyncs the
    * group (n_docs/fingerprints diverge and every BM25F call fails
    * fast) with nothing to restore coherence. Each index pays its own
    * documented touched-buckets [[delete]] cost; because a re-delete of
    * an already-tombstoned id is a per-index no-op, a HALF-APPLIED call
    * (crash between field indexes) heals by simply re-running with the
    * same ids — the already-deleted fields no-op, the missed ones catch
    * up, and the group converges. */
  def deleteFields(spark: SparkSession, paths: Seq[String],
      ids: Seq[String]): Unit = {
    require(paths.nonEmpty, "need at least one field index path")
    paths.foreach(p => delete(spark, p, ids))
  }

  /** [[deleteFields]] with the ids as a DataFrame — the bulk/streaming
    * form (each field index pays its own size-gated broadcast
    * anti-join [[delete]]; the frame is staged once per index by that
    * overload). */
  def deleteFields(spark: SparkSession, paths: Seq[String],
      ids: DataFrame): Unit = {
    require(paths.nonEmpty, "need at least one field index path")
    paths.foreach(p => delete(spark, p, ids))
  }

  /** Append one document batch to EVERY field index of a BM25F group —
    * the append arm of the [[deleteFields]] lifecycle: appending to one
    * field alone desyncs the group exactly like a one-field delete
    * (fingerprints diverge, every BM25F call fails fast), and unlike a
    * delete a raw re-run canNOT heal it — re-appending ids that
    * already landed in a field would double-insert their postings. So
    * each field's append runs LEDGERED (staged additions + the batch
    * ledger's applied marker, the ingest streams' exact discipline,
    * in a dedicated `_fields_ledger` so a stream checkpoint's lineage
    * stamp never clashes): a call that crashes mid-group heals by
    * re-running with the SAME `batchId` — already-landed fields replay
    * as marker-gated no-ops, a half-landed field rolls back its
    * residue first, the missed fields land, and the group converges.
    * `fields` = (indexPath, textCol): one batch frame supplies every
    * field's text by column, each index paying its own documented
    * touched-buckets append cost. */
  def appendFields(spark: SparkSession, fields: Seq[(String, String)],
      batch: DataFrame, idCol: String, batchId: Long): Unit = {
    require(fields.nonEmpty, "need at least one (indexPath, textCol) field")
    require(fields.map(_._1).distinct.size == fields.size,
      "field index paths must be distinct")
    fields.foreach { case (p, textCol) =>
      graft.streaming.BatchLedger.runIdempotent(spark, s"$p/_fields_ledger",
        batchId, "append_fields") {
        val (posts, ds, dirs) = stageAppend(spark, p, batch, idCol, textCol)
        (dirs, () => applyStagedAppend(spark, p, posts, ds))
      }
    }
  }

  /** Land any pending stats decrement recorded by tombstone rows whose
    * `sv` (the stats version their delete was about to write) is ahead
    * of the current sidecar version — the replay arm of [[delete]]'s
    * crash ordering: a crash between the tombstone append and the
    * stats write leaves rows probes already hide but stats still
    * count, and the found-set exclusion means no re-delete ever
    * re-attempts the decrement. Aggregates exactly the pending rows'
    * (count, Σdl, id-XOR) and writes ONE catch-up version at max(sv),
    * after which no row is pending — idempotent under any interleaving
    * of crashes. Runs at every mutation entry point ([[delete]],
    * [[stageAppend]], [[compact]], [[addDocStore]]); a probe between
    * the crash and the next mutation scores with the slightly-stale
    * avgdl but already hides the docs, the same read-side contract as
    * every other deferred repair here. Legacy tombstone rows (no
    * `sv`/`dl` columns) predate the scheme and are never pending. */
  private def reconcileTombstoneStats(spark: SparkSession, path: String): Unit = {
    tombstonesOf(spark, path).foreach { t =>
      if (t.columns.contains("sv") && t.columns.contains("dl")) {
        val (st, v) = readStatsVersioned(spark, path)
        val r = t.filter(col("sv") > v)
          .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"),
            idXorAgg.as("x"), max(col("sv")).as("v"))
          .collect()(0)
        if (r.getLong(0) > 0L) {
          writeStats(spark, path, st.copy(
            nDocs = st.nDocs - r.getLong(0),
            sumDl = st.sumDl - r.getLong(1),
            corpusFp = st.corpusFp.map(_ ^ r.getLong(2))), r.getLong(3))
        }
      }
    }
  }

  // ------------------------------------------------- term-stats deltas
  //
  // The term-stats layout mirrors the LIVE postings at any tombstone
  // debt level, not just debt zero: each delete appends NEGATIVE df
  // rows for its docs' terms into the touched termstats bucket dirs
  // (readers already sum build row + append deltas, so negative rows
  // fold in for free), which keeps every dictionary-shaped op
  // (suggestTerms / didYouMean / bm25FuzzyTopK / mltQueriesIdx's df
  // probe) on the vocab-sized fast path while deletes trickle in —
  // previously any retained tombstone forced a postings-count fallback
  // until a FULL compact, making the fast path cold-start-only.
  //
  // CRASH SAFETY. A delete's delta landing is one generation keyed by
  // the tombstones' own stats version `sv`:
  //   1. deltas compute from the postings pruned to the generation's
  //      `tbuckets` union, semi-joined to its ids (postings for
  //      tombstoned ids are immutable until compact, and compact
  //      reconciles pending generations first — so a replay recomputes
  //      bit-identical rows);
  //   2. rows stage under a dot-prefixed dir (invisible to every
  //      parquet read), then rename one file at a time into the bucket
  //      dirs under the DETERMINISTIC name `tsdelta-sv<sv>-<k>.parquet`;
  //   3. an empty marker file `termstats/_deltas/sv-<sv>` commits the
  //      generation (atomic create; the `_` prefix hides the dir from
  //      partition discovery).
  // A crash anywhere replays idempotently: [[reconcileTermDeltas]]
  // (run at every mutation entry point AND by the dictionary fast
  // paths themselves, the way probes run [[healTombstoneSwap]]) lands
  // exactly the tombstone generations without a marker, first sweeping
  // any `tsdelta-sv<sv>-*` residue a half-committed attempt left. Once
  // marked, a generation's FILES are free to consolidate (compact's
  // trailing fold sums them into one row per term) because replay
  // triggers on the marker, never the files.
  //
  // STEADY-STATE COST. Three more marker families make the reconcile
  // LISTING-ONLY between mutations (no tombstone read, no Spark job —
  // what keeps a delete-trickle stream and every dictionary read under
  // standing debt flat):
  //   - `defer-sv-<sv>-f<n>` caches a deferring generation's measured
  //     term-bucket footprint (pure cache: losing it re-measures, a
  //     stale one only keeps deferring — the exact-fallback direction);
  //   - `cover-v<V>` watermarks that every generation with sv ≤ V
  //     carries an `sv-`/`defer-` marker; deletes extend it with their
  //     own version bump, append/addDocStore advance it with theirs,
  //     the crashed-delete stats catch-up deliberately leaves it stale;
  //   - `intent-sv-<sv>`, written BEFORE a delete's tombstone append
  //     and dropped after its generation marker, vetoes the
  //     listing-only trust across the crash window where tombstone rows
  //     exist that the stats version does not yet count. Orphaned
  //     intents clear at the next MUTATION entry's full reconcile —
  //     never from a serving read, which could race the single writer's
  //     open window.
  //
  // COMPACT keeps the invariant per bucket ATOMICALLY: the rewritten
  // posting buckets' termstats dirs are REPLACED (staged swap) by a
  // live recompute, which drops base rows and delta rows together in
  // one rename — no window where a recomputed base still coexists with
  // the deltas it already folded in. Skipped buckets keep base+deltas,
  // which still equals live because their postings are untouched.

  private def termDeltaMarkerDir(path: String) = s"$path/termstats/_deltas"

  private def landedDeltaSvs(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Set[Long] = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSeq
      .filter(_.startsWith("sv-")).map(_.stripPrefix("sv-").toLong).toSet
  }

  /** Footprint CACHE markers for deferring generations —
    * `_deltas/defer-sv-<sv>-f<nBuckets>`, written when a generation's
    * term-bucket footprint is first measured past the sync gate. A
    * pure cache: every later [[reconcileTermDeltasBounded]] reads the
    * footprint from the marker name instead of re-paying an
    * explode+distinct job over the generation's tombstone rows per
    * mutation/serving entry (the cost that made a tombstone-debt
    * STREAM re-measure a deferring generation every micro-batch).
    * Losing one merely re-measures; a stale one (the generation's
    * rows partially retired, shrinking its true footprint) only keeps
    * deferring — the exact-fallback direction. Removed with the
    * generation's landing or the `_deltas` dir's retirement. */
  private def deferredFootprints(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Map[Long, Int] = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).map(_.getPath.getName).toSeq
      .filter(_.startsWith("defer-sv-")).flatMap { n =>
        n.stripPrefix("defer-sv-").split("-f") match {
          case Array(sv, f) if sv.forall(_.isDigit) && f.forall(_.isDigit) =>
            Some(sv.toLong -> f.toInt)
          case _ => None
        }
      }.toMap
  }

  private def writeDeferMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, sv: Long, footprint: Int): Unit = {
    // no termstats layout -> nothing ever lands, the cache is pointless
    // (and must not conjure a termstats/ root on a layout without one)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/termstats"))) return
    fs.mkdirs(new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path)))
    fs.create(new org.apache.hadoop.fs.Path(
      s"${termDeltaMarkerDir(path)}/defer-sv-$sv-f$footprint"), true).close()
  }

  private def dropDeferMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, sv: Long): Unit = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (fs.exists(d)) fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith(s"defer-sv-$sv-f"))
      .foreach(fs.delete(_, false))
  }

  /** COVER watermark — `_deltas/cover-v<V>` asserts: every delete
    * generation with sv ≤ V is represented by an `sv-` (landed) or
    * `defer-` (measured footprint) marker. While the watermark equals
    * the CURRENT stats version, [[reconcileTermDeltasBounded]] resolves
    * the whole delta protocol from ONE directory listing — no
    * tombstone-set read, no aggregation job — which is what keeps a
    * delete-trickle STREAM from paying a debt-sized Spark job per
    * micro-batch (and every dictionary read under standing debt from
    * paying one per call). Anything that advances the stats version
    * either advances the watermark with it (delete after its own
    * marker; append/addDocStore, which create no delete generation) or
    * deliberately leaves it stale (the crashed-delete stats catch-up),
    * forcing one full tombstone-read reconcile that re-derives coverage
    * and re-stamps. A missing or stale watermark is always safe: it
    * only means the full path runs. */
  private def coverMarkerV(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (!fs.exists(d)) None
    else fs.listStatus(d).map(_.getPath.getName).toSeq
      .filter(n => n.startsWith("cover-v") && n.stripPrefix("cover-v").forall(_.isDigit))
      .map(_.stripPrefix("cover-v").toLong).sorted.lastOption
  }

  /** One listing of the marker dir, every marker family decoded. */
  private final case class DeltaMarkers(landed: Set[Long],
      deferred: Map[Long, Int], cover: Option[Long], intents: Set[Long])

  private def readDeltaMarkers(fs: org.apache.hadoop.fs.FileSystem,
      path: String): DeltaMarkers = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (!fs.exists(d)) return DeltaMarkers(Set.empty, Map.empty, None, Set.empty)
    val names = fs.listStatus(d).map(_.getPath.getName).toSeq
    DeltaMarkers(
      landed = names.filter(_.startsWith("sv-"))
        .map(_.stripPrefix("sv-")).filter(_.forall(_.isDigit))
        .map(_.toLong).toSet,
      deferred = names.filter(_.startsWith("defer-sv-")).flatMap { n =>
        n.stripPrefix("defer-sv-").split("-f") match {
          case Array(sv, f) if sv.forall(_.isDigit) && f.forall(_.isDigit) =>
            Some(sv.toLong -> f.toInt)
          case _ => None
        }
      }.toMap,
      cover = names.filter(n => n.startsWith("cover-v") &&
          n.stripPrefix("cover-v").forall(_.isDigit))
        .map(_.stripPrefix("cover-v").toLong).sorted.lastOption,
      intents = names.filter(_.startsWith("intent-sv-"))
        .map(_.stripPrefix("intent-sv-")).filter(_.forall(_.isDigit))
        .map(_.toLong).toSet)
  }

  /** INTENT marker — `_deltas/intent-sv-<sv>`, written by [[delete]]
    * BEFORE its tombstone append and dropped after its generation
    * marker lands. The trusted (listing-only) reconcile refuses to run
    * while any intent is outstanding: a delete that crashed between
    * its tombstone append and its stats/marker writes leaves rows the
    * watermark knows nothing about (the stats version never moved), and
    * the intent is the only on-disk evidence. Orphaned intents (crash
    * before the tombstone append) are cleared by the next MUTATION
    * entry's full reconcile — never by a serving read, which could race
    * the single writer's open window. */
  private def writeIntentMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, sv: Long): Unit = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/termstats"))) return
    fs.mkdirs(new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path)))
    fs.create(new org.apache.hadoop.fs.Path(
      s"${termDeltaMarkerDir(path)}/intent-sv-$sv"), true).close()
  }

  private def dropIntentMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, sv: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"${termDeltaMarkerDir(path)}/intent-sv-$sv")
    if (fs.exists(p)) fs.delete(p, false)
  }

  private def clearIntentMarkers(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    if (fs.exists(d)) fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith("intent-sv-"))
      .foreach(fs.delete(_, false))
  }

  private def setCoverMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long): Unit = {
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/termstats"))) return
    val d = new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path))
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d, s"cover-v$v"), true).close()
    fs.listStatus(d).map(_.getPath)
      .filter(p => p.getName.startsWith("cover-v") && p.getName != s"cover-v$v")
      .foreach(fs.delete(_, false))
  }

  /** Advance the watermark from `from` to `to` IFF it currently sits at
    * `from` — a version bump that created no unmarked generation keeps
    * coverage; an unknown prior state must stay stale (full reconcile
    * re-derives it). */
  private def advanceCoverMarker(fs: org.apache.hadoop.fs.FileSystem,
      path: String, from: Long, to: Long): Unit =
    if (coverMarkerV(fs, path).contains(from)) setCoverMarker(fs, path, to)

  /** Land one delete generation's negative term-df deltas — idempotent
    * (marker-gated, residue-sweeping) per the protocol above. `ids`
    * must be exactly the generation's tombstoned ids; `tbuckets` the
    * union of their recorded term buckets (bounded by nBuckets). */
  private def landTermDeltas(spark: SparkSession, path: String, sv: Long,
      ids: DataFrame, tbuckets: Seq[Long]): Unit = {
    val fs = statsFs(spark, path)
    val tsRoot = new org.apache.hadoop.fs.Path(s"$path/termstats")
    if (!fs.exists(tsRoot)) return
    val marker = new org.apache.hadoop.fs.Path(
      s"${termDeltaMarkerDir(path)}/sv-$sv")
    if (fs.exists(marker)) return
    // sweep residue of a half-committed earlier attempt at THIS
    // generation — deterministic names make the attempt identifiable
    tbuckets.foreach { b =>
      val d = new org.apache.hadoop.fs.Path(s"$path/termstats/bucket=$b")
      if (fs.exists(d)) fs.listStatus(d).map(_.getPath)
        .filter(_.getName.startsWith(s"tsdelta-sv$sv-"))
        .foreach(fs.delete(_, false))
    }
    val bucketDirs = probedBucketDirs(spark, path, tbuckets)
    if (bucketDirs.nonEmpty) {
      val deltas = spark.read.option("basePath", s"$path/postings")
        .parquet(bucketDirs: _*)
        .filter(col("bucket").isin(tbuckets: _*))
        .join(broadcast(ids.select(col("id"))), Seq("id"), "left_semi")
        .groupBy(col("bucket").cast(LongType).as("bucket"), col("term"))
        .agg((lit(0L) - count(lit(1))).as("df"))
      val stage = new org.apache.hadoop.fs.Path(s"$path/termstats/.tsdelta-sv$sv.stage")
      fs.delete(stage, true)
      deltas.repartition(math.max(1, tbuckets.size), col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(stage.toString)
      fs.listStatus(stage).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("bucket=")).foreach { bd =>
          val target = new org.apache.hadoop.fs.Path(tsRoot, bd.getName)
          fs.mkdirs(target)
          fs.listStatus(bd).map(_.getPath).filter(_.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (f, k) =>
              require(fs.rename(f,
                new org.apache.hadoop.fs.Path(target, s"tsdelta-sv$sv-$k.parquet")),
                s"term-delta file move into $target failed")
            }
        }
      fs.delete(stage, true)
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path)))
    fs.create(marker, true).close()
    dropDeferMarker(fs, path, sv) // the footprint cache is moot once landed
  }

  /** The synchronous-landing footprint bound: a delete generation's
    * deltas land eagerly only while its term-bucket footprint is at
    * most this many buckets (`spark.graft.inv.tsDeltaSyncMaxFrac` of
    * nBuckets, default 0.25) — past it, the landing read degenerates
    * into a postings scan, which belongs to compact, not to a delete
    * or a serving read. */
  private def deltaSyncMaxBuckets(spark: SparkSession, nBuckets: Int): Int = {
    val frac = spark.conf
      .get("spark.graft.inv.tsDeltaSyncMaxFrac", "0.25").toDouble
    math.max(1, (frac * nBuckets).toInt)
  }

  /** Ensure the term-stats layout is LIVE-exact under the current
    * tombstone debt, landing any pending delete generations' deltas
    * whose footprint is within [[deltaSyncMaxBuckets]] (normally a
    * no-op: one marker-dir listing). Returns whether the vocab-sized
    * fast path may serve df: true when there is no debt or every
    * generation is landed; false when the layout is absent, the
    * tombstone set predates sv/tbuckets rows (legacy sets cannot key
    * generations), or a corpus-spread generation is deferring — in
    * every false case the postings-count fallback stays exact.
    *
    * DEFERRAL IS ALWAYS EXACT, whenever the landing finally runs:
    * deltas derive from the SAME postings state the termstats base
    * mirrors. If a compact meanwhile rewrote some of the generation's
    * buckets (removing its postings there and recomputing those
    * termstats live), a later landing simply finds no rows to subtract
    * in those buckets — the subtraction lands exactly where the base
    * is still stale and nowhere else. A generation fully covered by a
    * compact's rewrite retires with its tombstones and never needs to
    * land at all. */
  private def reconcileTermDeltas(spark: SparkSession, path: String,
      fromMutation: Boolean = false): Boolean =
    reconcileTermDeltasBounded(spark, path,
      deltaSyncMaxBuckets(spark, readStats(spark, path).nBuckets), fromMutation)

  private def reconcileTermDeltasBounded(spark: SparkSession, path: String,
      maxSync: Int, fromMutation: Boolean = false): Boolean = {
    val fs = statsFs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/termstats"))) return false
    if (tombstoneBytes(spark, path) == 0L) return true
    // TRUSTED PATH: watermark at the current stats version and no
    // outstanding delete intent ⇒ the marker dir alone is authoritative
    // (one listing, zero jobs). Landed generations are done; deferring
    // ones carry their measured footprint in the marker name — only a
    // generation the CURRENT gate can actually land pays a tombstone
    // read (to learn its ids).
    val vNow = readStatsVersioned(spark, path)._2
    val mk = readDeltaMarkers(fs, path)
    if (mk.cover.contains(vNow) && mk.intents.isEmpty) {
      val landable = mk.deferred.filter(_._2 <= maxSync).keys.toSeq.sorted
      if (landable.nonEmpty) {
        val tt = tombstonesOf(spark, path).get
          .select(col("sv"), col("tbuckets"), col("id"))
        landable.foreach { n =>
          val gen = tt.filter(col("sv") === n)
          val tb = gen.select(explode(col("tbuckets")).as("b0"))
            .select(col("b0").cast(LongType).as("b"))
            .distinct().collect().map(_.getLong(0)).toSeq.sorted
          landTermDeltas(spark, path, n, gen.select(col("id")), tb)
        }
      }
      return mk.deferred.forall(_._2 <= maxSync)
    }
    tombstonesOf(spark, path) match {
      case None => true
      case Some(t) =>
        if (!t.columns.contains("sv") || !t.columns.contains("tbuckets")) return false
        // no checkpoint: the set is debt-sized and single-writer-stable,
        // and this runs on serving paths where cached-block growth hurts.
        // ONE aggregation pass learns both "is any row legacy-null" and
        // the generation set (two separate jobs before — paid per
        // mutation AND per dictionary read while any debt exists).
        val tt = t.select(col("sv"), col("tbuckets"), col("id"))
        val probe = tt.agg(
          sum(when(col("sv").isNull || col("tbuckets").isNull, 1L)
            .otherwise(0L)).as("bad"),
          collect_set(col("sv")).as("svs")).collect()(0)
        if (!probe.isNullAt(0) && probe.getLong(0) > 0L) return false
        val svs = probe.getSeq[Long](1)
        val pending = svs.filterNot(mk.landed).sorted
        if (pending.isEmpty) {
          // full coverage just proven from the authoritative set: stamp
          // it (and, at a mutation entry — the single writer, so no open
          // delete window can race — clear orphaned intents)
          if (fromMutation) clearIntentMarkers(fs, path)
          setCoverMarker(fs, path, vNow)
          return true
        }
        // footprints of known-deferring generations come from the cache
        // markers — no per-generation explode job on the steady path
        val cached = mk.deferred
        var allLanded = true
        pending.foreach { n =>
          cached.get(n) match {
            case Some(f) if f > maxSync => allLanded = false
            case _ =>
              val gen = tt.filter(col("sv") === n)
              val tb = gen.select(explode(col("tbuckets")).as("b0"))
                .select(col("b0").cast(LongType).as("b"))
                .distinct().collect().map(_.getLong(0)).toSeq.sorted
              if (tb.size <= maxSync)
                landTermDeltas(spark, path, n, gen.select(col("id")), tb)
              else {
                writeDeferMarker(fs, path, n, tb.size)
                allLanded = false
              }
          }
        }
        // every generation now carries a marker — stamp coverage so the
        // next reconcile (mutation entry or dictionary read) is
        // listing-only until the version moves again
        if (fromMutation) clearIntentMarkers(fs, path)
        setCoverMarker(fs, path, vNow)
        allLanded
    }
  }

  /** Land EVERY pending delete generation's term-stats deltas, gate
    * LIFTED — the explicit maintenance arm of the delta protocol. A
    * corpus-spread delete defers its landing (its tbuckets union makes
    * the delta read a postings scan — the wrong bill inside `delete` or
    * a serving call) and the dictionary serves the exact
    * postings-count fallback until a compact's rewrite covers the
    * generation. This entry point lets an operator repay that debt on
    * their OWN cadence — one postings-footprint read per pending
    * generation, run from a maintenance job, restores the vocab-sized
    * fast path without waiting for (or paying) a full [[compact]].
    * Idempotent and marker-committed like every landing; landed
    * generations no-op. Returns true when the fast path is exact on
    * return (no pending generations remain — false only for layouts
    * that cannot land: no termstats, or a legacy tombstone set without
    * sv/tbuckets rows).
    *
    * NOT a mutation entry point: it runs with `fromMutation = false`,
    * so it never clears intent markers it did not resolve — a
    * maintenance job racing a live [[delete]]'s open window (between
    * that delete's intent write and its generation marker) must not
    * erase the in-flight intent, or a crash of that delete would leave
    * tombstone rows the listing-only trusted reconcile silently trusts
    * away. Orphaned intents from genuinely crashed deletes are cleared
    * by the next real mutation entry, which IS the single writer.
    * Prefer running this on the same exclusivity schedule as
    * delete/compact anyway: a concurrent landing of the same
    * generation fails loudly on the deterministic delta-file rename
    * (never a silent double-subtract), and serialized runs never pay
    * that retry. */
  def landPendingTermDeltas(spark: SparkSession, path: String): Boolean = {
    val fs = statsFs(spark, path)
    recoverTombstoneSwap(fs, path)
    reconcileTermDeltasBounded(spark, path, Int.MaxValue, fromMutation = false)
  }

  /** Retrofit the id-bucketed DOC STORE onto an EXISTING index —
    * [[build]]'s `storeText = true` for layouts built without it, with
    * the postings AND the thin doc-stats ledger left byte-untouched:
    * the store is its own `docstore/` root, so backfilling text never
    * rewrites the ledger deletes depend on. A fresh store stages under
    * a dot-prefixed dir and renames in whole (one atomic commit); an
    * index that already has a store (built with `storeCols`) rewrites
    * each store dir in place (staged per-dir swap) to add the text
    * column. The sidecar's `stores_text` flips in a new stats version
    * at the COMMIT point, after the store is fully landed.
    * [[fetchDocs]]/[[snippets]]/MLT serving then work exactly as on a
    * text-built index.
    *
    * Cost: one corpus pass (inherent — the text has to come from
    * somewhere) + one ledger read for dl; nothing reads or rewrites a
    * posting bucket or a ledger row. Crash anywhere mid-landing leaves
    * `stores_text` false — [[fetchDocs]] keeps failing fast, and
    * re-running converges (the stage re-writes; the per-dir rewrite
    * re-joins). The corpus frame must supply text for EVERY live
    * doc-stats row — a missing id fails fast before any landing,
    * because silently dropping it would lose the doc from the index.
    * Idempotent: re-running on a `storesText` index refreshes the
    * stored text. */
  def addDocStore(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, textCol: String): Unit = {
    val fs = statsFs(spark, path)
    Ann.recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/docstats"))
    recoverTombstoneSwap(fs, path)
    reconcileTombstoneStats(spark, path)
    val (st, v) = readStatsVersioned(spark, path)
    val text = corpus.select(col(idCol).cast(StringType).as("id"),
      col(textCol).cast(StringType).as("__newtext__"))
    val dsRoot = new org.apache.hadoop.fs.Path(s"$path/docstats")
    val dbuckets =
      if (!fs.exists(dsRoot)) Seq.empty[Long]
      else fs.listStatus(dsRoot).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("dbucket=")).map(_.stripPrefix("dbucket=").toLong)
        .sorted
    if (dbuckets.nonEmpty) {
      // fail fast BEFORE any landing if a live row has no text to join
      // — an inner join would silently drop the doc from the index
      val liveRows = dropTombstoned(spark, path,
        spark.read.option("basePath", s"$path/docstats")
          .parquet(dbuckets.map(b => s"$path/docstats/dbucket=$b"): _*))
      val uncovered = liveRows.join(text.select(col("id")), Seq("id"), "left_anti")
        .select(col("id")).limit(5).collect().map(_.getString(0))
      require(uncovered.isEmpty,
        s"addDocStore corpus is missing text for live indexed id(s) " +
          s"${uncovered.mkString("[", ", ", "]")} at $path — every live " +
          "doc-stats row needs its document; aborting before any rewrite")
      val storeRoot = new org.apache.hadoop.fs.Path(s"$path/docstore")
      Ann.recoverStagedDirs(fs, storeRoot)
      if (!fs.exists(storeRoot)) {
        // fresh store: ledger rows (dl/tbuckets) + corpus text, staged
        // whole and renamed in as ONE commit
        val stage = new org.apache.hadoop.fs.Path(s"$path/.docstore.stage")
        fs.delete(stage, true)
        Ann.writeByPartition(
          liveRows.join(text, Seq("id")).withColumnRenamed("__newtext__", "text")
            .select(col("id"), col("dl"), col("tbuckets"), col("text"),
              col("dbucket")),
          "dbucket", st.nDocBuckets, "overwrite", stage.toString)
        require(fs.rename(stage, storeRoot),
          s"doc-store commit rename to $storeRoot failed")
      } else {
        // a store built with storeCols: add/refresh the text column via
        // the staged per-dir swap; stored metadata columns ride along
        val storeDbuckets = fs.listStatus(storeRoot).toSeq
          .map(_.getPath.getName).filter(_.startsWith("dbucket="))
          .map(_.stripPrefix("dbucket=").toLong).sorted
        rewriteDirsBatched(spark, s"$path/docstore", "dbucket", storeDbuckets,
          df => dropTombstoned(spark, path, df.drop("text"))
            .join(text, Seq("id"))
            .withColumnRenamed("__newtext__", "text"))
      }
    }
    writeStats(spark, path, st.copy(storesText = true), v + 1)
    // a store retrofit creates no delete generation: the delta-coverage
    // watermark moves with the version it just bumped
    advanceCoverMarker(statsFs(spark, path), path, v, v + 1)
  }

  /** One-row operational description of a persisted index — the
    * observability hook an operator checks before deciding maintenance:
    * layout geometry (bucket counts), exact corpus stats (from the
    * sidecar — no data read), the avgdl probes will score with, and the
    * outstanding tombstone-debt count that [[needsCompact]] gates on.
    * Everything here is metadata-sized; nothing scans a posting. */
  def describe(spark: SparkSession, path: String): DataFrame = {
    val st = readStats(spark, path)
    val nTombs = tombstonesOf(spark, path).map(_.count()).getOrElse(0L)
    // capability flags an operator gates serving decisions on: whether
    // fetchDocs/snippets/corpus-free MLT can run here (stores_text),
    // and whether term-rarity lookups have their vocab-sized fast path
    // (has_term_stats — exact while n_tombstones is 0)
    val hasTs = statsFs(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/termstats"))
    import spark.implicits._
    Seq((st.nBuckets, st.nDocBuckets, st.nDocs, st.sumDl,
      if (st.nDocs == 0L) 0d else
        BigDecimal(st.sumDl.toDouble / st.nDocs)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      nTombs, st.storesText, hasTs))
      .toDF("n_buckets", "n_doc_buckets", "n_docs", "sum_dl", "avgdl",
        "n_tombstones", "stores_text", "has_term_stats")
  }

  /** Outstanding tombstone count — the debt measure [[needsCompact]]
    * compares, and what an incremental caller (a stream compacting with
    * a `minTombFrac` gate) tracks across partial compactions to ratchet
    * its next trigger past the RETAINED debt. Cost: one count over the
    * tombstone parquet — metadata-sized, no posting bucket is read. */
  def tombstoneCount(spark: SparkSession, path: String): Long =
    tombstonesOf(spark, path).map(_.count()).getOrElse(0L)

  /** True when the tombstone set has grown past `maxTombstones` — the
    * DEBT trigger for [[compact]], the lexical analogue of
    * [[HnswShards]]' reshard gate: a delete-heavy stream whose cadence
    * never fires must still compact before every probe's tombstone
    * anti-join (and the deferred physical drop) carries an unbounded
    * set. */
  def needsCompact(spark: SparkSession, path: String,
      maxTombstones: Long = 1000000L): Boolean =
    tombstoneCount(spark, path) >= maxTombstones

  /** Batched rewrite of partition directories under `root`, keeping
    * only `keep(df)`'s rows: ONE read-filter-stage job for ALL touched
    * dirs (basePath keeps the partition column; pre-routed so each dir
    * lands as one file), then per-dir atomic two-rename swaps —
    * metadata ops only. The same no-per-directory-job-loop rule as
    * [[Ann.compactDirs]]: a delete or compaction touching dozens of
    * buckets pays one Spark job, not dozens of sequential ones. `keep`
    * is a FRAME transform, not a Column, precisely so a caller with a
    * distributed survivor condition (the tombstone anti-join in
    * [[compact]]) never has to collapse it into a driver-side literal
    * list — a multi-million-id `isin` blows up the plan where an
    * anti-join stays a broadcast. Crash residue (.compact.stage /
    * .compact.old) heals via [[Ann.recoverStagedDirs]], which every
    * entry point here runs first. */
  private def rewriteDirsBatched(spark: SparkSession, root: String,
      partCol: String, dirsAll: Seq[Long], keep: DataFrame => DataFrame): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a candidate bucket may have no directory (e.g. a delete whose id
    // hashes to a bucket nothing was ever routed to) — reading an
    // explicit missing path would throw, and there is nothing to rewrite
    val dirs = dirsAll.filter(b =>
      fs.exists(new org.apache.hadoop.fs.Path(root, s"$partCol=$b")))
    if (dirs.isEmpty) return
    Ann.recoverStagedDirs(fs, rootPath)
    val stage = new org.apache.hadoop.fs.Path(rootPath, ".compact.stage")
    fs.delete(stage, true)
    keep(spark.read.option("basePath", root)
        .parquet(dirs.map(b => s"$root/$partCol=$b"): _*))
      .repartition(dirs.size, col(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(stage.toString)
    dirs.foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(root, s"$partCol=$b")
      val staged = new org.apache.hadoop.fs.Path(stage, s"$partCol=$b")
      if (!fs.exists(staged)) {
        // every row of this dir was dropped -> its rewritten form is
        // no dir; verify before destroying the only copy (same guard as
        // compactDirs)
        val n = keep(spark.read.parquet(dir.toString)).count()
        require(n == 0L,
          s"batched rewrite staged no output for $dir, which keeps $n rows; " +
            "aborting before the swap so the data stays in place")
        fs.delete(dir, true)
      } else {
        val old = new org.apache.hadoop.fs.Path(root, s".$partCol=$b.compact.old")
        require(fs.rename(dir, old), s"rename-away of $dir failed")
        require(fs.rename(staged, dir), s"rename of rewritten $dir failed")
        fs.delete(old, true)
      }
    }
    fs.delete(stage, true)
  }

  /** Replace the listed `partCol=b` dirs of `root` with the rows of
    * `fresh` — [[rewriteDirsBatched]]'s staged two-rename discipline,
    * but with replacement content computed OUTSIDE the dirs being
    * replaced (the term-stats recompute reads the postings, not the
    * stale stats). `fresh` must carry `partCol` and cover only the
    * listed dirs; a dir `fresh` has no rows for is deleted (its bucket
    * emptied). Crash residue heals through the same
    * [[Ann.recoverStagedDirs]] names every entry point already sweeps. */
  private def replaceDirsStaged(spark: SparkSession, root: String,
      partCol: String, dirsAll: Seq[Long], fresh: DataFrame): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(rootPath)
    Ann.recoverStagedDirs(fs, rootPath)
    val stage = new org.apache.hadoop.fs.Path(rootPath, ".compact.stage")
    fs.delete(stage, true)
    fresh.repartition(math.max(1, dirsAll.size), col(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(stage.toString)
    dirsAll.foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(rootPath, s"$partCol=$b")
      val staged = new org.apache.hadoop.fs.Path(stage, s"$partCol=$b")
      if (!fs.exists(staged)) fs.delete(dir, true)
      else {
        val old = new org.apache.hadoop.fs.Path(rootPath, s".$partCol=$b.compact.old")
        fs.delete(old, true)
        if (fs.exists(dir)) require(fs.rename(dir, old), s"rename-away of $dir failed")
        require(fs.rename(staged, dir), s"rename of replacement $dir failed")
        fs.delete(old, true)
      }
    }
    fs.delete(stage, true)
  }

  /** Heal the crash window of a tombstone-set swap: the live set
    * renamed away, its replacement never renamed in — rename the old
    * set back, or a probe would silently resurrect every
    * still-tombstoned doc. Concurrent readers may race here:
    * fs.rename is first-wins, so a loser re-checks that the set is
    * back before treating the index as broken. (When `tombstones`
    * exists, a stale `.tombstones.old` is ignored — mutation entry
    * points sweep it via [[recoverTombstoneSwap]].) */
  private def healTombstoneSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val old = new org.apache.hadoop.fs.Path(s"$path/.tombstones.old")
    if (!fs.exists(p) && fs.exists(old)) {
      val renamed = fs.rename(old, p)
      require(renamed || fs.exists(p),
        s"heal of interrupted tombstone swap at $path failed")
    }
  }

  private def tombstonesOf(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healTombstoneSwap(fs, path)
    // mergeSchema: the set may mix schema generations (id-only files
    // beside rows carrying tbuckets/dl/sv) — sampling one file's
    // schema would silently drop the newer columns; the footer reads
    // are bounded by the compaction cadence like everything else here
    if (fs.exists(p))
      Some(spark.read.option("mergeSchema", "true").parquet(p.toString))
    else None
  }

  /** On-disk byte size of the live tombstone set — one directory
    * listing, no data read; the size signal [[maybeBroadcastTombs]]
    * gates the broadcast hint on. */
  private[graft] def tombstoneBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  /** Hint the tombstone id frame for broadcast ONLY while the set's
    * on-disk size is under `spark.graft.inv.tombBroadcastMaxBytes`
    * (default 64 MiB): the set is bounded only by the compaction knobs,
    * and those compose into counts (the tombstone-stream hard cap
    * defaults to 8M ids) whose forced broadcast would be a
    * hundreds-of-MB driver build. Past the bound the hint DROPS and AQE
    * picks the join strategy from runtime sizes — correctness is the
    * anti/semi join either way. */
  private[graft] def maybeBroadcastTombs(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val cap = spark.conf.get("spark.graft.inv.tombBroadcastMaxBytes",
      (64L << 20).toString).toLong
    if (tombstoneBytes(spark, path) <= cap) broadcast(ids) else ids
  }

  /** Anti-join `df` (carrying `id`) against the live tombstone set —
    * the shared probe-side gate, size-aware via
    * [[maybeBroadcastTombs]]. No tombstones → `df` unchanged. */
  private def dropTombstoned(spark: SparkSession, path: String,
      df: DataFrame): DataFrame =
    tombstonesOf(spark, path) match {
      case Some(t) => df.join(
        maybeBroadcastTombs(spark, path, t.select(col("id"))), Seq("id"), "left_anti")
      case None => df
    }

  /** Sweep tombstone-swap residue at a MUTATION entry point ([[delete]],
    * [[compact]]): heal first, then discard a stale stage (always
    * discardable) and a stale `.tombstones.old` alongside a live set (a
    * committed swap's leftover). */
  private def recoverTombstoneSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    healTombstoneSwap(fs, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val old = new org.apache.hadoop.fs.Path(s"$path/.tombstones.old")
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/.tombstones.stage"), true)
  }

  /** Resolve the probed buckets to their directory paths under a
    * partitioned root, CRASH-RESIDUE AWARE: a missing dir normally
    * means "never routed there" (contributes no path), but if a
    * `.<partCol>=N.compact.old` / `.rewrite.old` sibling exists the
    * bucket is mid-swap residue of an interrupted rewrite's rename
    * window — heal the root via [[Ann.recoverStagedDirs]] and
    * re-resolve, so a probe never silently returns shrunken results.
    * The sibling checks run only for buckets that are actually missing,
    * and the O(nBuckets) healing listing only when residue is really
    * present — the happy path stays O(|buckets|) RPCs. */
  private def probedDirs(spark: SparkSession, rootDir: String, partCol: String,
      buckets: Seq[Long]): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def resolve(): Seq[String] = buckets.map(b => s"$rootDir/$partCol=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    val dirs = resolve()
    if (dirs.size == buckets.size) return dirs
    val residue = buckets.exists { b =>
      !fs.exists(new org.apache.hadoop.fs.Path(root, s"$partCol=$b")) &&
        Seq(".compact.old", ".rewrite.old").exists(sfx =>
          fs.exists(new org.apache.hadoop.fs.Path(root, s".$partCol=$b$sfx")))
    }
    if (!residue) dirs
    else { Ann.recoverStagedDirs(fs, root); resolve() }
  }

  private def probedBucketDirs(spark: SparkSession, path: String,
      buckets: Seq[Long]): Seq[String] =
    probedDirs(spark, s"$path/postings", "bucket", buckets)

  /** Point lookup of stored documents by id — the DOC STORE read that
    * keeps seed-term extraction ([[TextAnalysis.mltQueriesIdx]]) and
    * snippet rendering ([[snippets]]) off the corpus: reads ONLY the
    * requested ids' dbucket directories of the doc-store layout (the
    * one driver collect is the distinct dbucket list — bounded by
    * nDocBuckets, never by the id count), semi-joins the id frame
    * (Catalyst broadcasts it when small), anti-joins the bounded
    * tombstone set, and returns (id, dl, text). Requires an index built
    * with `storeText = true`; at 100 TB this is what makes a 5-seed MLT
    * call or a 10-doc snippet render cost ∝ seeds instead of one corpus
    * pass per call. */
  def fetchDocs(spark: SparkSession, path: String, ids: DataFrame,
      withCols: Seq[String] = Nil): DataFrame = {
    val st = readStats(spark, path)
    require(st.storesText,
      s"index at $path does not store document text — build it with " +
        "storeText = true or retrofit via addDocStore to enable " +
        "doc-store point lookups")
    val missing = withCols.filterNot(st.storeCols.contains)
    require(missing.isEmpty,
      s"column(s) ${missing.mkString("[", ", ", "]")} are not stored on " +
        s"$path (stored: ${st.storeCols.mkString("[", ", ", "]")})")
    requireStoreRoot(spark, path, st)
    val idDf = ids.select(col(ids.columns.head).cast(StringType).as("id"))
    val dbuckets = idDf.select(docBucket(st.nDocBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val dirs = probedDirs(spark, s"$path/docstore", "dbucket", dbuckets)
    import spark.implicits._
    if (dirs.isEmpty) return Seq.empty[(String, Long, String)]
      .toDF("id", "dl", "text")
      .select(col("id") +: col("dl") +: col("text") +:
        withCols.map(c => lit(null).cast(StringType).as(c)): _*)
    val pruned = spark.read.option("basePath", s"$path/docstore")
      .parquet(dirs: _*)
      .filter(col("dbucket").isin(dbuckets: _*)) // plan-visible prune witness
      .join(idDf, Seq("id"), "left_semi")
    val live = dropStoreHidden(spark, path, pruned)
    live.select(col("id") +: col("dl") +: col("text") +: withCols.map(col): _*)
  }

  /** Result-page SORT BY a stored field instead of relevance — "sort by
    * date/source/price" over a boolean match: the match set comes from
    * the same bucket-pruned live probe as every retrieval shape, the
    * sort key from the index's OWN stored column (doc values — no
    * corpus table at query time), the shuffle from the k-bounded
    * TakeOrdered. Stored columns are STRING-typed, so the order is
    * lexicographic (zero-pad numerics at build time, the standard doc-
    * values discipline). Ties break by id. Emits (id, <sortCol>). */
  def sortByStored(spark: SparkSession, path: String, terms: Seq[String],
      sortCol: String, k: Int, asc: Boolean = true,
      matchAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = readStats(spark, path)
    require(st.storeCols.contains(sortCol),
      s"sort column '$sortCol' is not stored on $path " +
        s"(stored: ${st.storeCols.mkString("[", ", ", "]")})")
    import spark.implicits._
    def empty = Seq.empty[(String, String)].toDF("id", sortCol)
    if (st.nDocs == 0L) return empty
    matchedIds(spark, path, st, terms, matchAll) match {
      case None => empty
      case Some(matched) =>
        storedColumns(spark, path, st, Seq(sortCol))
          .join(matched, Seq("id"), "left_semi")
          .orderBy((if (asc) col(sortCol).asc else col(sortCol).desc),
            col("id").asc)
          .limit(k)
    }
  }

  /** BM25 top-k through the index: list and read ONLY the buckets the
    * query terms hash into (explicit directory paths — O(|terms|)
    * listing RPCs however many buckets the index has — with the bucket
    * isin kept as the plan-visible witness of the prune), push the term
    * equality into the parquet scan, anti-join the
    * bounded tombstone set, derive per-term df from the pruned postings
    * themselves (no global df table to maintain), and sum 1e-9-quantized
    * term scores per doc — exact integer arithmetic, so the result is
    * independent of partitioning and engine. Shuffle: one groupBy over
    * the probed postings (∝ matched docs, not corpus) + the bounded
    * top-k. Same formula and rounding contract as
    * [[TextAnalysis.bm25TopK]].
    *
    * `allowed` is the O4 metadata predicate lowered to a one-column id
    * frame, exactly as on the ANN probes ([[Ann.ivfTopK]]): a left-semi
    * join gates CANDIDATE docs before scoring. Lucene filter-context
    * semantics — N, avgdl, and per-term df stay CORPUS-WIDE (a filter
    * narrows what may be returned, not what the words mean), so a doc's
    * score is the same with or without the filter. The frame may be any
    * size; Catalyst broadcasts it when small.
    *
    * `after` is the SEARCH-AFTER pagination cursor — the last row of the
    * previous page as its client-visible (bm25, id) pair: only documents
    * STRICTLY after it in the (bm25 DESC, id ASC) total order qualify.
    * The cursor compares the ROUNDED score (the value the caller was
    * handed), so a page boundary can never split a rounding tie
    * inconsistently, and because the order is total the pages are
    * gap-free and overlap-free however the corpus mutates scores above
    * the cursor — the property LIMIT/OFFSET pagination lacks. Cost is
    * the same single probe: the cursor is one more filter above the
    * per-doc aggregate, never a second pass. */
  def bm25TopK(spark: SparkSession, path: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      allowed: Option[DataFrame] = None,
      after: Option[(Double, String)] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = readStats(spark, path)
    import spark.implicits._
    // an empty index (never populated, or fully deleted) has no avgdl —
    // dividing would NaN-poison every score into a silent empty result;
    // return the explicit empty frame instead
    if (st.nDocs == 0L) return Seq.empty[(String, Double)].toDF("id", "bm25")
    val n = st.nDocs.toDouble
    val avgdl = st.sumDl.toDouble / st.nDocs
    // query terms pass through the analyzer the SIDECAR pins — the
    // index's own tokenization, so index-time and query-time can never
    // silently disagree (under `fold` a raw term may split)
    val terms = queryTerms.flatMap(TextAnalysis.tokensOf(_, st.analyzer)).distinct
    val buckets = Ann.distinctRows(terms.toDF("term").select(termBucket(st.nBuckets).as("b")))
      .map(_.getLong(0)).toSeq.sorted
    // list ONLY the probed bucket directories (explicit paths with
    // basePath, not a root read + filter): a root read's partition
    // discovery lists every bucket directory — O(nBuckets) RPCs and, past
    // Spark's parallel-discovery threshold, a whole listing job — before
    // pruning ever applies, while a keyword lookup should cost O(|terms|)
    // listings no matter how many buckets the index has. A term hashing
    // to a bucket nothing was ever routed to simply contributes no dir.
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) {
      return Seq.empty[(String, Double)].toDF("id", "bm25")
    }
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*)) // plan-visible prune witness
      .filter(col("term").isin(terms: _*))
    val live = dropTombstoned(spark, path, pruned)
    // per-term df from the probed postings (≤ |terms| rows, broadcast
    // back) — computed BEFORE the allow gate: idf is corpus-wide
    val dfs = live.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("__df__")) // (term, id) unique per layout
    val gated = allowed match {
      case Some(a) => live.join(
        a.select(col(a.columns.head).cast(StringType).as("id")), Seq("id"), "left_semi")
      case None => live
    }
    val idf = log((lit(n) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    val tf = col("tf").cast(DoubleType)
    val termScore = idf * tf /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / lit(avgdl)))
    val scored = gated.join(broadcast(dfs), Seq("term"))
      .withColumn("__qs__", round(termScore * 1e9).cast(LongType))
      .groupBy(col("id"))
      .agg(round(sum(col("__qs__")).cast(DoubleType) / 1e9, 6).as("bm25"))
      .filter(col("bm25") > 0d)
    val paged = after match {
      case Some((s0, id0)) => scored.filter(
        col("bm25") < s0 || (col("bm25") === s0 && col("id") > id0))
      case None => scored
    }
    paged
      .orderBy(col("bm25").desc, col("id"))
      .limit(k)
  }

  /** Collect-free BM25 for DataFrame-sized query batches — the batch
    * twin of [[bm25TopK]], same discipline as [[Ann.ivfTopKBatch]]:
    * nothing query-sized ever funnels through the driver. The ONE
    * driver-side collect is the distinct term-bucket id list, bounded
    * by nBuckets (index geometry), never by Q; those buckets read as
    * explicit directory paths, query terms join the postings on `term`
    * (distributed equi join), per-term df derives from the probed
    * postings, per-(query, doc) sums run over 1e-9-quantized longs, and
    * the bounded-heap [[TopKByScore]] reduces to k rows per query
    * (score DESC, id ASC ties — deterministic under the exact
    * cross-engine-equal quantized scores). Emits (qid, rank, id, bm25).
    *
    * `termsCol` is an `array<string>` column; duplicate terms within a
    * query deduplicate (BM25 query-side tf is binary here, matching
    * [[bm25TopK]]'s distinct-terms contract). `allowed` gates candidate
    * docs for EVERY query in the batch with [[bm25TopK]]'s
    * filter-context semantics (corpus-wide stats). */
  def bm25TopKBatch(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, termsCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val st = readStats(spark, path)
    import spark.implicits._
    // same empty-index guard as bm25TopK: no avgdl to divide by
    if (st.nDocs == 0L) {
      return Seq.empty[(String, Int, String, Double)].toDF("qid", "rank", "id", "bm25")
    }
    val n = st.nDocs.toDouble
    val avgdl = st.sumDl.toDouble / st.nDocs
    // batch queries fold through the sidecar's analyzer in-plan
    val analyzed = if (st.analyzer == "ws") col(termsCol)
      else TextAnalysis.foldTermsArray(col(termsCol))
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      array_distinct(analyzed).as("__terms__"))
    val qTerms = q.select(col("qid"), explode(col("__terms__")).as("term"))
      .localCheckpoint(true)
    val buckets = qTerms.select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) {
      return Seq.empty[(String, Int, String, Double)].toDF("qid", "rank", "id", "bm25")
    }
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*))
    val live = dropTombstoned(spark, path, pruned)
    // only postings some query asks for; df computed over that subset —
    // and BEFORE the allow gate, so idf stays corpus-wide
    val wanted = live.join(qTerms.select(col("term")).distinct(), Seq("term"), "left_semi")
    val dfs = wanted.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("__df__")) // (term, id) unique per layout
    val gated = allowed match {
      case Some(a) => wanted.join(
        a.select(col(a.columns.head).cast(StringType).as("id")), Seq("id"), "left_semi")
      case None => wanted
    }
    val idf = log((lit(n) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    val tf = col("tf").cast(DoubleType)
    val termScore = idf * tf /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / lit(avgdl)))
    gated
      .join(qTerms, Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .withColumn("__qs__", round(termScore * 1e9).cast(LongType))
      .groupBy(col("qid"), col("id"))
      .agg(round(sum(col("__qs__")).cast(DoubleType) / 1e9, 6).as("__score__"))
      .filter(col("__score__") > 0d)
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topk(col("__score__"), col("id"), k).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(col("qid"), (col("rank0") + 1).cast(IntegerType).as("rank"),
        col("hit.id").as("id"), col("hit.score").as("bm25"))
  }

  /** Boolean BM25 through the index — the Lucene-shaped query surface
    * (`+must should -mustNot`): candidates must contain EVERY `must`
    * term and NO `mustNot` term; the score is exactly [[bm25TopK]]'s
    * quantized sum over the `must` ++ `should` matches (a should term
    * contributes score when present, nothing when absent — it never
    * gates). One bucket-pruned probe covers all three clauses: the
    * must-coverage check is a per-doc count of distinct matched must
    * terms (postings are unique per (term, doc), so a plain conditional
    * count is exact), the mustNot clause is an anti-join of the
    * excluded terms' posting ids, and df/idf stay corpus-wide from the
    * probed postings, so a doc's score equals its [[bm25TopK]] score
    * for the same scoring terms. Emits (id, bm25).
    *
    * `mustPhrases` are EXACT-PHRASE must clauses (`+"spark sql"`): a
    * candidate must contain every phrase CONSECUTIVELY, verified
    * through the positional postings ([[phraseMatchesFrom]] — the same
    * in-row fold as [[phraseTopK]], fed from THIS probe's one read:
    * with phrases present the pruned live postings checkpoint once,
    * positions masked to the phrase terms, and the scoring, mustNot,
    * and phrase clauses all consume that materialization — no second
    * postings scan). Phrases GATE, they do not score (pass their words
    * in `must`/`should` to score them) — so the returned bm25 still
    * equals the plain probe's for the same scoring terms, and the
    * clause composes as a pure semi-join on the candidate set.
    *
    * `minShouldMatch` is Lucene's "at least N of the should terms"
    * knob: candidates must match ≥ that many DISTINCT should terms
    * (after analysis and must-dedup — a term listed in both clauses
    * counts as must only). It gates on the same per-doc matched-term
    * counts the must clause already aggregates, so the gate costs one
    * more conditional sum in the existing groupBy — scores are still
    * the plain probe's for the same scoring terms. */
  def bm25BooleanTopK(spark: SparkSession, path: String,
      must: Seq[String], should: Seq[String] = Seq.empty,
      mustNot: Seq[String] = Seq.empty, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      mustPhrases: Seq[Seq[String]] = Seq.empty,
      minShouldMatch: Int = 0): DataFrame = {
    require(must.nonEmpty || should.nonEmpty,
      "need at least one must or should term")
    require(mustPhrases.forall(_.nonEmpty), "a must-phrase may not be empty")
    require(k >= 1, s"k must be >= 1, got $k")
    require(minShouldMatch >= 0,
      s"minShouldMatch must be >= 0, got $minShouldMatch")
    val st = readStats(spark, path)
    import spark.implicits._
    if (st.nDocs == 0L) return Seq.empty[(String, Double)].toDF("id", "bm25")
    val n = st.nDocs.toDouble
    val avgdl = st.sumDl.toDouble / st.nDocs
    def analyzed(ts: Seq[String]): Seq[String] =
      ts.flatMap(TextAnalysis.tokensOf(_, st.analyzer)).distinct
    val mustT = analyzed(must)
    val shouldT = analyzed(should).filterNot(mustT.contains)
    require(minShouldMatch <= shouldT.size,
      s"minShouldMatch = $minShouldMatch exceeds the ${shouldT.size} distinct " +
        "analyzed should terms (terms duplicated in must count as must only) " +
        "— no document could ever satisfy it")
    val notT = analyzed(mustNot)
    val scoringT = mustT ++ shouldT
    val allT = (scoringT ++ notT).distinct
    // phrase terms under the PHRASE analysis contract (per-element
    // fold, no space-split — [[phraseQueryFrames]]' exact driver-side
    // twin), so the shared read below covers every posting both the
    // scoring and the phrase clause need
    val phraseT =
      if (mustPhrases.isEmpty) Seq.empty[String]
      else if (st.analyzer == "ws") mustPhrases.flatten.distinct
      else mustPhrases.flatten
        .flatMap(w => TextAnalysis.foldOf(w).split(" ", -1).toSeq).distinct
    val readT = (allT ++ phraseT).distinct
    val buckets = readT.toDF("term").select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return Seq.empty[(String, Double)].toDF("id", "bm25")
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(readT: _*))
    // ONE pruned read serves BOTH clauses: with phrases present, the
    // live frame MATERIALIZES once (positions masked to the phrase
    // terms, so scoring-only postings carry no position bytes) and the
    // scoring, mustNot, and phrase branches all read the checkpoint —
    // the final plan holds no second postings scan. Without phrases
    // the frame stays lazy and each branch column-prunes its own scan,
    // exactly the plain probe's plan (a checkpoint there would
    // force-materialize rows nothing else shares).
    val liveAll = dropTombstoned(spark, path, pruned)
    val live =
      if (mustPhrases.isEmpty) liveAll
      else liveAll.select(col("term"), col("id"), col("tf"), col("dl"),
          when(col("term").isin(phraseT: _*), col("pos")).as("pos"))
        .localCheckpoint(true)
    val scoring = live.filter(col("term").isin(scoringT: _*))
    val dfs = scoring.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("__df__")) // (term, id) unique per layout
    val idf = log((lit(n) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    val tf = col("tf").cast(DoubleType)
    val termScore = idf * tf /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / lit(avgdl)))
    val perDoc = scoring.join(broadcast(dfs), Seq("term"))
      .withColumn("__qs__", round(termScore * 1e9).cast(LongType))
      .groupBy(col("id"))
      .agg(round(sum(col("__qs__")).cast(DoubleType) / 1e9, 6).as("bm25"),
        sum(when(col("term").isin(mustT: _*), 1L).otherwise(0L)).as("__nmust__"),
        sum(when(col("term").isin(shouldT: _*), 1L).otherwise(0L)).as("__nshould__"))
      .filter(col("__nmust__") === mustT.size)
      .filter(col("__nshould__") >= minShouldMatch.toLong)
    val allowed = if (notT.isEmpty) perDoc
      else perDoc.join(
        live.filter(col("term").isin(notT: _*)).select(col("id")).distinct(),
        Seq("id"), "left_anti")
    // phrase must-clauses: a doc survives only when it matches EVERY
    // phrase (per-id distinct-phrase count == |mustPhrases|); the
    // phrase kernel reads the SHARED checkpointed probe — no second
    // postings scan — and the gate is a semi-join: candidates shrink,
    // scores don't change
    val phrased = if (mustPhrases.isEmpty) allowed else {
      import spark.implicits._
      val qPhr = mustPhrases.zipWithIndex
        .map { case (p, i) => (s"p$i", p) }.toDF("qid", "phrase")
      val (q, qTerms) = phraseQueryFrames(st, qPhr, "qid", "phrase")
      val hits = phraseMatchesFrom(
          live.filter(col("term").isin(phraseT: _*))
            .select(col("id"), col("term"), col("pos")),
          q, qTerms)
        .groupBy(col("id"))
        .agg(countDistinct(col("qid")).as("__np__"))
        .filter(col("__np__") === mustPhrases.size.toLong)
        .select(col("id"))
      allowed.join(hits, Seq("id"), "left_semi")
    }
    phrased
      .select(col("id"), col("bm25"))
      .filter(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("id"))
      .limit(k)
  }

  /** Proximity-boosted BM25 through the index — the ranking refinement
    * the POSITIONAL postings exist for beyond exact phrases: documents
    * where consecutive query terms appear NEAR each other rank above
    * bag-of-words-equal ones. Score =
    * `round(bm25 + proxWeight · pairs, 6)` where `bm25` is exactly
    * [[bm25TopK]]'s quantized sum and `pairs` counts, over every
    * consecutive ordered query-term pair (tᵢ, tᵢ₊₁), the positions p of
    * tᵢ followed by tᵢ₊₁ within `slop` intervening tokens (some q > p
    * with q − p − 1 ≤ slop; `slop = 0` is exact adjacency — the
    * bigram form) — an in-row fold over the per-term sorted position
    * arrays (the [[phraseTopK]] machinery applied pairwise), no extra
    * read: the same bucket-pruned probe supplies tf for the lexical
    * part and pos for the proximity part. Candidates are docs with
    * bm25 > 0 (any term matches); a doc missing a pair's terms
    * contributes 0 for that pair. Emits (id, score, bm25, pairs).
    *
    * This is the sloppy-phrase boost shape of Lucene's
    * `PhraseQuery(slop)` restricted to ORDERED pair matches, chosen
    * because the whole pipeline stays engine-exact for the oracle
    * (Lucene's full min-span edit-distance slop would need a per-doc
    * multi-array sweep the SQL twin can't mirror exactly). */
  def bm25ProxTopK(spark: SparkSession, path: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      proxWeight: Double = 0.5, slop: Int = 0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    require(proxWeight >= 0, s"proxWeight must be >= 0, got $proxWeight")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val st = readStats(spark, path)
    import spark.implicits._
    if (st.nDocs == 0L) {
      return Seq.empty[(String, Double, Double, Long)]
        .toDF("id", "score", "bm25", "pairs")
    }
    val n = st.nDocs.toDouble
    val avgdl = st.sumDl.toDouble / st.nDocs
    // the ORDERED analyzed token sequence drives adjacency; the distinct
    // set drives the probe (same analyzer contract as every probe)
    val ordered = queryTerms.flatMap(TextAnalysis.tokensOf(_, st.analyzer))
    val terms = ordered.distinct
    val buckets = Ann.distinctRows(terms.toDF("term").select(termBucket(st.nBuckets).as("b")))
      .map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) {
      return Seq.empty[(String, Double, Double, Long)]
        .toDF("id", "score", "bm25", "pairs")
    }
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val live = dropTombstoned(spark, path, pruned)
    val dfs = live.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("__df__")) // (term, id) unique per layout
    val idf = log((lit(n) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    val tf = col("tf").cast(DoubleType)
    val termScore = idf * tf /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / lit(avgdl)))
    val perDoc = live.join(broadcast(dfs), Seq("term"))
      .withColumn("__qs__", round(termScore * 1e9).cast(LongType))
      .groupBy(col("id"))
      .agg(sum(col("__qs__")).as("__sumqs__"),
        map_from_entries(collect_list(struct(col("term"), col("pos")))).as("__m__"))
    // proximity fold per consecutive ordered pair, unrolled as literals
    // (bounded by the query length, like phraseTopK's start test); a doc
    // missing either term of a pair coalesces to an empty array. At
    // slop = 0 `∃q: q > p ∧ q − p − 1 ≤ 0` is exactly `q = p + 1` —
    // the adjacency form this generalizes.
    val emptyPos = array().cast("array<int>")
    val pairCols = ordered.zip(ordered.tail).map { case (a, b2) =>
      size(filter(coalesce(element_at(col("__m__"), a), emptyPos),
        p => exists(coalesce(element_at(col("__m__"), b2), emptyPos),
          q => q > p && q - p - lit(1) <= lit(slop))))
        .cast(LongType)
    }
    val pairs =
      if (pairCols.isEmpty) lit(0L) else pairCols.reduce(_ + _)
    perDoc
      .withColumn("bm25", round(col("__sumqs__").cast(DoubleType) / 1e9, 6))
      .filter(col("bm25") > 0d)
      .withColumn("pairs", pairs)
      .withColumn("score",
        round(col("__sumqs__").cast(DoubleType) / 1e9 +
          lit(proxWeight) * col("pairs").cast(DoubleType), 6))
      .select(col("id"), col("score"), col("bm25"), col("pairs"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** BM25F multi-FIELD scoring through per-field indexes — the Lucene
    * multi-field shape (title boosted over body) with one [[build]]
    * layout per field, the same "separate terms dictionary per field"
    * decomposition Lucene itself uses. Simple BM25F
    * (Robertson/Zaragoza):
    * `score(d) = Σ_t idf(t) · tf̃ / (k1 + tf̃)` with the weighted
    * field-normalized frequency
    * `tf̃(t,d) = Σ_f boost_f · tf(t,f,d) / (1 − b_f + b_f·dl_f/avgdl_f)`
    * and DOC-level idf (`df(t)` counts a doc once however many fields
    * hold the term). Each field's probe is its own bucket-pruned read
    * (cost ∝ that field's matched postings); per-field avgdl comes
    * from each sidecar's exact longs. Determinism: the per-field
    * contribution quantizes to 1e-9 longs BEFORE the cross-field sum
    * and the per-term score quantizes again before the per-doc sum —
    * both grouped sums are exact integer arithmetic, engine-exact for
    * the oracle. Fields are (indexPath, boost, b); all field indexes
    * must share one analyzer and cover the same documents. Emits
    * (id, bm25f). */
  def bm25fTopK(spark: SparkSession, fields: Seq[(String, Double, Double)],
      queryTerms: Seq[String], k: Int, k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one (indexPath, boost, b) field")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = fields.map { case (p, _, _) => readStats(spark, p) }
    val analyzer0 = stats.head.analyzer
    require(stats.forall(_.analyzer == analyzer0),
      "field indexes must share one analyzer")
    val n = stats.head.nDocs
    require(stats.forall(_.nDocs == n),
      "field indexes must cover the same document set (equal n_docs)")
    requireSameCorpus(fields.map(_._1), stats)
    import spark.implicits._
    if (n == 0L) return Seq.empty[(String, Double)].toDF("id", "bm25f")
    val terms = queryTerms.flatMap(TextAnalysis.tokensOf(_, analyzer0)).distinct
    val perField = fields.zip(stats).flatMap { case ((p, boost, bf), st) =>
      require(bf >= 0 && bf <= 1, s"need 0 <= b <= 1 per field, got $bf")
      val buckets = terms.toDF("term").select(termBucket(st.nBuckets).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      val dirs = probedBucketDirs(spark, p, buckets)
      if (dirs.isEmpty) None else {
        val avgdl = st.sumDl.toDouble / st.nDocs
        val pruned = spark.read.option("basePath", s"$p/postings")
          .parquet(dirs: _*)
          .filter(col("bucket").isin(buckets: _*))
          .filter(col("term").isin(terms: _*))
        val live = dropTombstoned(spark, p, pruned)
        Some(live.select(col("term"), col("id"),
          round(lit(boost) * col("tf").cast(DoubleType) /
            (lit(1.0 - bf) + lit(bf) * col("dl").cast(DoubleType) / lit(avgdl)) * 1e9)
            .cast(LongType).as("__wtfq__")))
      }
    }
    if (perField.isEmpty) return Seq.empty[(String, Double)].toDF("id", "bm25f")
    val unioned = perField.reduce(_ unionByName _)
    // DOC-level df: a doc counts once per term however many fields
    // hold it — the one aggregate here that genuinely needs distinct
    val dfs = unioned.select(col("term"), col("id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast(DoubleType).as("__df__"))
    val idf = log((lit(n.toDouble) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    unioned
      .groupBy(col("term"), col("id"))
      .agg(sum(col("__wtfq__")).as("__wtfq__"))
      .join(broadcast(dfs), Seq("term"))
      .withColumn("__wtf__", col("__wtfq__").cast(DoubleType) / 1e9)
      .withColumn("__qs__",
        round(idf * col("__wtf__") / (lit(k1) + col("__wtf__")) * 1e9).cast(LongType))
      .groupBy(col("id"))
      .agg(round(sum(col("__qs__")).cast(DoubleType) / 1e9, 6).as("bm25f"))
      .filter(col("bm25f") > 0d)
      .orderBy(col("bm25f").desc, col("id"))
      .limit(k)
  }

  /** Fail fast when per-field indexes demonstrably cover different
    * documents: compare the sidecars' live-id fingerprints
    * ([[InvStats.corpusFp]]) when every field records one. Equal counts
    * alone (already required by the callers) are accepted for legacy
    * indexes without a fingerprint — coincidentally-equal counts over
    * different documents then pass, the documented weaker check. */
  private def requireSameCorpus(paths: Seq[String], stats: Seq[InvStats]): Unit = {
    val fps = stats.map(_.corpusFp)
    if (fps.forall(_.isDefined)) {
      require(fps.distinct.size == 1,
        s"field indexes must cover the same document set — live-id " +
          s"fingerprints differ across ${paths.mkString("[", ", ", "]")} " +
          "(a delete/append applied to one field index only? use " +
          "deleteFields to keep a BM25F group coherent)")
    }
  }

  /** Collect-free BM25F for DataFrame-sized query batches — the batch
    * twin of [[bm25fTopK]] under [[bm25TopKBatch]]'s discipline: the
    * per-field driver collects are the distinct term-bucket id lists
    * (bounded by each field's nBuckets, never Q); each field's pruned
    * postings semi-join the batch's distinct terms, per-field
    * contributions quantize to 1e-9 longs, the cross-field sum groups
    * per (term, id) ONCE for the whole batch (tf̃ is query-independent
    * — queries fan out only after the per-term scores are final),
    * doc-level df counts the grouped (term, id) rows, and the
    * bounded-heap [[graft.functions.TopKByScore]] reduces to k rows per
    * query. Emits (qid, rank, id, bm25f) with [[bm25fTopK]]'s exact
    * quantized arithmetic — batch equals single, rank for rank. */
  def bm25fTopKBatch(spark: SparkSession, fields: Seq[(String, Double, Double)],
      queries: DataFrame, qidCol: String, termsCol: String, k: Int,
      k1: Double = 1.2): DataFrame = {
    require(fields.nonEmpty, "need at least one (indexPath, boost, b) field")
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = fields.map { case (p, _, _) => readStats(spark, p) }
    val analyzer0 = stats.head.analyzer
    require(stats.forall(_.analyzer == analyzer0),
      "field indexes must share one analyzer")
    val n = stats.head.nDocs
    require(stats.forall(_.nDocs == n),
      "field indexes must cover the same document set (equal n_docs)")
    requireSameCorpus(fields.map(_._1), stats)
    import spark.implicits._
    def empty = Seq.empty[(String, Int, String, Double)]
      .toDF("qid", "rank", "id", "bm25f")
    if (n == 0L) return empty
    val analyzed = if (analyzer0 == "ws") col(termsCol)
      else TextAnalysis.foldTermsArray(col(termsCol))
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      array_distinct(analyzed).as("__terms__"))
    val qTerms = q.select(col("qid"), explode(col("__terms__")).as("term"))
      .localCheckpoint(true)
    val distinctTerms = qTerms.select(col("term")).distinct()
    val perField = fields.zip(stats).flatMap { case ((p, boost, bf), st) =>
      require(bf >= 0 && bf <= 1, s"need 0 <= b <= 1 per field, got $bf")
      val buckets = qTerms.select(termBucket(st.nBuckets).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      val dirs = probedBucketDirs(spark, p, buckets)
      if (dirs.isEmpty) None else {
        val avgdl = st.sumDl.toDouble / st.nDocs
        val pruned = spark.read.option("basePath", s"$p/postings")
          .parquet(dirs: _*)
          .filter(col("bucket").isin(buckets: _*))
          .join(distinctTerms, Seq("term"), "left_semi")
        val live = dropTombstoned(spark, p, pruned)
        Some(live.select(col("term"), col("id"),
          round(lit(boost) * col("tf").cast(DoubleType) /
            (lit(1.0 - bf) + lit(bf) * col("dl").cast(DoubleType) / lit(avgdl)) * 1e9)
            .cast(LongType).as("__wtfq__")))
      }
    }
    if (perField.isEmpty) return empty
    // (term, id) grouped ONCE for the whole batch: tf̃ and the per-term
    // score are query-independent, so the qid fan-out happens after
    // they are final — no per-query recompute, no per-query shuffle of
    // the postings
    val byTermDoc = perField.reduce(_ unionByName _)
      .groupBy(col("term"), col("id"))
      .agg(sum(col("__wtfq__")).as("__wtfq__"))
    // doc-level df: the grouped rows ARE the distinct (term, id) pairs
    val dfs = byTermDoc.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("__df__"))
    val idf = log((lit(n.toDouble) - col("__df__") + 0.5) / (col("__df__") + 0.5) + 1.0)
    byTermDoc
      .join(broadcast(dfs), Seq("term"))
      .withColumn("__wtf__", col("__wtfq__").cast(DoubleType) / 1e9)
      .withColumn("__qs__",
        round(idf * col("__wtf__") / (lit(k1) + col("__wtf__")) * 1e9).cast(LongType))
      .join(qTerms, Seq("term"))
      .groupBy(col("qid"), col("id"))
      .agg(round(sum(col("__qs__")).cast(DoubleType) / 1e9, 6).as("__score__"))
      .filter(col("__score__") > 0d)
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topk(col("__score__"), col("id"), k).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(col("qid"), (col("rank0") + 1).cast(IntegerType).as("rank"),
        col("hit.id").as("id"), col("hit.score").as("bm25f"))
  }

  /** Match snippets through the index — the consumer the positional
    * offsets ([[containsPhrases]]) exist for: for every (query, doc)
    * phrase match, cut a ±`window`-token context around the FIRST
    * occurrence from the doc text and report it with the match count
    * and offset. The index supplies matches and positions (bucket-
    * pruned probe); the doc TEXT comes from the caller's corpus frame,
    * joined only for matched ids (an equi join the optimizer gates with
    * the match set — output ∝ matches, and no text ever shuffles except
    * the matched docs'). Tokenization of the text follows the index's
    * recorded analyzer, so offsets align with the stored positions.
    * Emits (qid, id, n_phrase, first_off, snippet). */
  def snippets(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, queries: DataFrame,
      qidCol: String, phraseCol: String, window: Int = 3): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val st = readStats(spark, path)
    val m = containsPhrases(spark, path, queries, qidCol, phraseCol)
    // the phrase LENGTH in analyzed-token space bounds the snippet's
    // right edge; recompute it under the index's analyzer exactly as
    // the probe did
    val analyzedPhrase =
      if (st.analyzer == "ws") col(phraseCol).cast(ArrayType(StringType))
      else TextAnalysis.foldTermsArray(col(phraseCol).cast(ArrayType(StringType)))
    val qLen = queries.select(col(qidCol).cast(StringType).as("qid"),
      size(analyzedPhrase).as("__qlen__"))
    // raw text rides through the join; tokenization applies AFTER it,
    // so only the matched docs pay the split
    val d = docs.select(col(idCol).cast(StringType).as("id"),
      col(textCol).as("__text__"))
    m.join(qLen, Seq("qid"))
      .join(d, Seq("id"))
      .withColumn("__toks__", TextAnalysis.tokens(col("__text__"), st.analyzer))
      .withColumn("first_off", element_at(col("offsets"), 1))
      .withColumn("__start__", greatest(col("first_off") - window, lit(0)))
      .withColumn("snippet", array_join(
        slice(col("__toks__"), col("__start__") + 1,
          col("first_off") + col("__qlen__") + window - col("__start__")), " "))
      .select(col("qid"), col("id"), col("n_phrase"),
        col("first_off").cast(LongType).as("first_off"), col("snippet"))
  }

  /** [[snippets]] with the doc text from the index's OWN doc store
    * ([[fetchDocs]] — requires `storeText = true`) instead of a
    * caller-supplied corpus frame: the whole render — match positions,
    * ranking inputs, and the text itself — reads only term-bucket and
    * dbucket directories proportional to the query and its matches,
    * never the corpus. The match set is materialized first (it is
    * output-sized by construction) because the doc fetch derives its
    * pruned dbucket list from the matched ids. */
  def snippets(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, phraseCol: String, window: Int): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val st = readStats(spark, path)
    val m = containsPhrases(spark, path, queries, qidCol, phraseCol)
      .localCheckpoint(true)
    val analyzedPhrase =
      if (st.analyzer == "ws") col(phraseCol).cast(ArrayType(StringType))
      else TextAnalysis.foldTermsArray(col(phraseCol).cast(ArrayType(StringType)))
    val qLen = queries.select(col(qidCol).cast(StringType).as("qid"),
      size(analyzedPhrase).as("__qlen__"))
    val d = fetchDocs(spark, path, m.select(col("id")).distinct())
      .select(col("id"), col("text").as("__text__"))
    m.join(qLen, Seq("qid"))
      .join(d, Seq("id"))
      .withColumn("__toks__", TextAnalysis.tokens(col("__text__"), st.analyzer))
      .withColumn("first_off", element_at(col("offsets"), 1))
      .withColumn("__start__", greatest(col("first_off") - window, lit(0)))
      .withColumn("snippet", array_join(
        slice(col("__toks__"), col("__start__") + 1,
          col("first_off") + col("__qlen__") + window - col("__start__")), " "))
      .select(col("qid"), col("id"), col("n_phrase"),
        col("first_off").cast(LongType).as("first_off"), col("snippet"))
  }

  /** MULTI-occurrence snippets — [[snippets]] beyond the first match: a
    * doc with many phrase hits renders up to `maxPerDoc` context
    * windows. Overlapping or touching windows MERGE (a run of nearby
    * hits reads as one passage, not repeated half-identical slices):
    * per (query, doc), each match offset opens the token interval
    * [off − window, off + qlen − 1 + window]; ascending offsets make
    * interval ends monotone, so the classic gap-and-island pass — a
    * new island exactly where a start clears the previous end by more
    * than one token — runs as one lag + running-sum window PARTITIONED
    * by (qid, id) (bounded by a doc's match count; never global).
    * Islands rank by start; the first `maxPerDoc` render. Text comes
    * from the index's doc store ([[fetchDocs]]), so the whole render
    * stays corpus-scan-free. Emits
    * (qid, id, snip_no, n_hits, win_start, win_end, snippet) — n_hits
    * = matches merged into the window, win_* = 0-based token bounds. */
  def snippetsMulti(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, phraseCol: String, window: Int = 3,
      maxPerDoc: Int = 3): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    require(maxPerDoc >= 1, s"maxPerDoc must be >= 1, got $maxPerDoc")
    import org.apache.spark.sql.expressions.Window
    val st = readStats(spark, path)
    val m = containsPhrases(spark, path, queries, qidCol, phraseCol)
      .localCheckpoint(true)
    val analyzedPhrase =
      if (st.analyzer == "ws") col(phraseCol).cast(ArrayType(StringType))
      else TextAnalysis.foldTermsArray(col(phraseCol).cast(ArrayType(StringType)))
    val qLen = queries.select(col(qidCol).cast(StringType).as("qid"),
      size(analyzedPhrase).as("__qlen__"))
    val occ = m.join(qLen, Seq("qid"))
      .select(col("qid"), col("id"), col("__qlen__"),
        explode(col("offsets")).as("off"))
      .withColumn("s", greatest(col("off") - window, lit(0)).cast(LongType))
      .withColumn("e", (col("off") + col("__qlen__") - 1 + window).cast(LongType))
    val byOff = Window.partitionBy(col("qid"), col("id")).orderBy(col("off"))
    val isl = occ
      .withColumn("__new__",
        when(col("s") > lag(col("e"), 1).over(byOff) + 1L, 1L)
          .otherwise(when(lag(col("e"), 1).over(byOff).isNull, 1L).otherwise(0L)))
      .withColumn("__isl__", sum(col("__new__"))
        .over(byOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("qid"), col("id"), col("__isl__"))
      .agg(count(lit(1)).as("n_hits"), min(col("s")).as("win_start"),
        max(col("e")).as("win_end"))
    val ranked = isl
      .withColumn("snip_no", row_number()
        .over(Window.partitionBy(col("qid"), col("id")).orderBy(col("win_start")))
        .cast(IntegerType))
      .filter(col("snip_no") <= maxPerDoc)
    val d = fetchDocs(spark, path, m.select(col("id")).distinct())
      .select(col("id"), col("text").as("__text__"))
    ranked.join(d, Seq("id"))
      .withColumn("__toks__", TextAnalysis.tokens(col("__text__"), st.analyzer))
      .withColumn("snippet", array_join(
        slice(col("__toks__"), (col("win_start") + 1).cast(IntegerType),
          (col("win_end") - col("win_start") + 1).cast(IntegerType)), " "))
      .select(col("qid"), col("id"), col("snip_no"), col("n_hits"),
        col("win_start"), col("win_end"), col("snippet"))
  }

  /** TERM highlights — the render path for NON-phrase results: a plain
    * [[bm25TopK]] / [[bm25BooleanTopK]] top-k has no phrase offsets for
    * [[snippets]] to cut around, but every query term's occurrence
    * positions are already in the POSITIONAL postings, so the docs are
    * never re-scanned to find matches. For each doc of `docs` (an
    * id frame — typically a probe's top-k, so broadcast-sized by
    * contract) and each analyzed query term, every occurrence opens the
    * token interval [off − window, off + window]; overlapping-or-
    * touching intervals MERGE across ALL the query's terms (the
    * [[snippetsMulti]] gap-and-island pass, partitioned per doc — a
    * passage where several query words cluster renders once, not once
    * per word), and the first `maxPerDoc` windows by start render
    * through the doc store ([[fetchDocs]] — requires `storeText`).
    *
    * Cost: term-bucket-pruned postings of the query terms, gated by a
    * broadcast semi-join on the docs frame BEFORE the position explode
    * (rows ∝ the requested docs' own occurrences, never a term's corpus
    * df), plus the matched ids' dbucket point lookups — no corpus scan
    * anywhere. Emits (id, snip_no, n_hits, terms_hit, win_start,
    * win_end, snippet): n_hits = occurrences merged into the window,
    * terms_hit = sorted distinct matched terms of the window
    * (comma-joined), win_* = 0-based token bounds (win_end unclamped,
    * like [[snippetsMulti]] — the slice clamps at the doc's edge). */
  def highlightTerms(spark: SparkSession, path: String, docs: DataFrame,
      queryTerms: Seq[String], window: Int = 3, maxPerDoc: Int = 3): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(window >= 0, s"window must be >= 0, got $window")
    require(maxPerDoc >= 1, s"maxPerDoc must be >= 1, got $maxPerDoc")
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val st = readStats(spark, path)
    val terms = queryTerms.flatMap(TextAnalysis.tokensOf(_, st.analyzer)).distinct
    def empty = Seq.empty[(String, Int, Long, String, Long, Long, String)]
      .toDF("id", "snip_no", "n_hits", "terms_hit", "win_start", "win_end", "snippet")
    val ids = docs.select(col(docs.columns.head).cast(StringType).as("id"))
      .distinct().localCheckpoint(true)
    val buckets = Ann.distinctRows(terms.toDF("term").select(termBucket(st.nBuckets).as("b")))
      .map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return empty
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("pos"))
    // docs gate FIRST — the explode below fans out per occurrence, so
    // only the requested docs' postings ever widen; the tombstone
    // anti-join keeps the uniform live-read contract even though a
    // caller's probe output is live by construction
    val gated = dropTombstoned(spark, path,
      pruned.join(broadcast(ids), Seq("id"), "left_semi"))
    val occ = gated
      .select(col("id"), col("term"), explode(col("pos")).as("off"))
      .withColumn("s", greatest(col("off") - window, lit(0)).cast(LongType))
      .withColumn("e", (col("off") + window).cast(LongType))
    // ascending offsets make interval ends monotone (one token = one
    // term, so offsets are unique per doc): the gap-and-island pass is
    // one lag + running sum, partitioned per doc — never global
    val byOff = Window.partitionBy(col("id")).orderBy(col("off"))
    val isl = occ
      .withColumn("__new__",
        when(col("s") > lag(col("e"), 1).over(byOff) + 1L, 1L)
          .otherwise(when(lag(col("e"), 1).over(byOff).isNull, 1L).otherwise(0L)))
      .withColumn("__isl__", sum(col("__new__"))
        .over(byOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("__isl__"))
      .agg(count(lit(1)).as("n_hits"),
        array_join(array_sort(collect_set(col("term"))), ",").as("terms_hit"),
        min(col("s")).as("win_start"), max(col("e")).as("win_end"))
    val ranked = isl
      .withColumn("snip_no", row_number()
        .over(Window.partitionBy(col("id")).orderBy(col("win_start")))
        .cast(IntegerType))
      .filter(col("snip_no") <= maxPerDoc)
      .localCheckpoint(true) // output-sized; the doc fetch derives its dbuckets from it
    val d = fetchDocs(spark, path, ranked.select(col("id")).distinct())
      .select(col("id"), col("text").as("__text__"))
    ranked.join(d, Seq("id"))
      .withColumn("__toks__", TextAnalysis.tokens(col("__text__"), st.analyzer))
      .withColumn("snippet", array_join(
        slice(col("__toks__"), (col("win_start") + 1).cast(IntegerType),
          (col("win_end") - col("win_start") + 1).cast(IntegerType)), " "))
      .select(col("id"), col("snip_no"), col("n_hits"), col("terms_hit"),
        col("win_start"), col("win_end"), col("snippet"))
  }

  /** [[highlightTerms]] for a query BATCH — the collect-free twin under
    * the same discipline as every other probe family's batch form: the
    * natural consumer of [[bm25TopKBatch]] output. `queries` carries
    * (qid, terms) and `docs` the (qid, id) pairs to render (each
    * query's own top-k — output-sized by contract). Occurrence windows
    * merge per (qid, doc) over exactly THAT query's terms; everything
    * else — gap-and-island, maxPerDoc rank, doc-store render — matches
    * the single-query form row for row.
    *
    * Plan: ONE bucket-pruned postings read covers the batch's distinct
    * terms; the (qid, id) docs gate applies BEFORE the per-occurrence
    * explode AND before the qid fan-out (a Zipf-common term's postings
    * never widen by the queries containing it — the broadcast docs
    * semi-join bounds rows by the requested pairs' own occurrences).
    * The driver collect is the distinct term-bucket list, bounded by
    * nBuckets. Emits (qid, id, snip_no, n_hits, terms_hit, win_start,
    * win_end, snippet). */
  def highlightTermsBatch(spark: SparkSession, path: String,
      queries: DataFrame, qidCol: String, termsCol: String,
      docs: DataFrame, docQidCol: String, docIdCol: String,
      window: Int = 3, maxPerDoc: Int = 3): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    require(maxPerDoc >= 1, s"maxPerDoc must be >= 1, got $maxPerDoc")
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val st = readStats(spark, path)
    val analyzed = if (st.analyzer == "ws") col(termsCol)
      else TextAnalysis.foldTermsArray(col(termsCol))
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      array_distinct(analyzed).as("__terms__"))
    val qTerms = q.select(col("qid"), explode(col("__terms__")).as("term"))
      .localCheckpoint(true)
    val pairs = docs.select(col(docQidCol).cast(StringType).as("qid"),
      col(docIdCol).cast(StringType).as("id")).distinct().localCheckpoint(true)
    def empty = Seq.empty[(String, String, Int, Long, String, Long, Long, String)]
      .toDF("qid", "id", "snip_no", "n_hits", "terms_hit",
        "win_start", "win_end", "snippet")
    val buckets = qTerms.select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return empty
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*))
      .join(qTerms.select(col("term")).distinct(), Seq("term"), "left_semi")
      .select(col("id"), col("term"), col("pos"))
    // docs-id gate BEFORE the qid fan-out and the occurrence explode
    val gated = dropTombstoned(spark, path,
      pruned.join(broadcast(pairs.select(col("id")).distinct()), Seq("id"), "left_semi"))
    val occ = gated
      .join(qTerms, Seq("term")) // qid fan-out of docs-gated rows only
      .join(broadcast(pairs), Seq("qid", "id"), "left_semi")
      .select(col("qid"), col("id"), col("term"), explode(col("pos")).as("off"))
      .withColumn("s", greatest(col("off") - window, lit(0)).cast(LongType))
      .withColumn("e", (col("off") + window).cast(LongType))
    val byOff = Window.partitionBy(col("qid"), col("id")).orderBy(col("off"))
    val isl = occ
      .withColumn("__new__",
        when(col("s") > lag(col("e"), 1).over(byOff) + 1L, 1L)
          .otherwise(when(lag(col("e"), 1).over(byOff).isNull, 1L).otherwise(0L)))
      .withColumn("__isl__", sum(col("__new__"))
        .over(byOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("qid"), col("id"), col("__isl__"))
      .agg(count(lit(1)).as("n_hits"),
        array_join(array_sort(collect_set(col("term"))), ",").as("terms_hit"),
        min(col("s")).as("win_start"), max(col("e")).as("win_end"))
    val ranked = isl
      .withColumn("snip_no", row_number()
        .over(Window.partitionBy(col("qid"), col("id")).orderBy(col("win_start")))
        .cast(IntegerType))
      .filter(col("snip_no") <= maxPerDoc)
      .localCheckpoint(true) // output-sized; the doc fetch derives its dbuckets from it
    val d = fetchDocs(spark, path, ranked.select(col("id")).distinct())
      .select(col("id"), col("text").as("__text__"))
    ranked.join(d, Seq("id"))
      .withColumn("__toks__", TextAnalysis.tokens(col("__text__"), st.analyzer))
      .withColumn("snippet", array_join(
        slice(col("__toks__"), (col("win_start") + 1).cast(IntegerType),
          (col("win_end") - col("win_start") + 1).cast(IntegerType)), " "))
      .select(col("qid"), col("id"), col("snip_no"), col("n_hits"),
        col("terms_hit"), col("win_start"), col("win_end"), col("snippet"))
  }

  /** Per-term document frequency through the index: (term, df) for the
    * terms of `terms(termCol)`, from the pruned LIVE postings (term
    * buckets listed explicitly, tombstones anti-joined) — the rarity
    * probe MLT term selection ([[TextAnalysis.mltQueriesIdx]]) and
    * rarest-term nomination need, with no corpus pass and no global df
    * table to maintain. Terms absent from the index are absent from
    * the output. The one driver collect is the distinct term-bucket id
    * list — bounded by nBuckets, never by the term count. The terms
    * frame is evaluated twice (bucket derivation + the postings
    * semi-join) — pass a materialized frame if it is expensive to
    * recompute, the way [[TextAnalysis.mltQueriesIdx]] does; not
    * checkpointing here keeps a streaming microbatch one job leaner. */
  def termDfs(spark: SparkSession, path: String, terms: DataFrame,
      termCol: String): DataFrame = {
    val st = readStats(spark, path)
    val t = terms.select(col(termCol).cast(StringType).as("term")).distinct()
    val buckets = t.select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // FAST PATH — the term-stats layout: vocab-sized (bucket, term, df)
    // rows instead of a postings count (which for Zipf-common terms
    // grows with the corpus — the one corpus-proportional cost MLT
    // serving had left). LIVE-exact at ANY tombstone debt level: build
    // exact, append deltas exact because appends are ids-disjoint,
    // every delete appends its generation's NEGATIVE df rows (see the
    // term-stats-deltas protocol at [[reconcileTermDeltas]], which this
    // gate runs — a no-op marker listing when nothing is pending), and
    // compact atomically replaces rewritten buckets with a live
    // recompute. Only a legacy tombstone set (rows predating
    // sv/tbuckets) or a pre-termstats index falls back to the exact
    // postings count below.
    val fs = statsFs(spark, path)
    healTombstoneSwap(fs, path)
    if (reconcileTermDeltas(spark, path)) {
      // swap residue of a crashed compact heals inside probedDirs
      val dirs = probedDirs(spark, s"$path/termstats", "bucket", buckets)
      if (dirs.isEmpty) return t.select(col("term"), lit(0L).as("df")).limit(0)
      return spark.read.option("basePath", s"$path/termstats")
        .parquet(dirs: _*)
        .filter(col("bucket").isin(buckets: _*)) // plan-visible prune witness
        .join(t, Seq("term"), "left_semi")
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df")) // sums build row + append/delete deltas
        .filter(col("df") > 0L) // fully-tombstoned terms: absent, like the live count
    }
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return t.select(col("term"), lit(0L).as("df")).limit(0)
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .select(col("id"), col("term"))
    val live = dropTombstoned(spark, path, pruned)
    live.join(t, Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // (term, id) unique per layout
  }

  /** The term DICTIONARY as a frame — every distinct live term with its
    * exact document frequency, the substrate for dictionary-shaped
    * queries (prefix suggestion, fuzzy expansion) whose predicates
    * cannot hash-prune (a prefix says nothing about xxhash64(term), so
    * the probe legitimately reads every bucket — of the VOCAB-sized
    * layout, never the postings). Source preference:
    *
    *   - `termstats/` when present and LIVE-exact (no debt, or every
    *     delete generation's negative deltas landed — the
    *     [[reconcileTermDeltas]] protocol): (bucket, term, df) rows,
    *     build row + append/delete deltas summed per term, and
    *     corpus-independent (Heaps'-law vocab growth only). This is the
    *     steady-state path even under a tombstone trickle — and it is
    *     served from a CONSOLIDATED SNAPSHOT (`termstats/_dictsnap`):
    *     the pre-aggregated dictionary in one small file, keyed on
    *     (stats version, landed delta generations) so any state change
    *     invalidates it, rebuilt on first demand. The per-call cost is
    *     one marker listing + one small read — independent of the
    *     bucket count, where the raw layout walk grows O(√N) with the
    *     corpus (the NOTES honest-negative this retires).
    *   - termstats present but the tombstone set is LEGACY (rows
    *     predating sv/tbuckets, so generations cannot be keyed):
    *     candidate TERMS still come from the dictionary (a tombstone
    *     never invents a term), but df recomputes live through
    *     [[termDfs]] — which itself bucket-prunes to the candidates, so
    *     the fallback pays vocab scan + candidate-bucket postings,
    *     not a corpus scan.
    *   - no termstats (an index predating the layout): the documented
    *     slow path, one full postings scan projecting (term, id).
    *
    * Dead terms (every posting tombstoned) emit df = 0 and are dropped.
    * Emits (term, df). */
  /** Consolidated dictionary SNAPSHOT key — the exact state a snapshot
    * was aggregated from. The stats version alone is NOT a complete
    * key: a crashed delete's term deltas can land during a serving
    * read's reconcile WITHOUT a version bump (the stats catch-up
    * happens at the next mutation entry), so the key also folds the
    * set of landed generation markers. Deferred generations never
    * reach a snapshot at all (they make the reconcile non-exact). */
  private def dictSnapKey(v: Long, landed: Set[Long]): String = {
    val gens =
      if (landed.isEmpty) "0"
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(landed.toSeq.sorted.mkString(",").getBytes("UTF-8"))
          .take(6).map("%02x".format(_)).mkString
      }
    s"v$v-g$gens"
  }

  private def dictSnapDir(path: String): String = s"$path/termstats/_dictsnap"

  /** Persist the aggregated (term, df) dictionary as the snapshot for
    * `key` — staged under a unique dot-prefixed sibling, committed by
    * one atomic rename (rename-if-absent: a concurrent builder of the
    * SAME key loses the rename and adopts the winner's files), then
    * superseded snapshots/stages of OLDER versions retire. A reader
    * pinned on a snapshot a newer state just retired is the same
    * documented race class as compact's bucket swap (single logical
    * writer per index). Returns a reader over the committed files. */
  private def writeDictSnapshot(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, v: Long,
      key: String, dict: DataFrame): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dictSnapDir(path))
    fs.mkdirs(root)
    val target = new org.apache.hadoop.fs.Path(root, key)
    val stage = new org.apache.hadoop.fs.Path(root,
      s".stage-$key-${java.util.UUID.randomUUID().toString.take(8)}")
    // one file: the dictionary is vocab-sized (Heaps'-law growth), and
    // every consumer (suggest prefix filter, fuzzy edit-distance scan)
    // reads all of it anyway — a single ~tens-of-MB file at 8M docs
    dict.repartition(1).write.mode("overwrite").parquet(stage.toString)
    if (!fs.rename(stage, target)) fs.delete(stage, true)
    def verOf(nm: String): Option[Long] = {
      val core = nm.stripPrefix(".stage-").stripPrefix("v").takeWhile(_.isDigit)
      if (core.nonEmpty) Some(core.toLong) else None
    }
    fs.listStatus(root).map(_.getPath)
      .filter { p =>
        val nm = p.getName
        nm != key && !nm.startsWith(s".stage-$key-") &&
          verOf(nm).exists(_ < v)
      }
      .foreach(fs.delete(_, true))
    spark.read.schema("term STRING, df BIGINT").parquet(target.toString)
  }

  def termDictionary(spark: SparkSession, path: String): DataFrame = {
    val st = readStats(spark, path)
    import spark.implicits._
    if (st.nDocs == 0L) return Seq.empty[(String, Long)].toDF("term", "df")
    val fs = statsFs(spark, path)
    healTombstoneSwap(fs, path)
    val tsRoot = new org.apache.hadoop.fs.Path(s"$path/termstats")
    if (fs.exists(tsRoot)) {
      // heal staged-compaction residue (bucket renamed to .compact.old,
      // replacement not yet renamed in) BEFORE the full-vocab read —
      // termDfs' fast path heals inside probedDirs, but this read lists
      // the root directly, so it must sweep the same recovery itself
      Ann.recoverStagedDirs(fs, tsRoot)
      // reconcile BEFORE the read: a pending delete generation lands
      // its delta files here, and a frame created earlier would have
      // snapshotted the file listing without them
      val exact = reconcileTermDeltas(spark, path)
      // the bucket-dir list comes from ONE root listing (a single RPC,
      // bounded by index geometry) and feeds the reader as EXPLICIT
      // leaf paths with an EXPLICIT schema: a bare root read instead
      // walks the nBuckets partition dirs sequentially on the driver
      // and opens a footer for schema inference — O(nBuckets) serial
      // RPCs on every suggest/fuzzy/didYouMean call, the listing cost
      // the 8M curve measured dwarfing the vocab data itself. With
      // > spark.sql.sources.parallelPartitionDiscovery.threshold
      // explicit paths, Spark lists the leaf files in a distributed
      // job; base rows and delta files share the (term, df) schema by
      // layout contract, so no footer needs opening.
      def dictDirs(): Seq[String] = fs.listStatus(tsRoot).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("bucket="))
        .map(_.toString).toSeq.sorted
      if (exact) {
        // CONSOLIDATED SNAPSHOT fast path: the steady-state dictionary
        // read is ONE marker-dir listing + one small parquet read —
        // per-call cost independent of nBuckets. The √N bucket walk
        // above (measured 0.55/0.79/1.31 s at 500k/2M/8M docs, NOTES
        // "honest negatives") is paid once per STATE CHANGE, when the
        // snapshot for the current (stats version, landed generations)
        // key is first demanded, instead of on every
        // suggest/fuzzy/didYouMean call.
        val vNow = readStatsVersioned(spark, path)._2
        val key = dictSnapKey(vNow, readDeltaMarkers(fs, path).landed)
        val snap = new org.apache.hadoop.fs.Path(dictSnapDir(path), key)
        if (fs.exists(snap))
          return spark.read.schema("term STRING, df BIGINT").parquet(snap.toString)
        val dirs = dictDirs()
        if (dirs.isEmpty) return Seq.empty[(String, Long)].toDF("term", "df")
        val agg = spark.read.schema("term STRING, df BIGINT")
          .parquet(dirs: _*)
          .groupBy(col("term"))
          .agg(sum(col("df")).as("df")) // build row + append/delete deltas
          .filter(col("df") > 0L)
        return writeDictSnapshot(spark, fs, path, vNow, key, agg)
      }
      // non-exact (legacy tombstones / deferring generation): candidate
      // terms from the raw layout, dfs recomputed live — never snapshot
      val dirs = dictDirs()
      if (dirs.isEmpty) return Seq.empty[(String, Long)].toDF("term", "df")
      val dict = spark.read.schema("term STRING, df BIGINT")
        .parquet(dirs: _*)
      return termDfs(spark, path, dict.select(col("term")).distinct(), "term")
        .filter(col("df") > 0L)
    }
    val live = dropTombstoned(spark, path,
      spark.read.parquet(s"$path/postings").select(col("id"), col("term")))
    live.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // (term, id) unique per layout
  }

  /** Prefix term suggestion (autocomplete): the k most frequent live
    * terms starting with `prefix`, ranked by exact document frequency
    * (ties by term). The prefix folds through the sidecar's analyzer
    * first — querying `Spa` against a fold index suggests `spark`, and
    * index-time/query-time tokenization can never silently disagree.
    * Cost: one [[termDictionary]] read (vocab-sized) + a k-bounded
    * top-k; the postings never open on the fast path. Emits (term, df). */
  def suggestTerms(spark: SparkSession, path: String, prefix: String,
      k: Int): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = readStats(spark, path)
    val ps = TextAnalysis.tokensOf(prefix, st.analyzer)
    require(ps.size == 1,
      s"prefix must analyze to exactly one token under the index's " +
        s"'${st.analyzer}' analyzer, got ${ps.size}: $ps")
    termDictionary(spark, path)
      .filter(col("term").startsWith(ps.head))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** "DID YOU MEAN" spell correction: the k best dictionary corrections
    * for a (possibly misspelled) query term, ranked the Lucene way —
    * smallest edit distance first, then highest document frequency,
    * then the term — so an exact vocabulary hit always ranks first and
    * a common word beats a rare typo at the same distance. One
    * [[termDictionary]] scan (vocab-sized; edit distance cannot
    * hash-prune) + a k-bounded top-k. Emits (term, df, dist). */
  def didYouMean(spark: SparkSession, path: String, term: String,
      k: Int = 5, maxEdits: Int = 2): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxEdits >= 1 && maxEdits <= 2,
      s"maxEdits must be in [1, 2] (Lucene's bound), got $maxEdits")
    val st = readStats(spark, path)
    val ts = TextAnalysis.tokensOf(term, st.analyzer)
    require(ts.size == 1,
      s"term must analyze to exactly one token under the index's " +
        s"'${st.analyzer}' analyzer, got ${ts.size}: $ts")
    termDictionary(spark, path)
      .withColumn("dist", levenshtein(col("term"), lit(ts.head)))
      .filter(col("dist") <= maxEdits)
      .orderBy(col("dist").asc, col("df").desc, col("term"))
      .limit(k)
  }

  /** FUZZY BM25: each query term expands to every dictionary term
    * within `maxEdits` Levenshtein edits (Lucene's fuzzy query), and
    * the expansion scores as a plain disjunction through [[bm25TopK]] —
    * each variant with its OWN live df and tf, so a rare misspelling
    * contributes its full idf instead of inheriting the common form's.
    * Expansion terms come from [[termDictionary]] (vocab-sized scan —
    * edit distance cannot hash-prune); the ONE driver collect is the
    * expansion itself, hard-bounded by `maxExpansions` (exceeding it
    * fails fast with the actionable knobs rather than silently
    * truncating recall — no silent caps). Emits (id, bm25). */
  def bm25FuzzyTopK(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int, maxEdits: Int = 1,
      maxExpansions: Int = 64, k1: Double = 1.2, b: Double = 0.75,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be in [0, 2] (Lucene's bound), got $maxEdits")
    require(maxExpansions >= 1, s"maxExpansions must be >= 1, got $maxExpansions")
    val st = readStats(spark, path)
    import spark.implicits._
    if (st.nDocs == 0L) return Seq.empty[(String, Double)].toDF("id", "bm25")
    val qs = queryTerms.flatMap(TextAnalysis.tokensOf(_, st.analyzer)).distinct
    val withinEdits = qs
      .map(q => levenshtein(col("term"), lit(q)) <= maxEdits)
      .reduce(_ || _)
    val expansion = termDictionary(spark, path)
      .filter(withinEdits)
      .select(col("term")).orderBy(col("term"))
      .limit(maxExpansions + 1) // bounds the collect BEFORE it happens
      .collect().map(_.getString(0)).toSeq
    require(expansion.size <= maxExpansions,
      s"fuzzy expansion exceeds maxExpansions = $maxExpansions terms — " +
        "raise maxExpansions or lower maxEdits")
    if (expansion.isEmpty) return Seq.empty[(String, Double)].toDF("id", "bm25")
    bm25TopK(spark, path, expansion, k, k1, b, allowed)
  }

  /** FACET COUNTS over a probe's full match set — the search-page
    * sidebar: for documents containing the query terms (`matchAll` =
    * conjunction, else any), how many carry each value of each facet
    * column. The match set comes from the same bucket-pruned live
    * probe every scoring path uses (cost ∝ the query terms' postings,
    * never the corpus); the corpus side reads ONLY (id, facet columns) —
    * parquet column pruning keeps the text out — and the facet columns
    * melt in-row into (facet, value) pairs so ONE semi-gated pass and
    * ONE aggregate serve every facet. No broadcast hint on the match
    * set: it is query-dependent and unbounded, so AQE owns the join
    * strategy. Emits (facet, value, n_docs). */
  /** The one-column id frame of live documents matching `terms`
    * (`matchAll` = conjunction, else any) from the bucket-pruned live
    * probe — the shared MATCH SET every non-scoring retrieval shape
    * (facets, counts) gates on. None when no probed bucket exists (no
    * document can match). Cost ∝ the query terms' postings. */
  private def matchedIds(spark: SparkSession, path: String, st: InvStats,
      terms: Seq[String], matchAll: Boolean): Option[DataFrame] = {
    import spark.implicits._
    val ts = terms.flatMap(TextAnalysis.tokensOf(_, st.analyzer)).distinct
    // fail fast like suggestTerms/didYouMean: a query whose every term
    // analyzes to zero tokens (whitespace/punctuation-only input) must
    // error, not silently report 0 matches / empty facets
    require(ts.nonEmpty,
      s"query terms $terms analyze to zero tokens under analyzer '${st.analyzer}'")
    val buckets = ts.toDF("term").select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return None
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("bucket").isin(buckets: _*)) // plan-visible prune witness
      .filter(col("term").isin(ts: _*))
      .select(col("id"), col("term"))
    val live = dropTombstoned(spark, path, pruned)
    Some(
      if (matchAll) live.groupBy(col("id"))
        .agg(count(lit(1)).as("__nt__")) // (term, id) unique per layout
        .filter(col("__nt__") === ts.size.toLong)
        .select(col("id"))
      else live.select(col("id")).distinct())
  }

  /** Melt (id, facet columns) rows into (facet, value, n_docs) counts —
    * ONE pass and one aggregate however many facets are requested. */
  private def meltFacets(rows: DataFrame, facetCols: Seq[String]): DataFrame =
    rows
      .select(explode(map(
        facetCols.flatMap(c => Seq(lit(c), col(c).cast(StringType))): _*))
        .as(Seq("facet", "value")))
      .groupBy(col("facet"), col("value"))
      .agg(count(lit(1)).as("n_docs"))

  def facetCounts(spark: SparkSession, path: String, corpus: DataFrame,
      idCol: String, facetCols: Seq[String], terms: Seq[String],
      matchAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(facetCols.nonEmpty, "facetCols must be non-empty")
    val st = readStats(spark, path)
    import spark.implicits._
    def empty = Seq.empty[(String, String, Long)].toDF("facet", "value", "n_docs")
    if (st.nDocs == 0L) return empty
    matchedIds(spark, path, st, terms, matchAll) match {
      case None => empty
      case Some(matched) => meltFacets(
        corpus
          .select(col(idCol).cast(StringType).as("id") +:
            facetCols.map(c => col(c).cast(StringType).as(c)): _*)
          .join(matched, Seq("id"), "left_semi"),
        facetCols)
    }
  }

  /** [[facetCounts]] served ENTIRELY from the index — no corpus frame
    * at query time: the facet columns were stored on the doc-stats
    * layout at build time (`storeCols`, the Lucene doc-values analog),
    * so the corpus side of the facet join is the index's OWN
    * doc-count-sized table reading only (id, facet columns) — parquet
    * column pruning keeps text and tbuckets out, the tombstone
    * anti-join keeps the counts live, and a deployed index answers
    * facets with zero access to the source-of-truth table. Emits
    * (facet, value, n_docs). */
  def facetCountsStored(spark: SparkSession, path: String,
      facetCols: Seq[String], terms: Seq[String],
      matchAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(facetCols.nonEmpty, "facetCols must be non-empty")
    val st = readStats(spark, path)
    val missing = facetCols.filterNot(st.storeCols.contains)
    require(missing.isEmpty,
      s"facet column(s) ${missing.mkString("[", ", ", "]")} are not stored " +
        s"on $path (stored: ${st.storeCols.mkString("[", ", ", "]")}) — " +
        "build the index with storeCols to serve facets index-locally, " +
        "or use facetCounts(corpus) against the source table")
    import spark.implicits._
    def empty = Seq.empty[(String, String, Long)].toDF("facet", "value", "n_docs")
    if (st.nDocs == 0L) return empty
    matchedIds(spark, path, st, terms, matchAll) match {
      case None => empty
      case Some(matched) =>
        meltFacets(storedColumns(spark, path, st, facetCols)
          .join(matched, Seq("id"), "left_semi"), facetCols)
    }
  }

  /** RANGE (histogram) facet over a NUMERIC stored column — the other
    * half of a search page's facet sidebar ("price 0–10 / 10–20 / …"),
    * served entirely index-locally like [[facetCountsStored]]: the
    * match set from the same bucket-pruned live probe, the values from
    * the doc store reading only (id, <facetCol>). `[lo, hi)` splits
    * into `nBins` equal-width bins; a matching doc lands in bin
    * `least(floor((x-lo)/((hi-lo)/nBins)), nBins-1)` (the `least` pins
    * the one float-rounding edge case where x just under `hi` divides
    * to exactly nBins — the SAME expression a SQL twin runs, so both
    * engines agree bit-for-bit), underflow in bin -1, overflow in bin
    * `nBins`. Stored columns are STRING-typed (doc-values discipline);
    * values that don't parse as a number drop (TRY_CAST semantics —
    * ANSI mode must not fail a whole facet sidebar on one bad row);
    * count them beforehand if that matters. Emits (bin, n_docs), only
    * bins with at least one doc. */
  def rangeFacetStored(spark: SparkSession, path: String, facetCol: String,
      terms: Seq[String], lo: Double, hi: Double, nBins: Int,
      matchAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val st = readStats(spark, path)
    require(st.storeCols.contains(facetCol),
      s"facet column '$facetCol' is not stored on $path " +
        s"(stored: ${st.storeCols.mkString("[", ", ", "]")})")
    import spark.implicits._
    def empty = Seq.empty[(Long, Long)].toDF("bin", "n_docs")
    if (st.nDocs == 0L) return empty
    matchedIds(spark, path, st, terms, matchAll) match {
      case None => empty
      case Some(matched) =>
        val x = col(facetCol).try_cast(DoubleType)
        val w = (hi - lo) / nBins
        storedColumns(spark, path, st, Seq(facetCol))
          .join(matched, Seq("id"), "left_semi")
          .filter(x.isNotNull)
          .select(
            when(x < lo, lit(-1L))
              .when(x >= hi, lit(nBins.toLong))
              .otherwise(least(floor((x - lit(lo)) / lit(w)),
                lit(nBins - 1L)).cast(LongType))
              .as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"))
    }
  }

  // --------------------------------------------------- store dead list
  //
  // Deletes never rewrite the doc store (its dead rows hide behind the
  // tombstone anti-join — that is what keeps a delete independent of
  // the stored payload), so when [[compact]] RETIRES tombstones it must
  // keep those rows hidden some other way or a later [[fetchDocs]]
  // would resurrect them. Eagerly rewriting the store at compact is the
  // wrong bill (a 1k-doc cohort spread over every dbucket would rewrite
  // the entire text store): instead the retired ids append to a small
  // `docstore/_dead/` list (Lucene's deleted-docs-until-merge pattern),
  // every store reader anti-joins it alongside the live tombstones, and
  // the PHYSICAL sweep runs only when the dead fraction passes
  // `spark.graft.inv.storeSweepMinFrac` (default 0.1) — or on demand
  // via [[sweepDocStore]]. Re-appending a store-dead id (legal once the
  // tombstone retired) auto-sweeps exactly the clashing ids inside
  // [[stageAppend]] — cost ∝ batch — so "delete, compact, re-append"
  // stays one step.

  private def storeDeadPath(path: String) = s"$path/docstore/_dead"

  /** Heal an interrupted dead-list swap ([[pruneStoreDead]]'s rename
    * window) — same first-wins discipline as [[healTombstoneSwap]]. */
  private def healStoreDeadSwap(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storeDeadPath(path))
    val old = new org.apache.hadoop.fs.Path(s"$path/docstore/.dead.old")
    if (!fs.exists(p) && fs.exists(old)) {
      val renamed = fs.rename(old, p)
      require(renamed || fs.exists(p),
        s"heal of interrupted store-dead swap at $path failed")
    }
  }

  private def storeDeadBytes(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    healStoreDeadSwap(fs, path)
    val p = new org.apache.hadoop.fs.Path(storeDeadPath(path))
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  private def storeDeadIds(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = statsFs(spark, path)
    if (storeDeadBytes(fs, path) == 0L) None
    else Some(spark.read.parquet(storeDeadPath(path)))
  }

  /** Remove `ids` from the store dead list via the staged two-rename
    * swap (write remaining → stage, rename the live list away, rename
    * the stage in, drop the old): a crash in the rename window heals
    * back to the FULL pre-prune list ([[healStoreDeadSwap]]) — a
    * superset, which only over-hides, never resurrects. */
  private def pruneStoreDead(spark: SparkSession, path: String,
      ids: DataFrame): Unit = {
    val fs = statsFs(spark, path)
    healStoreDeadSwap(fs, path)
    val p = new org.apache.hadoop.fs.Path(storeDeadPath(path))
    if (!fs.exists(p)) return
    val remaining = spark.read.parquet(storeDeadPath(path))
      .join(broadcast(ids.select(col("id"))), Seq("id"), "left_anti")
      .localCheckpoint(true)
    if (remaining.isEmpty) { fs.delete(p, true); return }
    val stage = new org.apache.hadoop.fs.Path(s"$path/docstore/.dead.stage")
    fs.delete(stage, true)
    remaining.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val old = new org.apache.hadoop.fs.Path(s"$path/docstore/.dead.old")
    fs.delete(old, true)
    require(fs.rename(p, old), s"rename-away of $p failed")
    if (fs.rename(stage, p)) fs.delete(old, true)
    else {
      // a concurrent reader's heal can win the window (first-wins) —
      // the FULL pre-prune list is back, a harmless superset
      healStoreDeadSwap(fs, path)
      require(fs.exists(p), s"store-dead swap at $path failed with no list to heal")
      fs.delete(stage, true)
    }
  }

  /** Anti-join a doc-store read against BOTH hidden sets: the live
    * tombstones and the store dead list. */
  private def dropStoreHidden(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val live = dropTombstoned(spark, path, df)
    storeDeadIds(spark, path) match {
      case Some(d) =>
        val cap = spark.conf.get("spark.graft.inv.tombBroadcastMaxBytes",
          (64L << 20).toString).toLong
        val ids = d.select(col("id")).distinct()
        live.join(
          if (storeDeadBytes(statsFs(spark, path), path) <= cap) broadcast(ids) else ids,
          Seq("id"), "left_anti")
      case None => live
    }
  }

  /** Record retired tombstoned ids as store-dead — called by [[compact]]
    * immediately BEFORE it retires their tombstone rows. Append-only
    * and tiny (∝ retired ids); a crash-replayed compact may append the
    * same ids twice, which the anti-join ignores and the next physical
    * sweep's distinct prunes. */
  private def appendStoreDead(spark: SparkSession, path: String,
      retired: DataFrame, nDocBuckets: Int): Unit = {
    val fs = statsFs(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/docstore"))) return
    retired.select(col("id"), docBucket(nDocBuckets).as("dbucket"))
      .coalesce(1).write.mode("append").parquet(storeDeadPath(path))
  }

  /** PHYSICALLY drop the store-dead ids' rows: rewrite exactly the
    * dbucket dirs holding dead rows (staged per-dir swap), then clear
    * the dead list. The deferred bill of the dead-list design —
    * [[compact]] runs it automatically once the dead fraction passes
    * `spark.graft.inv.storeSweepMinFrac`; call it directly to unblock
    * a re-append that failed fast on a store-dead clash. Idempotent:
    * a crash between the dir sweeps and the list clear leaves dead ids
    * listed with no rows — the anti-join no-ops and the next sweep
    * clears them. */
  def sweepDocStore(spark: SparkSession, path: String): Unit = {
    val fs = statsFs(spark, path)
    storeDeadIds(spark, path) match {
      case None => ()
      case Some(dead) =>
        val ids = dead.select(col("id")).distinct().localCheckpoint(true)
        val dbuckets = dead.select(col("dbucket").cast(LongType))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
          .filter(b => fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/docstore/dbucket=$b")))
        if (dbuckets.nonEmpty) {
          val cap = spark.conf.get("spark.graft.inv.tombBroadcastMaxBytes",
            (64L << 20).toString).toLong
          val hinted =
            if (storeDeadBytes(fs, path) <= cap) broadcast(ids) else ids
          rewriteDirsBatched(spark, s"$path/docstore", "dbucket", dbuckets,
            df => df.join(hinted, Seq("id"), "left_anti"))
        }
        fs.delete(new org.apache.hadoop.fs.Path(storeDeadPath(path)), true)
    }
  }

  /** The live (id, stored columns...) frame — a root DOC-STORE read
    * (every dbucket: doc-values consumers are match-set-shaped, not
    * id-keyed) with crashed-rewrite residue healed first so a
    * `dbucket=N.rewrite.tmp` directory can never surface as a phantom
    * partition, and only the requested columns in the scan. */
  private def storedColumns(spark: SparkSession, path: String,
      st: InvStats, cols: Seq[String]): DataFrame = {
    requireStoreRoot(spark, path, st)
    Ann.recoverStagedDirs(statsFs(spark, path),
      new org.apache.hadoop.fs.Path(s"$path/docstore"))
    dropStoreHidden(spark, path,
      spark.read.parquet(s"$path/docstore")
        .select(col("id") +: cols.map(col): _*))
  }

  /** Total-hit COUNT for a boolean term query — the `numFound` a search
    * page shows next to its first page of hits: live documents
    * containing the terms (`matchAll` = conjunction, else any), counted
    * from the same bucket-pruned probe the scoring paths read, never a
    * corpus scan. Emits one row (n_docs). */
  def matchCount(spark: SparkSession, path: String, terms: Seq[String],
      matchAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val st = readStats(spark, path)
    import spark.implicits._
    if (st.nDocs == 0L) return Seq(0L).toDF("n_docs")
    matchedIds(spark, path, st, terms, matchAll) match {
      case Some(m) => m.agg(count(lit(1)).as("n_docs"))
      case None => Seq(0L).toDF("n_docs")
    }
  }

  /** Multi-field term highlighting — [[highlightTerms]] across a BM25F
    * field group: each field renders its own occurrences from its own
    * positional postings and doc store (a title hit highlights in the
    * title, not at a body offset), stacked under a `field` column.
    * Per-field cost is exactly [[highlightTerms]]'; fields never join
    * each other. Every field index must carry its doc store. Emits
    * (field, id, snip_no, n_hits, terms_hit, win_start, win_end,
    * snippet). */
  def highlightFields(spark: SparkSession, fields: Seq[(String, String)],
      docs: DataFrame, queryTerms: Seq[String], window: Int = 3,
      maxPerDoc: Int = 3): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    fields.map { case (field, path) =>
      highlightTerms(spark, path, docs, queryTerms, window, maxPerDoc)
        .select(lit(field).as("field"), col("id"), col("snip_no"),
          col("n_hits"), col("terms_hit"), col("win_start"),
          col("win_end"), col("snippet"))
    }.reduce(_.unionAll(_))
  }

  /** Exact phrase search through the positional postings: documents
    * containing the words of `phrase` CONSECUTIVELY, ranked by
    * occurrence count (ties by id). The probe reads only the phrase
    * words' bucket directories projecting (term, id, pos); per doc, the
    * phrase-start set is the positions p of the first word with every
    * later word j found at p+j (an in-row HOF fold over the per-term
    * sorted position arrays — no join fan-out, no explode). A document
    * missing ANY phrase word drops before the fold (its collected
    * term-entry count is short), so `element_at` never sees an absent
    * key. Repeated words in the phrase resolve against the same
    * position array, exactly as adjacency requires. Emits
    * (id, n_phrase). */
  def phraseTopK(spark: SparkSession, path: String, phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = readStats(spark, path)
    // the phrase folds through the sidecar's analyzer IN ORDER (a raw
    // word may split into several adjacent tokens)
    val phraseToks = phrase.flatMap(TextAnalysis.tokensOf(_, st.analyzer))
    val distinctTerms = phraseToks.distinct
    import spark.implicits._
    val buckets = distinctTerms.toDF("term").select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) {
      return Seq.empty[(String, Long)].toDF("id", "n_phrase")
    }
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .filter(col("term").isin(distinctTerms: _*))
      .select(col("id"), col("term"), col("pos"))
    val live = dropTombstoned(spark, path, pruned)
    val perDoc = live.groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("pos")))).as("__m__"))
      .filter(size(map_keys(col("__m__"))) === distinctTerms.size)
    val starts = filter(element_at(col("__m__"), phraseToks.head), p =>
      phraseToks.zipWithIndex.tail
        .map { case (t, j) => array_contains(element_at(col("__m__"), lit(t)), p + j) }
        .foldLeft(lit(true))(_ && _))
    perDoc.select(col("id"), size(starts).cast(LongType).as("n_phrase"))
      .filter(col("n_phrase") > 0L)
      .orderBy(col("n_phrase").desc, col("id"))
      .limit(k)
  }

  /** Exact phrase search for a DataFrame-sized query batch — the
    * collect-free twin of [[phraseTopK]], completing the retrieval
    * batch surface alongside [[bm25TopKBatch]] with the same
    * discipline: the ONE driver collect is the distinct term-bucket id
    * list (bounded by nBuckets, never Q); phrase terms join the pruned
    * postings on `term` (distributed equi join), the per-(query, doc)
    * consecutive-match count folds in-row over the per-term position
    * arrays — the phrase itself is a DATA column here, so the start
    * test is an indexed `transform` over it rather than a literal
    * unrolling — and the bounded-heap [[graft.functions.TopKByScore]]
    * reduces to k rows per query (count DESC, id ASC ties; counts are
    * exact in a double far beyond any real document length). Emits
    * (qid, rank, id, n_phrase).
    *
    * `phraseCol` is an `array<string>` column holding each query's
    * phrase IN ORDER (duplicated words allowed — they resolve against
    * the same position array, exactly as adjacency requires). */
  def phraseTopKBatch(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, phraseCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    phraseMatches(spark, path, queries, qidCol, phraseCol) match {
      case None =>
        Seq.empty[(String, Int, String, Long)].toDF("qid", "rank", "id", "n_phrase")
      case Some(m) => m
        .groupBy(col("qid"))
        .agg(graft.functions.TopKByScore.topk(
          col("n_phrase").cast(DoubleType), col("id"), k).as("hits"))
        .select(col("qid"), posexplode(col("hits")).as(Seq("rank0", "hit")))
        .select(col("qid"), (col("rank0") + 1).cast(IntegerType).as("rank"),
          col("hit.id").as("id"), col("hit.score").cast(LongType).as("n_phrase"))
    }
  }

  /** ALL (qid, id, n_phrase, offsets) consecutive-match pairs for a
    * phrase batch — [[phraseTopKBatch]] without the per-query top-k
    * bound, for callers that need the complete match set
    * (decontamination, exact recall audits) or the match POSITIONS
    * (`offsets` = the ascending 0-based token offsets where the phrase
    * starts — the highlighting/snippet hook the positional postings
    * exist for). Output size ∝ matches; everything upstream of the
    * final filter is the shared bucket-pruned probe. */
  def containsPhrases(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, phraseCol: String): DataFrame = {
    import spark.implicits._
    phraseMatches(spark, path, queries, qidCol, phraseCol)
      .getOrElse(Seq.empty[(String, String, Long, Seq[Int])]
        .toDF("qid", "id", "n_phrase", "offsets"))
  }

  /** Shared kernel of the batch phrase probes: (qid, id, n_phrase > 0,
    * offsets) for every query whose phrase occurs consecutively in the
    * doc. None when no probed bucket directory exists at all. */
  private def phraseMatches(spark: SparkSession, path: String, queries: DataFrame,
      qidCol: String, phraseCol: String): Option[DataFrame] = {
    val st = readStats(spark, path)
    val (q, qTerms) = phraseQueryFrames(st, queries, qidCol, phraseCol)
    val buckets = qTerms.select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) return None
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .select(col("id"), col("term"), col("pos"))
    val live = dropTombstoned(spark, path, pruned)
    Some(phraseMatchesFrom(live, q, qTerms))
  }

  /** The analyzed (qid, __phr__) and exploded (qid, term) frames of a
    * phrase-query batch — the query side of [[phraseMatchesFrom]],
    * shared so [[bm25BooleanTopK]]'s phrase clause analyzes its
    * phrases EXACTLY as the standalone probes do (per-element fold
    * under `fold`, elements untouched under `ws` — a phrase element is
    * one token by contract, never space-split). */
  private def phraseQueryFrames(st: InvStats, queries: DataFrame,
      qidCol: String, phraseCol: String): (DataFrame, DataFrame) = {
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      (if (st.analyzer == "ws") col(phraseCol).cast(ArrayType(StringType))
       else TextAnalysis.foldTermsArray(col(phraseCol).cast(ArrayType(StringType))))
        .as("__phr__"))
      .filter(size(col("__phr__")) >= 1)
    val qTerms = q.select(col("qid"), explode(array_distinct(col("__phr__"))).as("term"))
      .localCheckpoint(true)
    (q, qTerms)
  }

  /** [[phraseMatches]] downstream of the postings read: the match
    * kernel over an ALREADY-pruned live (id, term, pos) frame, so a
    * caller that has the needed postings in hand ([[bm25BooleanTopK]]'s
    * shared probe) never re-reads them. `live` must cover every term of
    * `qTerms` that exists in the index (extra terms are harmless —
    * the semi-join below drops them). */
  private def phraseMatchesFrom(live: DataFrame, q: DataFrame,
      qTerms: DataFrame): DataFrame = {
    // RAREST-TERM NOMINATION — the classic positional-index plan. A
    // plain (postings ⋈ qTerms on term) fans out every posting row of a
    // Zipf-common term by every query containing it before anything
    // reduces; instead, (1) df per queried term from the probed
    // postings (count aggregate, map-side combinable, no fan-out),
    // (2) each query nominates candidate docs from its RAREST term only
    // — the fan-out is bounded by the rarest df, tiny by construction —
    // (3) the remaining terms' positions are fetched for nominated
    // (qid, id) pairs alone via the selective (term, id) equi join.
    // A query with ANY term absent from the live postings can match
    // nothing and drops before nominating.
    // NOT checkpointed: each consumer column-prunes its own re-scan of
    // the pruned buckets (df never reads `pos`), where materializing
    // the postings of every queried term would blow the cache tier
    val wanted = live.join(qTerms.select(col("term")).distinct(), Seq("term"), "left_semi")
    val dfs = wanted.groupBy(col("term")).agg(count(lit(1)).as("__df__"))
    val qTermDf = qTerms.join(broadcast(dfs), Seq("term"), "left")
    val dead = qTermDf.filter(col("__df__").isNull).select(col("qid")).distinct()
    val rarest = qTermDf.join(dead, Seq("qid"), "left_anti")
      .groupBy(col("qid"))
      .agg(min_by(col("term"), struct(col("__df__"), col("term"))).as("term"))
    val candidates = wanted.join(broadcast(rarest), Seq("term"))
      .select(col("qid"), col("id"))
    // (qid, id, term, pos) for exactly the terms each nominated pair
    // needs; a doc missing ANY of a query's distinct words drops at the
    // map-size check below, so element_at never sees an absent key for
    // the FIRST word — later words coalesce to an empty array
    val matched = candidates.join(qTerms, Seq("qid"))
      .join(wanted, Seq("term", "id"))
    val perDoc = matched.groupBy(col("qid"), col("id"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("pos")))).as("__m__"))
      .join(q, Seq("qid"))
      .filter(size(map_keys(col("__m__"))) === size(array_distinct(col("__phr__"))))
    val emptyPos = array().cast("array<int>")
    // starts = positions p of word 0 where every word i sits at p+i —
    // word 0's own membership is true by construction, so the indexed
    // transform covers the whole phrase uniformly (and a one-word
    // phrase degenerates to its tf, matching phraseTopK)
    val starts = filter(
      element_at(col("__m__"), element_at(col("__phr__"), 1)),
      p => !array_contains(
        transform(col("__phr__"), (t, i) =>
          array_contains(coalesce(element_at(col("__m__"), t), emptyPos), p + i)),
        false))
    perDoc
      .select(col("qid"), col("id"), size(starts).cast(LongType).as("n_phrase"),
        starts.as("offsets"))
      .filter(col("n_phrase") > 0L)
  }

  /** Benchmark-decontamination through the index: for every distinct
    * word n-gram of the eval split, find the indexed docs containing it
    * CONSECUTIVELY (the same contract as
    * [[TextAnalysis.contaminationStats]]'s shingle intersection) and
    * return (id, n_hits) = how many distinct eval grams each doc
    * carries. Docs with zero hits are simply absent (their enumeration
    * is the caller's doc table, not the index's job).
    *
    * Plan: decontamination is the DENSE-match regime — an eval set
    * shares thousands of grams with millions of docs — so instead of
    * phrase-probing gram by gram (the [[containsPhrases]] shape, whose
    * candidate set is Σ per-gram df and degenerates when every term is
    * common), the corpus's own n-grams are RECONSTRUCTED from the
    * positional postings restricted to the eval VOCABULARY: each doc's
    * eval-vocab (position, term) entries assemble in ONE groupBy
    * (packed arrays — no per-position row explode), sort in-row, and
    * an n-gram materializes exactly where n entries sit at consecutive
    * positions (a position belongs to one term, so sorted adjacency IS
    * textual adjacency); the gram strings then semi-join the eval set
    * and distinct grams count per doc. Cost ∝ postings of eval-vocab
    * terms (bucket-pruned — a small eval set touches a sliver of a web
    * corpus's vocabulary) + matches, ONE data-sized shuffle, one
    * postings read, and NO gram × df candidate blow-up.
    * Short eval docs shingle to fewer-than-n-word grams
    * ([[Dedup.wordShingles]] contract) — each distinct gram LENGTH gets
    * its own chain (lengths are bounded by n). */
  def contaminationHits(spark: SparkSession, path: String,
      evalDocs: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val st = readStats(spark, path)
    import spark.implicits._
    // eval text shingles in the INDEX's token space (fold first when
    // the sidecar says so), or gram words could never match a posting
    val evalText =
      if (st.analyzer == "ws") col(textCol)
      else TextAnalysis.foldText(col(textCol))
    val grams = evalDocs
      .select(explode(Dedup.wordShingles(evalText, n)).as("gram"))
      .distinct()
      .select(col("gram"), split(col("gram"), " ").as("__w__"))
      .localCheckpoint(true)
    // the probe vocabulary: every word of every gram
    val terms = grams.select(explode(col("__w__")).as("term")).distinct()
      .localCheckpoint(true)
    val buckets = terms.select(termBucket(st.nBuckets).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val bucketDirs = probedBucketDirs(spark, path, buckets)
    if (bucketDirs.isEmpty) {
      return Seq.empty[(String, Long)].toDF("id", "n_hits")
    }
    val pruned = spark.read.option("basePath", s"$path/postings")
      .parquet(bucketDirs: _*)
      .select(col("id"), col("term"), col("pos"))
    val live = dropTombstoned(spark, path, pruned)
    // per doc, the SORTED (position, term) entries of its eval-vocab
    // tokens — packed arrays ride the one shuffle (no per-position row
    // explode), and a position belongs to exactly one term, so sorted
    // adjacency IS textual adjacency. Group size is bounded by doc
    // length (row-local, the repetitionColumns discipline).
    val perDoc = live.join(terms, Seq("term"), "left_semi")
      .select(col("id"),
        transform(col("pos"), p => struct(p.as("p"), col("term").as("t"))).as("__pt__"))
      .groupBy(col("id"))
      .agg(array_sort(flatten(collect_list(col("__pt__")))).as("__e__"))
    // reconstruct the doc's l-grams IN-ROW: entry i starts an l-gram
    // iff the next l−1 entries sit at consecutive positions; one
    // reconstruction per distinct gram length (≤ n lengths; almost
    // always just {n} — short eval docs contribute the others)
    def gramArr(l: Int): Column = {
      val e = col("__e__")
      if (l == 1) transform(e, x => x("t"))
      else when(size(e) >= l,
        filter(
          transform(sequence(lit(1), size(e) - (l - 1)),
            i => when(
              (1 until l).map(j =>
                element_at(e, i + j)("p") === element_at(e, i)("p") + j)
                .reduce(_ && _),
              concat_ws(" ", (0 until l).map(j => element_at(e, i + j)("t")): _*))),
          x => x.isNotNull))
        .otherwise(array().cast("array<string>"))
    }
    val lengths = grams.select(size(col("__w__")).as("l")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val hitsByLen = lengths.map { l =>
      val g = grams.filter(size(col("__w__")) === l).select(col("gram"))
      perDoc.select(col("id"), explode(gramArr(l)).as("gram"))
        .join(g, Seq("gram"), "left_semi")
    }
    hitsByLen.reduce(_ unionByName _)
      .select(col("id"), col("gram")).distinct()
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Physically drop tombstoned postings, retire repaid tombstones, and
    * repay append-mode SMALL-FILE debt — the Lucene-merge analogue, run
    * on a maintenance cadence or on [[needsCompact]]'s debt gate.
    *
    * Discovery costs ∝ TOMBSTONES, never ∝ corpus: each tombstone row
    * carries the dead doc's term-bucket set (recorded at index time,
    * copied by [[delete]]), so the touched buckets are one explode +
    * distinct over the tombstone parquet — no postings scan. (A legacy
    * id-only tombstone set falls back to the column-pruned (bucket, id)
    * postings scan.)
    *
    * Repayment is INCREMENTAL, the way Lucene merges segment-locally:
    * with `minTombFrac` > 0, a candidate bucket rewrites only when its
    * tombstoned-posting fraction reaches the threshold (measured by a
    * (bucket, id) pre-pass over the CANDIDATE dirs alone — cost ∝
    * touched buckets); colder buckets keep their debt. A tombstone
    * retires only when every existing bucket its terms hash into has
    * been rewritten — retained ids stay anti-joined by probes and
    * still block re-appends, so partial compaction never changes what
    * a probe returns. `minTombFrac = 0` (default) rewrites every
    * touched bucket and clears the set — full repayment. The rewrites
    * all stage in ONE batched job with per-dir atomic swaps
    * ([[rewriteDirsBatched]]; crash residue heals through
    * [[Ann.recoverStagedDirs]] and the tombstone-swap recovery at this
    * entry and in every probe's tombstone read). Then
    * [[Ann.compactDirs]] coalesces any posting or doc-stats directory
    * past `maxFiles` parquet files — a delete-free ingest stream
    * ([[graft.streaming.StreamingOps.invIngestStream]]) lands one file
    * per touched dir per batch, debt nothing else repays. Returns the
    * tombstone-rewritten bucket ids. */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 8,
      minTombFrac: Double = 0.0): Seq[Long] = {
    require(minTombFrac >= 0 && minTombFrac <= 1,
      s"minTombFrac must be in [0,1], got $minTombFrac")
    val fs = statsFs(spark, path)
    val postRoot = new org.apache.hadoop.fs.Path(s"$path/postings")
    Ann.recoverStagedDirs(fs, postRoot)
    recoverTombstoneSwap(fs, path)
    // land any crashed delete's pending stats decrement BEFORE this
    // compact retires the tombstone rows that record it
    reconcileTombstoneStats(spark, path)
    // ... and its pending term-stats deltas while the generation's
    // postings are still intact (the rewrite below removes them)
    reconcileTermDeltas(spark, path, fromMutation = true)
    // term-stats orphan sweep: a termstats dir whose postings bucket is
    // gone (the rewrite deleted a fully-tombstoned bucket, then crashed
    // before the stats replace) would serve phantom terms once the
    // tombstones clear — drop it at every entry; one root listing,
    // bounded by nBuckets
    val tsRootEntry = new org.apache.hadoop.fs.Path(s"$path/termstats")
    if (fs.exists(tsRootEntry)) {
      Ann.recoverStagedDirs(fs, tsRootEntry)
      fs.listStatus(tsRootEntry).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .foreach { d =>
          if (!fs.exists(new org.apache.hadoop.fs.Path(postRoot, d.getName)))
            fs.delete(d, true)
        }
    }
    // prune the stats version history to the newest (each version is a
    // complete snapshot, so dropping the rest can never lose state)
    statsVersions(fs, path).dropRight(1).foreach(v => fs.delete(v._2, false))
    val tombsOpt = tombstonesOf(spark, path).map(_.localCheckpoint(true))
    val touched = tombsOpt match {
      case None => Seq.empty[Long]
      case Some(tombs) =>
        // Reading the stats before the emptiness check adds no failure
        // mode: a tombstones dir is only ever written by `delete`, after
        // its own stats read succeeded, and this entry already read the
        // stats unconditionally in `reconcileTermDeltas` above — an index
        // without a readable stats sidecar fails compact loudly either
        // way (spec-pinned), never no-ops over a half-built index.
        val st = readStats(spark, path)
        val hasTbCol = tombs.columns.contains("tbuckets")
        // ONE read job over the checkpointed set answers the three
        // entry questions the loop below needs — emptiness, the
        // legacy-schema null audit, and the tombstoned ids' own
        // doc-bucket list (collect_set bounded by nDocBuckets, never
        // by the tombstone count). Read-only consolidation (r19): the
        // mutation steps below keep their exact order.
        val entry = tombs.agg(count(lit(1)).as("n"),
            (if (hasTbCol) sum(when(col("tbuckets").isNull, 1L).otherwise(0L))
             else max(lit(1L))).as("nulls"),
            sort_array(collect_set(docBucket(st.nDocBuckets))).as("db"))
          .collect()(0)
        if (entry.getLong(0) == 0L) Seq.empty[Long] else {
        // the bucket-set fast path needs EVERY row to carry tbuckets:
        // a mixed-schema set (legacy id-only files read back as null
        // alongside new rows) must take the legacy path whole, or a
        // null-tbuckets id would be retired with its postings still
        // live (exists(null) filters as false)
        val hasTb = hasTbCol && entry.getLong(1) == 0L
        val tombIds = tombs.select(col("id")).distinct()
        val candidates: Seq[Long] =
          if (hasTb)
            tombs.select(explode(col("tbuckets")).as("b0"))
              .select(col("b0").cast(LongType).as("b"))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
          else
            spark.read.parquet(s"$path/postings")
              .select(col("bucket"), col("id"))
              .join(maybeBroadcastTombs(spark, path, tombIds), Seq("id"), "left_semi")
              // partition columns read back with inferred (integer) type — cast
              .select(col("bucket").cast(LongType))
              .distinct().collect().map(_.getLong(0)).toSeq.sorted
        // a recorded bucket may hold no directory (terms hashed there
        // were never routed, or it already compacted to nothing)
        val existing = candidates.filter(b =>
          fs.exists(new org.apache.hadoop.fs.Path(postRoot, s"bucket=$b")))
        val toRewrite: Seq[Long] =
          if (minTombFrac <= 0d || existing.isEmpty) existing
          else spark.read.option("basePath", s"$path/postings")
            .parquet(existing.map(b => s"$path/postings/bucket=$b"): _*)
            .select(col("bucket").cast(LongType).as("b"), col("id"))
            .join(maybeBroadcastTombs(spark, path,
              tombIds.withColumn("__t__", lit(1L))), Seq("id"), "left")
            .groupBy(col("b"))
            .agg(count(lit(1)).as("n"), sum(coalesce(col("__t__"), lit(0L))).as("t"))
            .filter(col("t").cast(DoubleType) / col("n").cast(DoubleType) >= minTombFrac)
            .select(col("b")).collect().map(_.getLong(0)).toSeq.sorted
        if (toRewrite.nonEmpty) {
          // survivors via broadcast ANTI-JOIN, never an isin literal list:
          // the tombstone set is bounded only by the compaction cadence (or
          // the needsCompact debt gate), and a multi-million-id isin would
          // blow up the plan where the join broadcasts the same ids cheaply
          rewriteDirsBatched(spark, s"$path/postings", "bucket", toRewrite,
            df => df.join(maybeBroadcastTombs(spark, path, tombIds),
              Seq("id"), "left_anti"))
          // term stats mirror the PHYSICAL postings: recompute exactly
          // the rewritten buckets from their post-rewrite content (a
          // two-column pruned read) BEFORE the tombstone set can
          // retire. A crash in between replays: the surviving
          // tombstones re-nominate the same buckets, the anti-join
          // re-rewrite no-ops, and the recompute re-runs; a bucket
          // whose postings dir the rewrite DELETED outright is covered
          // by the entry-point orphan sweep below.
          val tsRoot = new org.apache.hadoop.fs.Path(s"$path/termstats")
          if (fs.exists(tsRoot)) {
            val still = toRewrite.filter(b => fs.exists(
              new org.apache.hadoop.fs.Path(postRoot, s"bucket=$b")))
            if (still.isEmpty)
              toRewrite.foreach(b => fs.delete(
                new org.apache.hadoop.fs.Path(tsRoot, s"bucket=$b"), true))
            else replaceDirsStaged(spark, s"$path/termstats", "bucket", toRewrite,
              spark.read.option("basePath", s"$path/postings")
                .parquet(still.map(b => s"$path/postings/bucket=$b"): _*)
                .groupBy(col("bucket").cast(LongType).as("bucket"), col("term"))
                .agg(count(lit(1)).as("df")))
          }
        }
        // doc-stats residue sweep: a delete that crashed between its
        // tombstone append and its doc-stats rewrite leaves the dead
        // doc's stats row behind (stats already decremented, probes
        // already hiding it). Check only the tombstoned ids' OWN
        // dbuckets (computed in the single entry aggregate above) and
        // rewrite the buckets that really hold residue — normally none.
        val tombDb = entry.getSeq[Long](2)
        val resBuckets = tombDb.filter(b => fs.exists(
          new org.apache.hadoop.fs.Path(s"$path/docstats/dbucket=$b")))
        if (resBuckets.nonEmpty) {
          val withRes = spark.read.option("basePath", s"$path/docstats")
            .parquet(resBuckets.map(b => s"$path/docstats/dbucket=$b"): _*)
            .join(maybeBroadcastTombs(spark, path, tombIds), Seq("id"), "left_semi")
            .select(col("dbucket").cast(LongType))
            .distinct().collect().map(_.getLong(0)).toSeq.sorted
          if (withRes.nonEmpty) {
            rewriteDirsBatched(spark, s"$path/docstats", "dbucket", withRes,
              df => df.join(maybeBroadcastTombs(spark, path, tombIds),
                Seq("id"), "left_anti"))
          }
        }
        val skipped = existing.toSet -- toRewrite.toSet
        if (skipped.isEmpty && hasTb || (!hasTb && minTombFrac <= 0d)) {
          // every bucket holding a tombstoned posting was rewritten —
          // the whole set is repaid. The retiring ids' DOC-STORE rows
          // are still physical (deletes never rewrite the store): list
          // them store-dead FIRST, so no window exists where neither
          // hidden set covers them, then drop the tombstones and the
          // delta markers keyed to them (stale markers after a crash
          // in between are harmless — replay triggers on tombstones)
          appendStoreDead(spark, path, tombIds, st.nDocBuckets)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
          fs.delete(new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path)), true)
        } else if (hasTb) {
          // retire only ids whose entire (existing) bucket set was
          // rewritten; the rest still have live postings to hide.
          // The skipped-bucket list is bounded by index geometry, so
          // the isin is a plan literal by contract, like the probes'.
          val skippedInts = skipped.toSeq.sorted.map(_.toInt)
          val survivors = tombs.filter(
            exists(col("tbuckets"), b => b.isin(skippedInts: _*)))
            .localCheckpoint(true)
          // ids about to retire go store-dead FIRST (before either
          // retirement shape below touches the tombstone set), so a
          // crash leaves them doubly hidden, never unhidden
          appendStoreDead(spark, path,
            tombs.select(col("id")).except(survivors.select(col("id"))),
            st.nDocBuckets)
          val tPath = new org.apache.hadoop.fs.Path(s"$path/tombstones")
          // defer markers of generations about to FULLY retire must go
          // with them — a lingering one would read as "pending" forever
          // under the marker-trusted reconcile, pinning the dictionary
          // to its fallback with nothing left to land. (sv- markers are
          // harmless either way and clean up with the dir.)
          if (survivors.columns.contains("sv")) {
            val kept = survivors.select(col("sv"))
              .filter(col("sv").isNotNull).distinct()
              .collect().map(_.getLong(0)).toSet
            deferredFootprints(fs, path).keys.filterNot(kept)
              .foreach(dropDeferMarker(fs, path, _))
          }
          if (survivors.isEmpty) {
            fs.delete(tPath, true)
            fs.delete(new org.apache.hadoop.fs.Path(termDeltaMarkerDir(path)), true)
          } else {
            val stage = new org.apache.hadoop.fs.Path(s"$path/.tombstones.stage")
            fs.delete(stage, true)
            survivors.coalesce(1).write.mode("overwrite").parquet(stage.toString)
            val old = new org.apache.hadoop.fs.Path(s"$path/.tombstones.old")
            fs.delete(old, true)
            require(fs.rename(tPath, old), s"rename-away of $tPath failed")
            if (fs.rename(stage, tPath)) fs.delete(old, true)
            else {
              // a concurrent probe's healTombstoneSwap can rename
              // `.tombstones.old` back into place exactly in this
              // window (rename is first-wins) — then the FULL
              // pre-compact set is live again, which is safe:
              // retirement is an optimization, probes just anti-join
              // a superset and the next compact repays it. Tolerate by
              // dropping the stage instead of crashing the maintenance
              // job; anything else is a real failure.
              healTombstoneSwap(fs, path)
              require(fs.exists(tPath),
                s"tombstone swap at $path failed with no set to heal back")
              fs.delete(stage, true)
            }
          }
        }
        // legacy id-only set with a fraction gate: per-id retirement is
        // impossible without tbuckets — keep the whole set (next full
        // compact clears it)
        toRewrite
        }
    }
    // fraction-gated PHYSICAL sweep of store-dead rows: the dead list
    // keeps retired ids hidden for free; the rewrite bill comes due
    // only once the dead rows are a real fraction of the store
    // (default 0.1 — spark.graft.inv.storeSweepMinFrac), so a small
    // cohort's compact never rewrites a corpus of text for it
    storeDeadIds(spark, path).foreach { dead =>
      val deadN = dead.select(col("id")).distinct().count()
      val frac = spark.conf
        .get("spark.graft.inv.storeSweepMinFrac", "0.1").toDouble
      if (deadN > 0 && deadN >= frac * (deadN + readStats(spark, path).nDocs))
        sweepDocStore(spark, path)
    }
    // small-file repayment AFTER the tombstone rewrite (which lands one
    // file per touched dir, so freshly rewritten buckets never re-offend)
    Ann.compactDirs(spark, s"$path/postings", maxFiles)
    Ann.compactDirs(spark, s"$path/docstats", maxFiles)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/docstore")))
      Ann.compactDirs(spark, s"$path/docstore", maxFiles)
    // term-stats delta consolidation: each append added one delta file
    // per touched bucket (readers sum) — fold those buckets to one row
    // per term. Gated on dirs that actually ACCUMULATED files (>1), so
    // a localized compact never sweeps the whole layout: freshly
    // recomputed buckets hold one file and skip, and the cost stays ∝
    // append debt, the same discipline as compactDirs. Vocab-sized
    // work under the same staged swap as every rewrite.
    if (fs.exists(tsRootEntry)) {
      // UNMARKED tsdelta residue sweep BEFORE the fold: a crashed
      // landing of a generation that is currently DEFERRING (footprint
      // past the sync gate — reconcileTermDeltas at this compact's
      // entry skipped both its landing and its residue sweep) can
      // leave partial negative-df files with no committing marker.
      // Folding those into base rows would bake the partial
      // subtraction in, and the generation's later successful landing
      // would re-subtract it IN FULL — termstats df permanently low on
      // the fast path. Unmarked delta files are residue BY PROTOCOL
      // (the marker commits only after every file of the generation
      // landed), so dropping them is always safe: the pending
      // generation replays whole from its tombstones.
      val markedSvs = landedDeltaSvs(fs, path)
      val tsDirs = fs.listStatus(tsRootEntry).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.startsWith("bucket="))
        .flatMap { d =>
          // ONE listing per dir serves both the residue sweep and the
          // accumulated-files gate
          val files = fs.listStatus(d).filter(_.isFile).map(_.getPath)
          val residue = files.filter { f =>
            val n = f.getName
            n.startsWith("tsdelta-sv") && {
              val sv = n.stripPrefix("tsdelta-sv").takeWhile(_ != '-')
              sv.nonEmpty && sv.forall(_.isDigit) && !markedSvs.contains(sv.toLong)
            }
          }
          residue.foreach(fs.delete(_, false))
          if (files.length - residue.length > 1)
            Some(d.getName.stripPrefix("bucket=").toLong)
          else None
        }.toSeq.sorted
      if (tsDirs.nonEmpty)
        rewriteDirsBatched(spark, s"$path/termstats", "bucket", tsDirs,
          df => df.groupBy(col("bucket"), col("term"))
            .agg(sum(col("df")).as("df")))
    }
    touched
  }
}
