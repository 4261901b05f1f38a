package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions._

/** Result of [[VectorStore.upsert]] — new state plus the two id lists the
  * reference returns (/root/reference/src/lib.rs:150-185). */
final case class UpsertResult(store: VectorStore, updatedIds: DataFrame, insertedIds: DataFrame)

/** Spark-native re-expression of the reference's single-collection vector
  * store (/root/reference/src/lib.rs:40-48, 74-318).
  *
  * State is a plain DataFrame with schema
  * {{{
  *   __id__  STRING        -- primary key            (lib.rs:19,29-31)
  *   vector  ARRAY<FLOAT>  -- unit-normalized        (lib.rs:44-45,158,173)
  *   <fields...>           -- open metadata columns  (lib.rs:36-37)
  * }}}
  * so every operator is a pure DataFrame transformation that composes with
  * the rest of Spark and scales by partition parallelism. The store is
  * immutable — mutators return a new store (no driver-side state).
  *
  * The vector column is the single source of truth, which makes the
  * reference's delete-after-reload corruption (`Data.vector` is
  * `#[serde(skip)]`, lib.rs:33 + lib.rs:280-285) structurally impossible
  * here — see SURVEY.md O7a.
  */
final case class VectorStore(
    df: DataFrame,
    embeddingDim: Int,
    metric: String = "cosine",
    additionalData: Map[String, com.fasterxml.jackson.databind.JsonNode] = Map.empty) {

  import VectorStore._

  // ---------------------------------------------------------------- O3/O4/O5
  /** Top-k cosine similarity query — the reference's hot path
    * (lib.rs:188-260) as one narrow Spark stage:
    * scan -> Filter(pred) -> Project(score) -> Filter(threshold) ->
    * TakeOrderedAndProject (per-partition heap + driver merge, exactly the
    * Rayon fold/reduce shape of lib.rs:208-242).
    *
    * @param filter     arbitrary metadata predicate, applied BEFORE scoring
    *                   (lib.rs:211-216) — Catalyst pushes it below the
    *                   projection automatically.
    * @param betterThan inclusive score threshold (lib.rs:198,222).
    */
  def query(
      queryVec: Array[Float],
      topK: Int,
      betterThan: Option[Double] = None,
      filter: Option[Column] = None): DataFrame = {
    val qn = normalizeLocal(queryVec) // parity with lib.rs:195
    val q = array(qn.map(lit): _*)
    val base = filter.map(df.filter).getOrElse(df)
    val scored = base.withColumn(MetricsCol, dotD(col(VectorCol), q))
    // Reference: score enters the heap only if >= threshold, and any
    // comparison with NaN is false in Rust (lib.rs:222) — so NaN never
    // surfaces. Spark sorts NaN *above* all doubles, so demote explicitly.
    val thr = betterThan.getOrElse(Double.MinValue)
    scored
      .filter(!isnan(col(MetricsCol)) && col(MetricsCol) >= lit(thr))
      .orderBy(col(MetricsCol).desc, col(IdCol).asc) // deterministic ties (SURVEY §4.2)
      .limit(topK)
      .drop(VectorCol) // projection parity: vector never returned (lib.rs:247-259)
  }

  /** SEARCH-AFTER pagination for [[query]]: the page strictly after the
    * cursor `after` = (score, id) — the last row of the previous page
    * with the RAW score exactly as [[query]] returned it (its
    * `__metrics__` column, before any display rounding). Both pages use
    * the SAME total order as [[query]] — (raw score DESC, id ASC) — so
    * pages are gap-free and overlap-free however deep the client walks,
    * which a mixed raw/rounded order cannot guarantee: two raw-distinct
    * scores that round equal at a page boundary would let the orders
    * disagree and a row slip between pages. Cost stays ONE scan + top-k
    * per page: the cursor is a filter above the scoring projection,
    * never an offset-sized over-fetch.
    *
    * CROSS-ENGINE CAVEAT: because the cursor compares RAW doubles, two
    * engines agree on page membership only if they compute bit-identical
    * scores — i.e. accumulate the dot product over dimensions in the
    * same order ([[graft.functions.VectorDot]] folds dimension 0..d-1
    * left-to-right; a verifier must too, or an ulp-level divergence on
    * two raw-distinct scores that round equal can flip which side of
    * the boundary a row lands on). Within ONE engine the guarantee is
    * unconditional. Harnesses comparing engines whose summation order
    * differs should break raw-score boundary ties by id instead of
    * trusting the raw double across the boundary. */
  def queryAfter(
      queryVec: Array[Float],
      topK: Int,
      after: (Double, String),
      betterThan: Option[Double] = None,
      filter: Option[Column] = None): DataFrame = {
    val qn = normalizeLocal(queryVec)
    val q = array(qn.map(lit): _*)
    val base = filter.map(df.filter).getOrElse(df)
    val scored = base.withColumn(MetricsCol, dotD(col(VectorCol), q))
    val thr = betterThan.getOrElse(Double.MinValue)
    val (s0, id0) = after
    val m = col(MetricsCol)
    scored
      .filter(!isnan(m) && m >= lit(thr))
      .filter(m < s0 || (m === s0 && col(IdCol) > id0))
      .orderBy(m.desc, col(IdCol).asc)
      .limit(topK)
      .drop(VectorCol)
  }

  /** [[queryAfter]] with an ID-ONLY cursor — the engine-divergence-proof
    * page form: the cursor row's raw score is RE-DERIVED in-engine (one
    * point lookup on the id), so no raw double ever crosses an engine
    * or serialization boundary and the CROSS-ENGINE CAVEAT on
    * [[queryAfter]] does not apply. A client that stores only the last
    * id of the previous page pages exactly; an ulp-divergent score a
    * foreign engine computed for the cursor row is never consulted.
    * Fails fast on an unknown cursor id (a silent empty page would mask
    * a deleted-cursor race; callers who expect cursor deletion
    * re-anchor on the previous surviving row). */
  def queryAfterId(
      queryVec: Array[Float],
      topK: Int,
      afterId: String,
      betterThan: Option[Double] = None,
      filter: Option[Column] = None): DataFrame = {
    val qn = normalizeLocal(queryVec)
    val q = array(qn.map(lit): _*)
    val cur = df.filter(col(IdCol) === afterId)
      .select(dotD(col(VectorCol), q)).collect()
    require(cur.nonEmpty, s"queryAfterId cursor id '$afterId' not found in store")
    queryAfter(queryVec, topK, (cur(0).getDouble(0), afterId), betterThan, filter)
  }

  /** Batch-first top-k (SURVEY §7.4.4): many query vectors at once.
    * Queries are broadcast; the data side streams through per-partition
    * bounded heaps ([[graft.functions.TopKByScore]]), so the shuffle is
    * O(queries × k). The reference's one-query-at-a-time signature
    * (lib.rs:188) does not scale to query batches — this is the shape
    * that does. Returns (qid, rank, __id__, __metrics__). */
  def queryBatch(
      queries: DataFrame, qidCol: String, qvecCol: String,
      topK: Int, betterThan: Option[Double] = None,
      filter: Option[Column] = None): DataFrame = {
    val base = filter.map(df.filter).getOrElse(df)
    val q = queries.select(
      col(qidCol).as("qid"),
      graft.functions.VectorNormalize.normalize(
        col(qvecCol), outputFloat = vecElemType == FloatType).as("qv"))
    val thr = betterThan.getOrElse(Double.MinValue)
    base
      .crossJoin(broadcast(q))
      .withColumn(MetricsCol, dotD(col(VectorCol), col("qv")))
      .filter(!isnan(col(MetricsCol)) && col(MetricsCol) >= lit(thr))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKByScore.topk(col(MetricsCol), col(IdCol), topK).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(col("qid"), (col("rank0") + 1).cast(IntegerType).as("rank"),
        col("hit.id").as(IdCol), col("hit.score").as(MetricsCol))
  }

  // ------------------------------------------------------------------- O2
  /** Merge a batch of (__id__, vector, fields...) rows.
    *
    * Faithful to the reference's quirk O2a (lib.rs:157-163): on update only
    * the vector is replaced — existing metadata fields are kept (stale).
    * Inserts take the batch row whole. Ids must be unique within a batch
    * (the reference's intra-batch duplicate behavior is degenerate —
    * SURVEY.md O2a — and not replicated).
    *
    * Shape: two broadcast-able joins + union — the distributed equivalent
    * of the reference's driver-side HashSet probe (lib.rs:153).
    *
    * The batch side gets an explicit broadcast hint only while its
    * OPTIMIZER-ESTIMATED size stays under `broadcastBatchBytes`
    * (reference-shaped batches are local relations with exact known
    * sizes, well under it). A store-sized merge batch — where forcing a
    * broadcast is an executor-OOM hazard — plans an unhinted equi join
    * and AQE picks the strategy from the batch's RUNTIME size instead.
    */
  def upsert(batch: DataFrame,
             broadcastBatchBytes: Long = VectorStore.DefaultBroadcastBatchBytes): UpsertResult = {
    val b = withNormalizedVector(batch, vecElemType)
    val existingIds = df.select(IdCol)
    val updatedIds  = batch.select(IdCol).join(existingIds, Seq(IdCol), "left_semi")
    val insertedIds = batch.select(IdCol).join(existingIds, Seq(IdCol), "left_anti")
    // O2a: vector-only replacement for existing rows.
    val newVecs = b.select(col(IdCol), col(VectorCol).as("__newvec__"))
    val estBytes = newVecs.queryExecution.optimizedPlan.stats.sizeInBytes
    val probeSide =
      if (estBytes <= broadcastBatchBytes) broadcast(newVecs) else newVecs
    val updatedState = df
      .join(probeSide, Seq(IdCol), "left")
      .withColumn(VectorCol, coalesce(col("__newvec__"), col(VectorCol)))
      .drop("__newvec__")
    val insertedRows = b.join(existingIds, Seq(IdCol), "left_anti")
    val newDf = updatedState.unionByName(insertedRows, allowMissingColumns = true)
    UpsertResult(copy(df = newDf), updatedIds, insertedIds)
  }

  // ------------------------------------------------------------------- O6
  /** Point lookup by ids — broadcast semi-join (lib.rs:263-270). Missing
    * ids are silently dropped, full records (incl. vector) returned.
    *
    * Known behavioral delta vs the reference: the reference returns hits
    * in INSERTION order (it scans its Vec in storage order,
    * lib.rs:263-270); this returns scan order, which in a distributed
    * store is not meaningful — rows have no global position. Callers who
    * need a total order should `orderBy` explicitly (every oracle query
    * does), like O2a this is a documented, deliberate divergence. */
  def get(ids: Seq[String]): DataFrame =
    df.filter(col(IdCol).isin(ids: _*))

  /** Point lookup against a DataFrame of ids (scales past literal lists). */
  def get(ids: DataFrame): DataFrame =
    df.join(broadcast(ids.select(col(ids.columns.head).as(IdCol))), Seq(IdCol), "left_semi")

  // ------------------------------------------------------------------- O7
  /** Delete by ids — anti-join (lib.rs:273-286). */
  def delete(ids: Seq[String]): VectorStore =
    copy(df = df.filter(!col(IdCol).isin(ids: _*)))

  def delete(ids: DataFrame): VectorStore =
    copy(df = df.join(broadcast(ids.select(col(ids.columns.head).as(IdCol))), Seq(IdCol), "left_anti"))

  /** Element type of the stored vector column (FLOAT for reference/layout
    * parity, DOUBLE on the oracle-checked deterministic path). */
  def vecElemType: DataType =
    df.schema(VectorCol).dataType.asInstanceOf[ArrayType].elementType

  // ------------------------------------------------------------------ O10
  /** Record count (lib.rs:306-308). */
  def len(): Long = df.count()
  def isEmpty: Boolean = df.isEmpty

  // ------------------------------------------------------------------- O8
  /** Persist natively: partitioned parquet + a small JSON sidecar carrying
    * dim / metric / additional_data (the reference's single-JSON-file
    * format lives in [[graft.sources.NanoJsonCodec]] for interop). */
  def save(path: String): Unit = {
    df.write.mode("overwrite").parquet(s"$path/data")
    VectorStore.writeSidecar(df.sparkSession, s"$path/_meta.json",
      Meta(embeddingDim, metric, additionalData).toJson)
  }

  /** Bucketed persist (saveAsTable): pre-hash-partitions the store on
    * __id__ so id-keyed joins (get/delete/upsert probes) against other
    * tables bucketed the same way plan with NO shuffle exchange — the
    * co-located-join layout for the 1000-executor case. */
  def saveBucketed(tableName: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, IdCol).sortBy(IdCol)
      .format("parquet")
      .saveAsTable(tableName)

  // ------------------------------------------------------------------- O9
  /** Whole-map replace, like store_additional_data (lib.rs:301-303).
    * The reference stores arbitrary `serde_json::Value`s
    * (lib.rs:46-47, nested config in tests/unit_tests.rs:62-64), so the
    * canonical value type here is a Jackson [[com.fasterxml.jackson.databind.JsonNode]] —
    * nested objects/arrays/numbers round-trip the sidecar and the
    * reference-format codec byte-faithfully. */
  def withAdditionalDataJson(
      data: Map[String, com.fasterxml.jackson.databind.JsonNode]): VectorStore =
    copy(additionalData = data)

  /** String-valued convenience over [[withAdditionalDataJson]] (values
    * become JSON strings). */
  def withAdditionalData(data: Map[String, String]): VectorStore =
    copy(additionalData = data.map { case (k, v) =>
      k -> (com.fasterxml.jackson.databind.node.TextNode.valueOf(v):
        com.fasterxml.jackson.databind.JsonNode) })

  /** additional_data rendered to strings: JSON strings unquoted, any
    * other value as its compact JSON text. */
  def additionalDataStrings: Map[String, String] =
    additionalData.map { case (k, v) =>
      k -> (if (v.isTextual) v.asText else v.toString) }
}

object VectorStore {
  val IdCol = "__id__"
  val VectorCol = "vector"
  val MetricsCol = "__metrics__"
  val BucketCol = "__bucket__"

  /** Estimated-size bound for force-broadcasting an upsert batch (64 MiB
    * ≈ Spark's default 10 MB autoBroadcast threshold with headroom for
    * the optimizer's overestimates on union/project plans). Above it the
    * join is left unhinted and AQE decides from runtime stats. */
  val DefaultBroadcastBatchBytes: Long = 64L << 20

  /** Incremental, id-bucketed persistence — the upsert layout that scales.
    *
    * [[VectorStore.upsert]] is a logical-view merge: correct, but a
    * full-store rewrite per batch once persisted. At 100 TB that is the
    * wrong shape; the right one is the reference's in-place matrix-row
    * overwrite (lib.rs:157-163) generalized to partitions: hash-bucket
    * the store on `__id__`, route an incoming batch to the buckets it
    * touches, merge-and-rewrite ONLY those partitions (dynamic partition
    * overwrite), leave the rest byte-identical on disk. Cost per batch is
    * O(touched buckets / nBuckets) of the store, not O(store).
    */
  object Partitioned {
    /** The shared id-bucket function: [[Partitioned]] persists by it and
      * [[MatrixStore.fromStoreBucketed]] aligns its blocks with it, so a
      * Partitioned upsert's touched-bucket list maps 1:1 onto the matrix
      * blocks to refresh. */
    private[graft] def bucketOf(nBuckets: Int): Column =
      pmod(xxhash64(col(IdCol)), lit(nBuckets.toLong))

    /** Materialize a store into the bucketed layout. Rows are
      * PRE-ROUTED onto the bucket column so each directory lands as
      * ~one file (each writing task holds whole buckets) instead of
      * one file per task per bucket — see [[Ann.compactDirs]]'s cost
      * model for why file count, not bytes, dominates at scale. */
    def init(store: VectorStore, path: String, nBuckets: Int): Unit = {
      require(nBuckets > 0)
      store.df
        .withColumn(BucketCol, bucketOf(nBuckets))
        .repartition(nBuckets, col(BucketCol))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$path/data")
      val meta = Meta(store.embeddingDim, store.metric,
        store.additionalData + ("nBuckets" ->
          com.fasterxml.jackson.databind.node.IntNode.valueOf(nBuckets))).toJson
      writeSidecar(store.df.sparkSession, s"$path/_meta.json", meta)
    }

    /** Heal crash residue of an interrupted [[compact]] swap before the
      * layout is read or rewritten: between compaction's rename-away and
      * rename-in the bucket dir is missing and its `.old` copy holds the
      * only rows. Unhealed, an upsert would write a fresh dir holding
      * only the batch (and the next compact would then drop the `.old`
      * copy as a leftover), and a delete would miss the rows that a
      * later heal restores. Writers ([[upsert]], [[delete]]) sweep all
      * residue ([[Ann.recoverStagedDirs]]); readers ([[load]],
      * [[MatrixStore.fromPartitionedLayout]]) only restore a missing
      * bucket ([[Ann.restoreMissingDirs]]), so a read never deletes the
      * stage of a compaction that `StreamingOps.upsertStream` may be
      * running. */
    private[graft] def heal(spark: SparkSession, path: String, reader: Boolean): Unit = {
      val data = new org.apache.hadoop.fs.Path(s"$path/data")
      val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (reader) Ann.restoreMissingDirs(fs, data) else Ann.recoverStagedDirs(fs, data)
    }

    /** Open the bucketed layout as a plain store (bucket column dropped). */
    def load(spark: SparkSession, path: String): VectorStore = {
      heal(spark, path, reader = true)
      val meta = readMeta(spark, s"$path/_meta.json")
      VectorStore(spark.read.parquet(s"$path/data").drop(BucketCol),
        meta.embeddingDim, meta.metric, meta.additionalData - "nBuckets")
    }

    /** Merge a batch into the bucketed layout, rewriting only the touched
      * partitions. Same O2/O2a semantics as [[VectorStore.upsert]]:
      * existing ids get the new normalized vector and KEEP their old
      * metadata; new ids are appended whole. */
    def upsert(spark: SparkSession, path: String, batch: DataFrame): Unit = {
      heal(spark, path, reader = false)
      val meta = readMeta(spark, s"$path/_meta.json")
      val nBuckets = meta.additionalData("nBuckets").asInt()
      val full = spark.read.parquet(s"$path/data")
      val elemType = full.schema(VectorCol).dataType.asInstanceOf[ArrayType].elementType
      val b = withNormalizedVector(batch, elemType)
        .withColumn(BucketCol, bucketOf(nBuckets))
      // the touched-bucket list is tiny (<= batch size ids), so collect it
      // and prune the base read to those partition directories
      val touched = Ann.distinctRows(b.select(BucketCol)).map(_.getLong(0)).toSeq
      val base = full.filter(col(BucketCol).isin(touched: _*))
      val newVecs = b.select(col(IdCol), col(VectorCol).as("__newvec__"))
      val updated = base
        .join(newVecs, Seq(IdCol), "left")
        .withColumn(VectorCol, coalesce(col("__newvec__"), col(VectorCol)))
        .drop("__newvec__")
      val inserted = b.join(base.select(IdCol), Seq(IdCol), "left_anti")
      // the write overwrites files its own plan reads — cut the lineage by
      // materializing the merged buckets first (a production deployment
      // would stage to a sibling dir and swap; the touched-bucket volume
      // is the same either way)
      val merged = updated.unionByName(inserted, allowMissingColumns = true)
        .localCheckpoint(true)
      writeTouched(spark, path, merged)
    }

    /** Delete ids from the bucketed layout, rewriting only the touched
      * partitions — [[VectorStore.delete]]'s anti-join confined to the
      * buckets the id list hashes into (O(touched/nBuckets) of the
      * store, like [[upsert]]). A bucket whose every row is deleted
      * needs its directory removed explicitly: dynamic partition
      * overwrite only replaces partitions PRESENT in the written data,
      * so an emptied bucket would otherwise resurrect its old files.
      * (Locally that dir removal is a second, non-atomic step; a
      * production deployment puts a transactional table format over the
      * same bucketed layout.) */
    def delete(spark: SparkSession, path: String, ids: Seq[String]): Unit = {
      if (ids.isEmpty) return
      import spark.implicits._
      delete(spark, path, ids.toDF(IdCol))
    }

    /** [[delete]] with the ids as a DataFrame (first column = the ids)
      * — the streaming / bulk form: the id set reaches the anti-join
      * size-gated ([[Ann.maybeBroadcastIds]]) instead of force-
      * broadcast, and never funnels through the driver. The touched
      * bucket ids still collect (bounded by nBuckets — the `isin`
      * there is the plan-visible partition-prune witness, not an id
      * list). */
    def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
      heal(spark, path, reader = false)
      val meta = readMeta(spark, s"$path/_meta.json")
      val nBuckets = meta.additionalData("nBuckets").asInt()
      val (idDf0, n) = Ann.stageIdFrame(ids)
      if (n == 0L) return
      val idDf = idDf0.select(col("id").as(IdCol)).withColumn(BucketCol, bucketOf(nBuckets))
      val touched = Ann.distinctRows(idDf.select(BucketCol)).map(_.getLong(0)).toSeq
      val base = spark.read.parquet(s"$path/data")
        .filter(col(BucketCol).isin(touched: _*))
      val remaining = base
        .join(Ann.maybeBroadcastIds(spark, idDf.select(IdCol), n), Seq(IdCol), "left_anti")
        .localCheckpoint(true)
      // the partition column reads back as INT (directory-value
      // inference), not the LONG bucketOf produces — cast for the compare
      val keptBuckets = remaining.select(col(BucketCol).cast(LongType)).distinct()
        .collect().map(_.getLong(0)).toSet
      if (!remaining.isEmpty) writeTouched(spark, path, remaining)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(keptBuckets).foreach { bkt =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/data/$BucketCol=$bkt"), true)
      }
    }

    /** Compact bucket directories that accumulated more than `maxFiles`
      * parquet files — every [[upsert]]/streaming-ingest batch appends
      * files to its touched buckets, and at ingest cadence the
      * small-file debt is what kills scan throughput long before data
      * volume does. Offending dirs rewrite to one file via staging +
      * atomic rename ([[Ann.compactDirs]] — the shared helper behind
      * every partitioned layout's compaction); rows and untouched
      * buckets byte-identical. Returns compacted dir names. */
    def compact(spark: SparkSession, path: String, maxFiles: Int = 8): Seq[String] =
      Ann.compactDirs(spark, s"$path/data", maxFiles)

    /** Dynamic-partition-overwrite write of a touched-buckets DataFrame
      * (shared by [[upsert]] and [[delete]]); restores the session's
      * overwrite mode afterwards. */
    private def writeTouched(spark: SparkSession, path: String, df: DataFrame): Unit = {
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // route by bucket so each rewritten directory lands as one
        // file per shuffle partition holding it (≈1) — touched-bucket
        // rewrites then never accumulate per-task file fan-out
        df.repartition(col(BucketCol))
          .write.mode("overwrite").partitionBy(BucketCol).parquet(s"$path/data")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  private[operators] final case class Meta(
      embeddingDim: Int, metric: String,
      additionalData: Map[String, com.fasterxml.jackson.databind.JsonNode]) {
    def toJson: String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      // values are JsonNodes — their own toString IS their JSON text, so
      // nested objects/arrays/numbers persist without flattening
      val ad = additionalData.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}": ${v.toString}""" }.mkString("{", ", ", "}")
      s"""{"embedding_dim": $embeddingDim, "metric": "${esc(metric)}", "additional_data": $ad}"""
    }
  }

  /** Driver-side L2 normalize of a query vector — panics on the zero vector
    * exactly like the reference (lib.rs:352-355). Double accumulation. */
  def normalizeLocal(v: Array[Float]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    require(ss > 1e-12, "Cannot normalize a zero-magnitude vector")
    val inv = 1.0 / math.sqrt(ss)
    v.map(_.toDouble * inv)
  }

  /** Normalize the vector column of an incoming batch (ingest-side F2).
    * Single-pass [[graft.functions.VectorNormalize]] — the HOF transform
    * degrades to O(dim^2) once Catalyst inlines the norm into the lambda. */
  def withNormalizedVector(batch: DataFrame, elemType: DataType = FloatType): DataFrame =
    batch.withColumn(VectorCol,
      graft.functions.VectorNormalize.normalize(col(VectorCol), elemType == FloatType))

  /** Ingest any (id, vector, fields...) DataFrame: rename, cast, normalize.
    * The O1 "create" path for data already in DataFrames (the reference's
    * real source API is an in-process Vec<Data>, lib.rs:150). */
  def fromDataFrame(raw: DataFrame, idCol: String, vecCol: String, dim: Int,
      metric: String = "cosine", elemType: DataType = FloatType): VectorStore = {
    val df = raw
      .withColumn(IdCol, col(idCol).cast(StringType))
      .withColumn(VectorCol, col(vecCol).cast(ArrayType(elemType)))
      .drop(Seq(idCol, vecCol).filter(c => c != IdCol && c != VectorCol): _*)
    VectorStore(withNormalizedVector(df, elemType), dim, metric)
  }

  /** O1 load: native parquet + sidecar, with the reference's load-time size
    * validation (matrix.len == data.len * dim, lib.rs:122-129) re-expressed
    * as a distributed dimension check. */
  def load(spark: SparkSession, path: String, validate: Boolean = true): VectorStore = {
    val df = spark.read.parquet(s"$path/data")
    val meta = readMeta(spark, s"$path/_meta.json")
    if (validate) {
      val bad = df.filter(size(col(VectorCol)) =!= meta.embeddingDim).limit(1).count()
      require(bad == 0L,
        s"Storage corrupted: found vectors whose length != embedding_dim=${meta.embeddingDim}")
    }
    VectorStore(df, meta.embeddingDim, meta.metric, meta.additionalData)
  }

  /** Tiny sidecar write through Hadoop FS so the path scheme matches. */
  private[operators] def writeSidecar(spark: SparkSession, file: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[operators] def readMeta(spark: SparkSession, file: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(txt)
    val ad = Option(node.get("additional_data")).map { n =>
      val it = n.properties().iterator()
      val b = Map.newBuilder[String, com.fasterxml.jackson.databind.JsonNode]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }.getOrElse(Map.empty[String, com.fasterxml.jackson.databind.JsonNode])
    Meta(node.get("embedding_dim").asInt(), node.get("metric").asText(), ad)
  }
}
