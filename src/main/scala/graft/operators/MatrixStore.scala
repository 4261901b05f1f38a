package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Flattened-matrix scan cache for latency-critical exact top-k.
  *
  * The reference's core layout is a dense row-major `f32` matrix scanned
  * contiguously (/root/reference/src/lib.rs:44-45,208-242;
  * docs/src/design_choices.md:5-12). The DataFrame path
  * ([[VectorStore.query]]) reproduces its *plan* — but each row passes
  * through columnar-cache decode and ArrayData accessors, a per-element
  * overhead the reference does not pay. This cache is that matrix design
  * generalized to partitions: each partition pins one primitive
  * `float[]` block plus its id array, a query is one `mapPartitions`
  * running the tight dot-product loop with a bounded per-partition heap,
  * and the driver merges P partial heaps of size k — the reference's
  * Rayon fold/reduce (lib.rs:218-242) with executors for threads. This
  * is the one deliberate use of the RDD layer in the library (genuine
  * per-partition imperative kernel; everything else is DataFrames).
  *
  * Two build modes:
  *  - [[MatrixStore.fromStore]]: one block per source partition — the
  *    cheapest build for a read-only store.
  *  - [[MatrixStore.fromStoreBucketed]]: one block per
  *    [[VectorStore.Partitioned]] id-bucket, so after a bucketed upsert
  *    the cache is maintained INCREMENTALLY ([[refreshBuckets]]) by
  *    rebuilding only the touched buckets' blocks — O(touched/nBuckets)
  *    of the store instead of a full rebuild.
  *
  * Scores are bitwise-identical to [[VectorStore.query]] on the same
  * store: the same left-to-right double accumulation over the same
  * normalized float vectors, the same inclusive threshold, NaN
  * exclusion, and (score DESC, id ASC) tie order — and identical across
  * both build modes and any refresh history, because the heap merge is
  * order-insensitive.
  */
final class MatrixStore private (
    private[operators] val blocks: RDD[MatrixStore.Block],
    val dim: Int,
    val nBuckets: Option[Int]) extends Serializable {

  /** Exact top-k cosine query; returns (id, score) best-first.
    * `allowedIds` is the O4 metadata predicate lowered to the id level
    * (evaluate the predicate ONCE on the metadata table, ship the
    * qualifying ids) — with it, filter + threshold + top-k, the
    * reference's full hot path (lib.rs:211-222), runs on this tier. */
  def query(queryVec: Array[Float], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Array[(String, Double)] =
    queryBatch(Seq("q" -> queryVec), topK, betterThan, allowedIds)("q")

  /** Batch exact top-k: every query scores against each matrix row in
    * ONE pass over the cache (rows outer, queries inner — the row's
    * elements stay hot in cache across queries). Per-(partition, query)
    * bounded heaps, merged per query on the driver; kernel semantics
    * identical to [[query]], so `queryBatch(qs)(qid)` ==
    * `query(qs(qid))` element for element.
    *
    * `allowedIds` rides as one broadcast and gates rows BEFORE any
    * flops are spent on them — the id-set form of the DataFrame path's
    * pred-before-scoring contract, checked per row against the slab's
    * id array. Meant for selective predicates (the set must fit in
    * executor memory); a low-selectivity filter belongs on the
    * DataFrame path, where the predicate prunes at the scan. */
  def queryBatch(queries: Seq[(String, Array[Float])], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Map[String, Array[(String, Double)]] = {
    if (queries.isEmpty) return Map.empty
    val qn: Array[Array[Double]] = queries.map(q => VectorStore.normalizeLocal(q._2)).toArray
    qn.foreach(q => require(q.length == dim, s"query dim ${q.length} != store dim $dim"))
    val thr = betterThan.getOrElse(Double.MinValue)
    val d = dim
    val k = topK
    val nq = qn.length
    val qB = blocks.sparkContext.broadcast(qn)
    val allowedB = allowedIds.map(blocks.sparkContext.broadcast(_))
    val worstFirst = MatrixStore.worstFirst
    val partials = blocks.mapPartitions { it =>
      val qs = qB.value
      val allowed = allowedB.map(_.value).orNull
      val heaps = Array.fill(nq)(
        scala.collection.mutable.PriorityQueue.empty[(Double, String)](worstFirst))
      it.foreach { b =>
        val m = b.matrix
        val n = b.ids.length
        var r = 0
        while (r < n) {
          if (allowed == null || allowed.contains(b.ids(r))) {
            val off = r * d
            var qi = 0
            while (qi < nq) {
              val qv = qs(qi)
              var s = 0.0
              var i = 0
              while (i < d) { s += m(off + i).toDouble * qv(i); i += 1 }
              if (s >= thr) {
                val heap = heaps(qi)
                val e = (s, b.ids(r))
                if (heap.size < k) heap.enqueue(e)
                else if (worstFirst.compare(e, heap.head) < 0) { heap.dequeue(); heap.enqueue(e) }
              }
              qi += 1
            }
          }
          r += 1
        }
      }
      Iterator.single(heaps.map(_.toArray))
    }.collect()
    queries.iterator.zipWithIndex.map { case ((qid, _), qi) =>
      qid -> partials.iterator.flatMap(_(qi)).toArray.sorted(worstFirst).take(k)
        .map { case (s, id) => (id, s) }
    }.toMap
  }

  /** Incrementally maintain a bucket-aligned cache after a
    * [[VectorStore.Partitioned]]-style upsert/delete: rebuild ONLY the
    * `touched` buckets' blocks from the store's current state and keep
    * every other block's slab untouched. The returned cache is
    * materialized before this returns and holds its OWN storage entries,
    * so release the superseded handle afterwards —
    * `old.unpersist()` — or a long-lived refresh loop accumulates one
    * stale generation of touched-bucket slabs per refresh. Requires a
    * cache built with [[MatrixStore.fromStoreBucketed]] /
    * [[MatrixStore.fromPartitionedLayout]] and the layout's nBuckets. */
  def refreshBuckets(store: VectorStore, touched: Seq[Int]): MatrixStore = {
    val nb = nBuckets.getOrElse(throw new IllegalArgumentException(
      "refreshBuckets needs a bucket-aligned cache — build with fromStoreBucketed"))
    val touchedSet = touched.toSet
    val kept = blocks.filter(b => !touchedSet.contains(b.bucket))
    val fresh = MatrixStore.bucketBlocks(
      store.df.filter(VectorStore.Partitioned.bucketOf(nb).isin(touched.map(_.toLong): _*)),
      dim, nb)
    val combined = (kept ++ fresh).persist(StorageLevel.MEMORY_AND_DISK)
    combined.count() // materialize: queries measure scan, not refresh
    new MatrixStore(combined, dim, nBuckets)
  }

  /** Persist the cache's contents as a [[VectorStore.Partitioned]]
    * on-disk layout (`data/__bucket__=b` parquet directories + sidecar),
    * closing the latency path's cold-start gap: a warm bucket-aligned
    * cache saves once, and [[MatrixStore.fromPartitionedLayout]] reloads
    * it with NO shuffle — each slab flattens straight into its bucket's
    * partition directory, and the load path slabs each directory back.
    * Requires a bucket-aligned cache ([[MatrixStore.fromStoreBucketed]] /
    * [[MatrixStore.fromPartitionedLayout]]); a partition-aligned build
    * (bucket = -1) has no stable on-disk partition identity. */
  def save(path: String): Unit = {
    val nb = nBuckets.getOrElse(throw new IllegalArgumentException(
      "save needs a bucket-aligned cache — build with fromStoreBucketed"))
    val d = dim
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    blocks.flatMap { b =>
        val m = b.matrix
        b.ids.indices.iterator.map { r =>
          (b.ids(r), java.util.Arrays.copyOfRange(m, r * d, (r + 1) * d).toSeq,
            b.bucket.toLong)
        }
      }
      .toDF(VectorStore.IdCol, VectorStore.VectorCol, VectorStore.BucketCol)
      .repartition(nb, org.apache.spark.sql.functions.col(VectorStore.BucketCol))
      .write.mode("overwrite")
      .partitionBy(VectorStore.BucketCol).parquet(s"$path/data")
    VectorStore.writeSidecar(spark, s"$path/_meta.json",
      VectorStore.Meta(d, "cosine", Map("nBuckets" ->
        com.fasterxml.jackson.databind.node.IntNode.valueOf(nb))).toJson)
  }

  /** Collect the slabs into a driver-local serving replica — see
    * [[LocalMatrixStore]]. Memory cost: one full copy of the matrix
    * (N × dim × 4 bytes + ids) in the local JVM. */
  def toLocal(): LocalMatrixStore =
    new LocalMatrixStore(blocks.collect(), dim)

  /** Release the pinned blocks. `blocking = true` waits for the executors
    * to actually free the memory — required between timed rebuilds, where
    * an async release would let the old ~N×dim×4-byte slab race the new
    * build for cache space. */
  def unpersist(blocking: Boolean = false): Unit = blocks.unpersist(blocking)
}

/** Driver-local serving replica of a [[MatrixStore]] — the endpoint
  * tier for single-query latency. Spark builds and MAINTAINS the matrix
  * at cluster scale (bucketed layout, incremental refresh, persist); a
  * serving process materializes the slabs it serves in-process — which
  * is the reference's entire design (lib.rs:44-48) reappearing as the
  * leaf of the distributed system — and answers queries with zero task-
  * scheduling overhead: a multithreaded scan over primitive `float[]`
  * slabs with the same left-to-right double-accumulation kernel,
  * inclusive threshold, NaN exclusion, and (score DESC, id ASC) tie
  * order as [[MatrixStore.queryBatch]], so results are bitwise-equal by
  * construction (the per-slab heap merge is order-insensitive).
  *
  * This is deliberately NOT a distributed operator: it exists because a
  * 13 ms top-k over an in-memory matrix is below Spark's scheduling
  * floor, and the scale answer for serving is replication (each replica
  * holds the partitions it serves), not tasks. */
final class LocalMatrixStore private[operators] (
    blocks: Array[MatrixStore.Block], val dim: Int) {

  def nRows: Long = blocks.iterator.map(_.ids.length.toLong).sum

  /** Incrementally refresh the replica after a bucketed upsert/delete
    * cycle: ship ONLY the `touched` buckets' slabs from the (already
    * refreshed) bucket-aligned distributed cache and splice them over
    * this replica's copies of those buckets — the touched-buckets-only
    * delta that completes the ingestion-to-serving loop
    * (`Partitioned.upsert` → `refreshBuckets` → here, each step cost ∝
    * touched). Untouched slabs are reused by reference (zero copy); a
    * touched bucket the refreshed cache no longer has (fully deleted)
    * drops out. Returns a NEW replica — serving code swaps the handle
    * atomically, same discipline as the cache tier. Requires a
    * bucket-aligned source cache and a replica whose blocks carry
    * bucket tags (i.e. built from one). */
  def refresh(mx: MatrixStore, touched: Seq[Int]): LocalMatrixStore = {
    require(mx.nBuckets.isDefined,
      "refresh needs a bucket-aligned cache — build with fromStoreBucketed")
    require(mx.dim == dim, s"cache dim ${mx.dim} != replica dim $dim")
    val touchedSet = touched.toSet
    require(blocks.forall(_.bucket >= 0),
      "refresh needs a bucket-aligned replica — toLocal() of a bucketed cache")
    val fresh = mx.blocks.filter(b => touchedSet.contains(b.bucket)).collect()
    val kept = blocks.filterNot(b => touchedSet.contains(b.bucket))
    new LocalMatrixStore(kept ++ fresh, dim)
  }

  /** Index this replica's rows into an in-process HNSW graph — the
    * sub-linear serving sibling ([[HnswReplica]]): same vectors, same
    * score kernel, O(ef·M·log N) per query instead of O(N·d). The slab
    * vectors are already L2-normalized (every ingest path normalizes),
    * which [[HnswReplica]] requires. One-off build cost ∝ N·log N
    * parallel across the pool; after that, [[HnswReplica.add]] /
    * [[HnswReplica.markDeleted]] maintain it incrementally. */
  def toHnsw(m: Int = 16, efConstruction: Int = 100,
      seed: Long = 42L): HnswReplica = {
    val n = nRows.toInt
    val allIds = new Array[String](n)
    val flat = new Array[Float](n * dim)
    var off = 0
    blocks.foreach { b =>
      System.arraycopy(b.ids, 0, allIds, off, b.ids.length)
      System.arraycopy(b.matrix, 0, flat, off * dim, b.matrix.length)
      off += b.ids.length
    }
    HnswReplica.build(allIds, flat, dim, m, efConstruction, seed)
  }

  /** Sharded variant of [[toHnsw]] ([[HnswShards]]): id-hash-partition
    * the rows into `nShards` independent graphs, query them in parallel
    * and merge. On large high-dim corpora this holds the SMALL-graph
    * recall at the wall latency of one small-graph search — the
    * operating points a single 100k+ graph can't reach (see
    * [[HnswShards]]'s scaladoc for the measured numbers). `nShards = 0`
    * picks [[HnswShards.defaultShards]] (~3.1k rows per shard — small
    * enough that each shard builds serially = deterministically on its
    * own pool thread). Default m/efConstruction are the round-10
    * measured sweet spot at that shard size on the hardest (uniform
    * 1024-dim) microbench: m=24/efC=200 builds 100k in ~24 s at
    * recall@10 = 1.000 (ef=256) / 0.975 (ef=128); m=32/efC=400 bought
    * nothing but 1.7x the build there. */
  def toHnswSharded(nShards: Int = 0, m: Int = 24, efConstruction: Int = 200,
      seed: Long = 42L): HnswShards = {
    val n = nRows.toInt
    val allIds = new Array[String](n)
    val flat = new Array[Float](n * dim)
    var off = 0
    blocks.foreach { b =>
      System.arraycopy(b.ids, 0, allIds, off, b.ids.length)
      System.arraycopy(b.matrix, 0, flat, off * dim, b.matrix.length)
      off += b.ids.length
    }
    val k = if (nShards > 0) nShards else HnswShards.defaultShards(n.toLong)
    HnswShards.build(allIds, flat, dim, k, m, efConstruction, seed)
  }

  /** Exact top-k cosine query; returns (id, score) best-first.
    * `allowedIds` is the O4 metadata predicate lowered to the id level
    * (same contract as [[MatrixStore.queryBatch]]) — with it the
    * replica serves the reference's full hot path
    * (filter + threshold + top-k, lib.rs:211-222) in-process. */
  def query(queryVec: Array[Float], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Array[(String, Double)] = {
    val qn = VectorStore.normalizeLocal(queryVec)
    require(qn.length == dim, s"query dim ${qn.length} != store dim $dim")
    val thr = betterThan.getOrElse(Double.MinValue)
    val allowed = allowedIds.orNull
    val worstFirst = MatrixStore.worstFirst
    val d = dim
    val partials = new Array[Array[(Double, String)]](blocks.length)
    java.util.stream.IntStream.range(0, blocks.length).parallel().forEach { bi =>
      val b = blocks(bi)
      val heap = scala.collection.mutable.PriorityQueue.empty[(Double, String)](worstFirst)
      val m = b.matrix
      val n = b.ids.length
      var r = 0
      while (r < n) {
        if (allowed == null || allowed.contains(b.ids(r))) {
          val off = r * d
          var s = 0.0
          var i = 0
          while (i < d) { s += m(off + i).toDouble * qn(i); i += 1 }
          if (s >= thr) { // NaN fails the comparison, exactly like the distributed kernel
            val e = (s, b.ids(r))
            if (heap.size < topK) heap.enqueue(e)
            else if (worstFirst.compare(e, heap.head) < 0) { heap.dequeue(); heap.enqueue(e) }
          }
        }
        r += 1
      }
      partials(bi) = heap.toArray
    }
    partials.iterator.flatMap(_.iterator).toArray
      .sorted(worstFirst).take(topK).map { case (s, id) => (id, s) }
  }

  /** Batch exact top-k on the replica: one pass over the slabs, rows
    * outer / queries inner (the row's elements stay hot across
    * queries), per-(slab, query) bounded heaps merged per query —
    * [[MatrixStore.queryBatch]]'s kernel in-process, so
    * `queryBatch(qs)(qid)` == `query(qs(qid))` element for element.
    * Same optional `allowedIds` O4 gate as the single-query path. */
  def queryBatch(queries: Seq[(String, Array[Float])], topK: Int,
      betterThan: Option[Double] = None,
      allowedIds: Option[Set[String]] = None): Map[String, Array[(String, Double)]] = {
    if (queries.isEmpty) return Map.empty
    val qn: Array[Array[Double]] = queries.map(q => VectorStore.normalizeLocal(q._2)).toArray
    qn.foreach(q => require(q.length == dim, s"query dim ${q.length} != store dim $dim"))
    val thr = betterThan.getOrElse(Double.MinValue)
    val allowed = allowedIds.orNull
    val d = dim
    val k = topK
    val nq = qn.length
    val worstFirst = MatrixStore.worstFirst
    val partials = new Array[Array[Array[(Double, String)]]](blocks.length)
    java.util.stream.IntStream.range(0, blocks.length).parallel().forEach { bi =>
      val b = blocks(bi)
      val heaps = Array.fill(nq)(
        scala.collection.mutable.PriorityQueue.empty[(Double, String)](worstFirst))
      val m = b.matrix
      val n = b.ids.length
      var r = 0
      while (r < n) {
        if (allowed == null || allowed.contains(b.ids(r))) {
          val off = r * d
          var qi = 0
          while (qi < nq) {
            val qv = qn(qi)
            var s = 0.0
            var i = 0
            while (i < d) { s += m(off + i).toDouble * qv(i); i += 1 }
            if (s >= thr) {
              val heap = heaps(qi)
              val e = (s, b.ids(r))
              if (heap.size < k) heap.enqueue(e)
              else if (worstFirst.compare(e, heap.head) < 0) { heap.dequeue(); heap.enqueue(e) }
            }
            qi += 1
          }
        }
        r += 1
      }
      partials(bi) = heaps.map(_.toArray)
    }
    queries.iterator.zipWithIndex.map { case ((qid, _), qi) =>
      qid -> partials.iterator.flatMap(_(qi)).toArray.sorted(worstFirst).take(k)
        .map { case (s, id) => (id, s) }
    }.toMap
  }
}

object MatrixStore {
  /** Worst-first heap ordering: the head is the element to evict —
    * lowest score, ties resolved worst = larger id — so the kept set is
    * exactly ORDER BY score DESC, id ASC LIMIT k. */
  private[operators] val worstFirst: Ordering[(Double, String)] =
    new Ordering[(Double, String)] {
      def compare(a: (Double, String), b: (Double, String)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else a._2.compareTo(b._2)
      }
    }

  /** One partition's slab: ids + row-major normalized float matrix.
    * `bucket` is the [[VectorStore.Partitioned]] id-bucket the slab
    * covers, or -1 for partition-aligned (non-incremental) builds. */
  final case class Block(ids: Array[String], matrix: Array[Float], bucket: Int = -1)

  /** Append-only primitive-array slab builder (no per-element boxing). */
  private final class BlockBuilder(dim: Int) {
    val ids = scala.collection.mutable.ArrayBuffer.empty[String]
    private var matrix = new Array[Float](0)
    private var used = 0
    def add(id: String, v: Array[Float]): Unit = {
      if (used + dim > matrix.length) {
        val grown = new Array[Float](math.max(matrix.length * 2, (used + dim) * 2))
        System.arraycopy(matrix, 0, grown, 0, used)
        matrix = grown
      }
      System.arraycopy(v, 0, matrix, used, dim)
      used += dim
      ids += id
    }
    def result(bucket: Int): Block =
      Block(ids.toArray, java.util.Arrays.copyOf(matrix, used), bucket)
  }

  /** Build (and pin in executor memory) the matrix cache from a store.
    * One pass, one block per source partition; vectors are cast to
    * float — the reference's element type (lib.rs:24) — regardless of
    * the store's oracle-path element type. */
  def fromStore(st: VectorStore): MatrixStore = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dim = st.embeddingDim
    val spark = st.df.sparkSession
    import spark.implicits._
    val blocks = st.df
      // plain ArrayType(FloatType): a non-null element cast is rejected
      // when the source (e.g. parquet) declares nullable elements
      .select(col(VectorStore.IdCol).cast(StringType),
        col(VectorStore.VectorCol).cast(ArrayType(FloatType)))
      .as[(String, Array[Float])]
      .rdd
      .mapPartitions { it =>
        val b = new BlockBuilder(dim)
        it.foreach { case (id, v) =>
          require(v.length == dim, s"vector dim ${v.length} != $dim for id $id")
          b.add(id, v)
        }
        if (b.ids.isEmpty) Iterator.empty else Iterator.single(b.result(-1))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count() // materialize now: queries measure scan, not build
    new MatrixStore(blocks, dim, None)
  }

  /** Build a bucket-aligned cache: one block per
    * [[VectorStore.Partitioned]] id-bucket, enabling
    * [[MatrixStore.refreshBuckets]] after incremental upserts. Costs one
    * extra shuffle vs [[fromStore]] (rows must be co-located by bucket). */
  def fromStoreBucketed(st: VectorStore, nBuckets: Int): MatrixStore = {
    require(nBuckets > 0)
    val blocks = bucketBlocks(st.df, st.embeddingDim, nBuckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    new MatrixStore(blocks, st.embeddingDim, Some(nBuckets))
  }

  /** Load a bucket-aligned cache straight from a
    * [[VectorStore.Partitioned]] on-disk layout with NO shuffle: the
    * layout already co-located rows by id-bucket at write time, so each
    * bucket's partition directory scans independently, coalesces into
    * one task, and slabs into one Block. Build cost is a single pass
    * over the files; parallelism is one task per bucket (exactly the
    * refresh granularity). The returned cache supports
    * [[MatrixStore.refreshBuckets]] with the layout's own nBuckets. */
  def fromPartitionedLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): MatrixStore = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    VectorStore.Partitioned.heal(spark, path, reader = true)
    val meta = VectorStore.readMeta(spark, s"$path/_meta.json")
    val nBuckets = meta.additionalData.getOrElse("nBuckets",
      throw new IllegalArgumentException(
        s"$path is not a VectorStore.Partitioned layout (no nBuckets in sidecar)")).asInt()
    val dim = meta.embeddingDim
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perBucket = (0 until nBuckets).flatMap { b =>
      val dirPath = s"$path/data/${VectorStore.BucketCol}=$b"
      if (!fs.exists(new org.apache.hadoop.fs.Path(dirPath))) None
      else Some(spark.read.parquet(dirPath)
        // parquet element nullability is true, so cast keeps containsNull
        // (the encoder decodes fine; stored vectors never hold nulls)
        .select(col(VectorStore.IdCol).cast(StringType),
          col(VectorStore.VectorCol).cast(ArrayType(FloatType)))
        .coalesce(1) // single slab per bucket, no exchange
        .as[(String, Array[Float])]
        .rdd
        .mapPartitions { it =>
          val bld = new BlockBuilder(dim)
          it.foreach { case (id, v) =>
            require(v.length == dim, s"vector dim ${v.length} != $dim for id $id")
            bld.add(id, v)
          }
          if (bld.ids.isEmpty) Iterator.empty else Iterator.single(bld.result(b))
        })
    }
    val blocks = spark.sparkContext.union(perBucket)
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    new MatrixStore(blocks, dim, Some(nBuckets))
  }

  /** Shuffle rows to their id-bucket and slab each bucket into a Block.
    * One partition per bucket, so a refresh rebuilds exactly the touched
    * slabs. */
  private def bucketBlocks(df: org.apache.spark.sql.DataFrame,
      dim: Int, nBuckets: Int): RDD[Block] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        VectorStore.Partitioned.bucketOf(nBuckets).cast(IntegerType).as("__b__"),
        col(VectorStore.IdCol).cast(StringType),
        col(VectorStore.VectorCol).cast(ArrayType(FloatType)))
      .as[(Int, String, Array[Float])]
      .rdd
      .keyBy(_._1)
      .partitionBy(new org.apache.spark.HashPartitioner(nBuckets))
      .mapPartitions { it =>
        // one bucket per partition under HashPartitioner(nBuckets) when
        // keys are 0..nBuckets-1, but group defensively by key anyway
        val builders = scala.collection.mutable.Map.empty[Int, BlockBuilder]
        it.foreach { case (bkt, (_, id, v)) =>
          require(v.length == dim, s"vector dim ${v.length} != $dim for id $id")
          builders.getOrElseUpdate(bkt, new BlockBuilder(dim)).add(id, v)
        }
        builders.iterator.map { case (bkt, b) => b.result(bkt) }
      }
  }
}
