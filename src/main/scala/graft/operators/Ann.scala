package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions._
import graft.functions.{ScoredId, TopKByScore}

/** Similarity search over an embedding column.
  *
  * Brute-force exact top-k is the semantics baseline (the reference is
  * brute-force by contract, /root/reference/docs/src/basics.md:27-34); the
  * hyperplane-LSH bucketing is the additive sub-quadratic scale path —
  * never a silent replacement (SURVEY.md §7.4.5).
  */
object Ann {

  /** Shared tail of every top-k pipeline: reduce scored (qid, id, score)
    * rows with the bounded-heap aggregate and explode the per-query hit
    * arrays into ranked rows. */
  private def topKHits(scored: DataFrame, idCol: String, k: Int,
      roundScores: Boolean = true): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(TopKByScore.topk(col("__score__"), col(idCol).cast(StringType), k).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(
        col("qid"),
        (col("rank0") + 1).cast(IntegerType).as("rank"),
        col("hit.id").as("id"),
        (if (roundScores) round(col("hit.score"), 6) else col("hit.score")).as("score"))

  /** Exact batch top-k: score every (query, row) pair, then reduce with
    * the bounded-heap aggregate [[TopKByScore]].
    *
    * The query side is broadcast (Q rows), the data side streams: map-side
    * partial aggregation keeps per-partition heaps of size k, so the
    * shuffle is O(partitions × Q × k) — the reference's Rayon fold/reduce
    * (lib.rs:208-242) generalized to executors.
    */
  def bruteForceTopK(
      data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    // pre-normalize each side ONCE (cosine == dot on unit vectors);
    // computing cosineD per (query,row) pair would re-derive both norms
    // per pair — 3x the dot-product flops on the dominant scan
    val d = data.select(col(idCol).as(idCol),
      graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
    val scored = d
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qv"))))
      .withColumn("__score__", dotD(col("__nv__"), col("qv")))
    topKHits(scored, idCol, k)
  }

  /** k-NN graph: for each query row, its top-k OTHER rows by cosine (self
    * excluded) — the all-pairs similarity-join shape. The query side is
    * broadcast whole, so it must fit in executor memory: use
    * [[knnGraphBlocked]] when the query side is the dataset itself, or
    * [[lshTopK]]/[[ivfTopK]] as the sub-quadratic approximate path. */
  def knnGraph(
      data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, roundScores: Boolean = true): DataFrame = {
    val d = data.select(col(idCol).as(idCol),
      graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
    val scored = d
      .crossJoin(broadcast(queries.select(col(idCol).as("qid"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("qv"))))
      .filter(col(idCol) =!= col("qid")) // self excluded
      .withColumn("__score__", dotD(col("__nv__"), col("qv")))
    topKHits(scored, idCol, k, roundScores)
  }

  /** Incrementally maintain a k-NN graph after appending a batch of NEW
    * rows — EXACT, not approximate: for an existing node, the true
    * top-k over the grown corpus is contained in (its old top-k) ∪ (its
    * scores against the batch), so merging those and re-selecting
    * reproduces a full rebuild bit for bit, at cost ∝ |old|·|batch|
    * (one broadcast-scored pass) + |batch|·|union| (the new nodes'
    * rows) instead of |union|² — the difference between "nightly graph
    * rebuild" and "graph follows ingestion" at corpus scale.
    *
    * `oldGraph` must carry RAW scores (build it with
    * `knnGraph(..., roundScores = false)` / [[knnGraphAppend]] output
    * with `roundScores = false`): selection must compare the same
    * doubles a rebuild would, and a 6-dp-rounded edge list loses the
    * order of near-tied candidates. Batch ids must be NEW (disjoint
    * from the old corpus) — this is append maintenance, not upsert.
    * Output schema/rounding matches [[knnGraph]] (`roundScores`
    * controls the output; keep raw to feed the NEXT append). */
  def knnGraphAppend(
      oldGraph: DataFrame, oldData: DataFrame, idCol: String, vecCol: String,
      batch: DataFrame, k: Int, roundScores: Boolean = true): DataFrame = {
    val unionData = oldData.select(col(idCol), col(vecCol))
      .unionByName(batch.select(col(idCol), col(vecCol)))
    // new nodes: exact top-k vs the whole grown corpus
    val newNodeEdges = knnGraph(unionData, idCol, vecCol, batch, k, roundScores)
    // old nodes: old raw edges ∪ raw scores against the batch, re-selected
    val crossScored = oldData.select(col(idCol).as("qid"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("qv"))
      .crossJoin(broadcast(batch.select(col(idCol).as("__bid__"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__bv__"))))
      .select(col("qid"), col("__bid__").cast(StringType).as("id"),
        dotD(col("__bv__"), col("qv")).as("__score__"))
    val merged = oldGraph
      .select(col("qid"), col("id"), col("score").as("__score__"))
      .unionByName(crossScored)
    val oldNodeEdges = topKHits(merged, "id", k, roundScores)
    oldNodeEdges.unionByName(newNodeEdges)
  }

  /** All-pairs k-NN graph in broadcast-bounded query blocks.
    *
    * [[knnGraph]] broadcasts its whole query side — for the all-pairs
    * case (queries == data) that broadcasts the dataset, an executor OOM
    * at scale. This variant hash-partitions the query rows into
    * ceil(n / maxBroadcastRows) disjoint blocks and unions one
    * broadcast-scored pass per block: every broadcast stays bounded by
    * maxBroadcastRows, the data side streams in each pass, and each
    * query lands in exactly one block so the union needs no dedup.
    * Wall-clock grows linearly in nBlocks (one data scan per block) in
    * exchange for bounded memory — the honest EXACT all-pairs path; use
    * [[lshTopK]]/[[ivfTopK]] when approximate recall is acceptable. The
    * one driver-side action is a count() to size the blocks.
    */
  def knnGraphBlocked(
      data: DataFrame, idCol: String, vecCol: String, k: Int,
      maxBroadcastRows: Long = 100000L): DataFrame = {
    require(maxBroadcastRows > 0, "maxBroadcastRows must be positive")
    // snapshot the projected input ONCE (eager localCheckpoint, freed by
    // the context cleaner when unreferenced): every block pass and the
    // sizing count read the snapshot, not ceil(n/maxBroadcastRows)+1
    // re-scans of the source
    val snap = data.select(col(idCol), col(vecCol)).localCheckpoint(true)
    val n = snap.count()
    val nBlocks = math.max(1L, (n + maxBroadcastRows - 1) / maxBroadcastRows).toInt
    val blockOf = pmod(xxhash64(col(idCol)), lit(nBlocks))
    (0 until nBlocks)
      .map(b => knnGraph(snap, idCol, vecCol, snap.filter(blockOf === b), k))
      .reduce(_.unionByName(_))
  }

  /** Deterministic pseudo-random hyperplanes, engine-independent: element
    * h[p][d] = sin(1000*p + d) (any fixed, reproducible, roughly isotropic
    * family works for sign-LSH). */
  private def hyperplane(p: Int, dim: Int): Column =
    array((0 until dim).map(d => sin(lit(1000.0 * p + d))): _*)

  /** Sign-LSH bucket key: one bit per hyperplane = sign of the projection.
    * Vectors in the same bucket are near-dup candidates; probing the query
    * bucket only turns brute force into a candidate-bounded search.
    * `planeOffset` selects an independent hyperplane family, so callers
    * can OR several bucket sets (multi-band LSH) for higher recall. */
  def hyperplaneBucket(vecCol: Column, dim: Int, nPlanes: Int, planeOffset: Int = 0): Column =
    concat_ws("", (0 until nPlanes).map { p =>
      when(dotD(vecCol, hyperplane(planeOffset + p, dim)) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  // ------------------------------------------------------------- IVF
  /** IVF coarse index: KMeans centroids + cluster-assigned rows. At scale
    * the assigned DataFrame would be written bucketed/partitioned BY
    * cluster so a probe touches only nProbe partitions. */
  final case class IvfIndex(centroids: Seq[(Int, Seq[Double])], assigned: DataFrame)

  /** Build an IVF index: MLlib KMeans over a BOUNDED SAMPLE of the
    * (cast-to-double) vectors, then assign every row to its nearest
    * centroid in ONE expression pass. A coarse quantizer does not need
    * the full corpus in the fit — the standard practice (FAISS trains
    * on min(N, points_per_centroid·k) sampled rows) — so the fit cost
    * is capped at `fitRowsPerList`·nLists rows regardless of corpus
    * size, while the old fit iterated maxIter× over everything (the
    * round-10 scale bench measured it 5.6× for a 10× row step; the
    * assignment pass is the only remaining corpus-sized cost). The
    * sample is portable-hash-selected on the id (deterministic under
    * any partitioning, no rand()); corpora at or under the cap fit on
    * every row, exactly as before. The full-corpus assignment stays on
    * MLlib's native transform (BLAS distances, norm pruning, no
    * per-centroid array allocation — at nLists ∝ √N the plan-literal
    * expression [[ivfAppendSave]] uses for its SMALL batches would
    * churn nLists×dim doubles of garbage per row here). Centroids are
    * tiny (nLists x dim) and ride along as a broadcast table. */
  def ivfBuild(data: DataFrame, idCol: String, vecCol: String,
      nLists: Int, seed: Long = 42L, maxIter: Int = 5,
      fitRowsPerList: Int = 128): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(fitRowsPerList >= 1, s"fitRowsPerList must be >= 1, got $fitRowsPerList")
    val base = data.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cap = fitRowsPerList.toLong * nLists
    val n = base.count()
    val fitRows =
      if (n <= cap) base
      else {
        // deterministic portable-hash thinning to ~cap rows: the seed
        // rides in the hash input so different builds draw different
        // (but each reproducible) samples
        val mod = 1L << 20
        val keep = math.max(1L, (cap * mod) / n)
        base.filter(pmod(xxhash64(col("id"), lit(seed)), lit(mod)) < lit(keep))
      }
    // Pin the fit sample's LAYOUT to a pure function of the data: hash
    // partitions sized by the cap (one ~1k-row partition per 1024 sample
    // rows, never the session default) and a within-partition id sort.
    // Two independent reasons, both measured in round 19:
    //  - KMeans runs several small synchronous stages per iteration
    //    (init sample, per-iteration aggregates); with partitions = the
    //    session default, each barrier waits on `cpus` tiny tasks, and
    //    on an oversubscribed host the stage tail amplifies every
    //    barrier (the r18 driver bench measured the one MLlib fit in
    //    the suite at 28.5 s under local[32] vs 3.8 s under local[8] on
    //    the same code). The sample is cap-bounded, so its partition
    //    count must derive from the cap, not from cluster width.
    //  - takeSample/init read rows per partition, so the fitted
    //    centroids were a function of the session's parallelism; after
    //    the hash+sort pin they are reproducible across any core count
    //    (the r18 driver artifacts show different recall at local[8] vs
    //    local[32] from this exact effect).
    // The fit cache also narrows to the features column alone — the fit
    // re-reads it maxIter times and never needs id/v.
    val nFitParts = math.max(1, math.min(32, math.ceil(cap / 1024.0).toInt))
    // cache the featurized sample: every KMeans iteration re-reads it
    // (the evictable cache entry is bounded by the cap)
    val feat = fitRows
      .repartition(nFitParts, col("id"))
      .sortWithinPartitions("id")
      .select(array_to_vector(col("v").cast(ArrayType(DoubleType))).as("features"))
      .cache()
    // random init: kmeans|| costs ~2x maxIter extra passes and IVF only
    // needs a coarse quantizer, not an optimal clustering
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter)
      .setInitMode("random").fit(feat)
    // ONE assignment pass over the full corpus (no corpus-wide cache,
    // no iterated scans); materialize eagerly to cut the lineage — the
    // fit cache can then be released instead of leaking one per build
    val assigned = model.transform(base
        .withColumn("features", array_to_vector(col("v").cast(ArrayType(DoubleType)))))
      .withColumnRenamed("prediction", "cluster")
      .drop("features")
      .localCheckpoint(true)
    feat.unpersist()
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    IvfIndex(centroids, assigned)
  }

  /** Re-balance an IVF index by splitting oversized lists.
    *
    * KMeans random init can leave skewed lists; a hot list makes every
    * probe that selects it scan far more than |data|·nProbe/nLists
    * candidates (and, on the persisted layout, one partition dominates).
    * Each list larger than `maxFactor` × the mean size is re-clustered
    * locally (KMeans over just that list's rows, k = ceil(size/mean))
    * and its centroid replaced by the sub-centroids; all other lists and
    * assignments are untouched except for a dense re-numbering. The
    * driver loop is bounded by nLists, and each sub-fit scans only the
    * oversized list.
    *
    * Invariants (contract-checked in `ann_ivf_balanced`): row count
    * preserved; the maximum list size never increases; probes on the
    * result keep the self-hit/recall guarantees.
    */
  def ivfRebalance(index: IvfIndex, maxFactor: Double = 2.0,
      seed: Long = 42L, maxIter: Int = 5): IvfIndex =
    ivfRebalancePlan(index, maxFactor, seed, maxIter) match {
      case None => index
      case Some(plan) =>
        // untouched lists keep their rows AND ids verbatim — only the
        // split parents' rows are replaced by their re-assigned twins
        val assigned = index.assigned
          .filter(!col("cluster").isin(plan.parents: _*))
          .unionByName(plan.splitRows)
          .localCheckpoint(true)
        IvfIndex(plan.centroids, assigned)
    }

  /** The split decision + re-fit of [[ivfRebalance]], shared with the
    * incremental persisted path ([[ivfMaintain]]). Numbering contract:
    * every NON-split cluster keeps its id untouched; each split parent
    * keeps its id for sub-centroid 0 and the remaining sub-centroids
    * take fresh ids appended past the original count — the id space
    * stays dense 0..newCount-1 with ZERO renumbering of kept rows, so
    * a persisted layout rewrites only the parent dirs and creates only
    * the tail dirs (cost ∝ split lists, never ∝ corpus). */
  private final case class RebalancePlan(
      parents: Seq[Int], tailIds: Seq[Int],
      centroids: Seq[(Int, Seq[Double])], splitRows: DataFrame)

  private def ivfRebalancePlan(index: IvfIndex, maxFactor: Double,
      seed: Long, maxIter: Int): Option[RebalancePlan] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(maxFactor >= 1.0, s"maxFactor must be >= 1, got $maxFactor")
    val sizes = index.assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    if (total == 0L) return None
    val mean = math.max(1.0, total.toDouble / index.centroids.size)
    val oversized = sizes.filter(_._2 > maxFactor * mean).keys.toSeq.sorted
    if (oversized.isEmpty) return None
    val centroids = scala.collection.mutable.ArrayBuffer[(Int, Seq[Double])]()
    centroids ++= index.centroids.filterNot(c => oversized.contains(c._1))
    var nextId = index.centroids.size
    val cachedLists = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val splitParts = oversized.map { c =>
      // same layout pin as the ivfBuild fit sample: partitions sized by
      // the list (not the session default) + a within-partition id sort,
      // so the sub-fit's barriers stay narrow and its centroids are a
      // pure function of the list's rows, not of the core count
      val nSubParts = math.max(1, math.min(32, math.ceil(sizes(c) / 1024.0).toInt))
      val rows = index.assigned.filter(col("cluster") === c)
        .repartition(nSubParts, col("id"))
        .sortWithinPartitions("id")
        .withColumn("features", array_to_vector(col("v").cast(ArrayType(DoubleType))))
        .cache()
      cachedLists += rows
      val k = math.max(2, math.ceil(sizes(c) / mean).toInt)
      val model = new KMeans().setK(k).setSeed(seed + c).setMaxIter(maxIter)
        .setInitMode("random").fit(rows)
      val centers = model.clusterCenters
      // sub-centroid 0 inherits the parent's id; the rest take fresh
      // tail ids. KMeans can return FEWER than k centers
      // (duplicate-heavy lists dedupe their init samples); advance by
      // what it actually produced or the id space stops being dense.
      val base = nextId
      centroids += ((c, centers.head.toArray.toSeq))
      centroids ++= centers.toSeq.drop(1).zipWithIndex
        .map { case (cv, i) => (base + i, cv.toArray.toSeq) }
      nextId += centers.length - 1
      model.transform(rows)
        .withColumn("cluster",
          when(col("prediction") === 0, lit(c))
            .otherwise(col("prediction") + lit(base - 1)).cast(IntegerType))
        .drop("prediction", "features")
    }
    // materialize BEFORE releasing the per-list fit caches (transform
    // is lazy and reads them)
    val splitRows = splitParts.reduce(_.unionByName(_)).localCheckpoint(true)
    cachedLists.foreach(_.unpersist())
    Some(RebalancePlan(oversized, (index.centroids.size until nextId).toSeq,
      centroids.toSeq.sortBy(_._1), splitRows))
  }

  /** Dynamic-partitioned parquet write with the rows PRE-ROUTED onto
    * the partition column: a hash repartition makes each task hold
    * whole directories, so the layout lands as ~one file per directory.
    * Without it every writing task emits a file into every directory it
    * sees — at nLists ∝ √N that is tasks × nLists tiny files (32k files
    * for a 1M×1000-list build, where file creation, not bytes, was
    * measured to dominate the save). The one batch-sized shuffle buys a
    * probe-side layout that opens nProbe files instead of nProbe ×
    * tasks, and appends start file-count debt at one file per touched
    * dir per batch. `nParts` = the distinct partition values being
    * written (directories), so write parallelism ∝ directories. */
  private[operators] def writeByPartition(df: DataFrame, partCol: String, nParts: Int,
      mode: String, path: String): Unit =
    df.repartition(math.max(1, nParts), col(partCol))
      .write.mode(mode).partitionBy(partCol).parquet(path)

  /** Persist an IVF index: assignment parquet PARTITIONED BY cluster (a
    * probe then touches only nProbe directories — partition pruning does
    * the list selection) + centroid sidecar. */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    writeByPartition(index.assigned, "cluster", index.centroids.size,
      "overwrite", s"$path/lists")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toDF("cluster", "cvec")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
  }

  /** Load a persisted IVF index. The partition column prunes at probe
    * time: only the selected clusters' files are read. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(readClusterSidecar(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/lists"))

  /** Driver-side read of a per-cluster JSON sidecar (`centroids`,
    * `centnorm`: one `{"cluster": c, "<vecField>": [...]}` line per
    * cluster in the part files of a `coalesce(1)` JSON write) through
    * Hadoop FS + Jackson — no Spark job, where `spark.read.json(dir)`
    * pays a schema-inference job and a scan job. Same rows in the same
    * order with the same doubles: Spark's JSON writer prints each double
    * in its round-tripping `Double.toString` form (non-finite values as
    * quoted strings) and its reader parses it with the same Jackson
    * parser; files named `_…`/`.…` are skipped as Spark skips them. */
  private[operators] def readClusterSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecField: String = "cvec"): Seq[(Int, Seq[Double])] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def num(n: com.fasterxml.jackson.databind.JsonNode): Double =
      if (n.isTextual) java.lang.Double.parseDouble(n.asText()) else n.asDouble()
    fs.listStatus(root).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)
      .flatMap { p =>
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        lines.filter(_.trim.nonEmpty).map { line =>
          val node = mapper.readTree(line)
          val v = node.get(vecField)
          (node.get("cluster").asInt(), (0 until v.size).map(i => num(v.get(i))))
        }
      }
  }

  /** IVF probe: rank centroids per query by cosine, take the nProbe
    * nearest lists, score only rows in those lists, reduce with the
    * bounded-heap aggregate. Candidate set is |data| * nProbe / nLists in
    * expectation — the sub-linear scan path.
    *
    * `allowed` is the O4 metadata predicate lowered to a one-column id
    * frame (evaluate it ONCE against the store's metadata, the same
    * contract as the fast tiers' allow set) — a left-semi join gates the
    * candidate rows BEFORE scoring, so filter + top-k (lib.rs:211-222)
    * runs on the index tier too, distributed (no driver-side id set —
    * the allow frame may be any size; Catalyst broadcasts it when
    * small). Recall note, standard for filtered ANN: the probe still
    * selects lists by raw proximity, so a highly selective predicate
    * thins candidates — raise nProbe accordingly (or use the exact
    * tiers, whose filter costs nothing). */
  def ivfTopK(index: IvfIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int, allowed: Option[DataFrame] = None): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cdf = index.centroids.toDF("cluster", "cvec")
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cdist").desc, col("cluster"))
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("cdist", cosineD(col("qv"), col("cvec")))
      .withColumn("rnk", row_number().over(probeW))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"),
        graft.functions.VectorNormalize.normalize(col("qv"), outputFloat = false).as("qvn"),
        col("cluster"))
    // The probe table is tiny by construction (Q x nProbe rows); collect
    // it once so (a) the probed cluster ids become a STATIC isin filter —
    // on a cluster-partitioned saved index ([[ivfSave]]) that prunes at
    // file listing time, which a join alone only achieves if DPP kicks
    // in — and (b) the join side is a local relation, not a recompute.
    // (For a large query batch, skip the collect and rely on DPP.)
    val probeRows = probes.collect()
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val probedClusters = probeRows.map(_.getAs[Int]("cluster")).distinct.toSeq
    val pruned = index.assigned
      .filter(col("cluster").isin(probedClusters: _*))
    val gated = allowed match {
      // cast the allow frame to the index's own id type: no implicit
      // join-key coercion, and the semi join stays sargable
      case Some(a) => pruned.join(
        a.select(col(a.columns.head).cast(pruned.schema("id").dataType).as("id")),
        Seq("id"), "left_semi")
      case None => pruned
    }
    gated
      .withColumn("__nv__",
        graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false))
      .join(broadcast(probesLocal), Seq("cluster"))
      .withColumn("__score__", dotD(col("__nv__"), col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  /** IVF probe for DataFrame-sized query batches — the variant
    * [[ivfTopK]]'s collect note promises: NO driver collect anywhere in
    * the pipeline, so a query batch of millions of rows never funnels
    * through the driver.
    *
    * Probe selection runs distributed (queries × broadcast centroids,
    * top-nProbe per query by the same cosine/cluster-id ordering as
    * [[ivfTopK]]), and list selection is a plain equi join on `cluster`.
    * On a [[ivfSave]]d cluster-partitioned layout the partition pruning
    * that [[ivfTopK]] gets from its static isin filter comes from the
    * SAME static filter here: the distinct probed-cluster id list is
    * collected and planted into the scan. That one collect does not
    * break the no-driver-funnel contract — it is bounded by nLists
    * (the index geometry), NEVER by Q: a million queries still produce
    * at most nLists distinct ints. Everything query-sized (vectors,
    * per-query routing, scoring, top-k) stays distributed. This is
    * deliberate over dynamic partition pruning: the round-10 1M-row
    * scale bench measured the DPP plan reading every cluster directory
    * anyway (7× the exact scan's cost — the dynamicpruningexpression
    * landed in the plan but listing was not pruned), while the static
    * isin scans exactly the probed dirs (PlanShapeSpec pins the shape).
    * `broadcastProbes` controls the routing-join strategy only: true
    * (default) broadcasts the Q×nProbe probe frame; set false when Q
    * is too large to broadcast — the scan stays pruned either way. */
  def ivfTopKBatch(index: IvfIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int, allowed: Option[DataFrame] = None,
      broadcastProbes: Boolean = true): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cdf = index.centroids.toDF("cluster", "cvec")
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cdist").desc, col("cluster"))
    // materialize the probe frame once (Q×nProbe rows): it feeds both
    // the cluster-id pruning collect and the routing join
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("cdist", cosineD(col("qv"), col("cvec")))
      .withColumn("rnk", row_number().over(probeW))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"),
        graft.functions.VectorNormalize.normalize(col("qv"), outputFloat = false).as("qvn"),
        col("cluster"))
      .localCheckpoint(true)
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned = index.assigned.filter(col("cluster").isin(probedClusters: _*))
    // O4 gate, same contract as ivfTopK: the predicate lowered to a
    // one-column id frame, semi-joined BEFORE scoring
    val gated = allowed match {
      case Some(a) => pruned.join(
        a.select(col(a.columns.head)
          .cast(index.assigned.schema("id").dataType).as("id")),
        Seq("id"), "left_semi")
      case None => pruned
    }
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    gated
      // normalize BEFORE the join (per scanned row, not per matched
      // pair) — the scan is already pruned to the probed clusters
      .withColumn("__nv__",
        graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false))
      .join(probeSide, Seq("cluster"))
      .withColumn("__score__", dotD(col("__nv__"), col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  /** All bucket strings within Hamming distance `h` of the exact bucket:
    * h=0 -> the bucket itself; h=1 adds every one-bit flip. Multi-probe
    * turns the query side into (h choose <=1)+1 probe rows per query —
    * still an EQUI join on the bucket key, so the data side never fans
    * out and the plan survives scale. */
  private def probeBuckets(bucket: Column, nPlanes: Int, h: Int): Column = {
    require(h >= 0 && h <= 1, s"probeHamming supports 0 or 1, got $h")
    if (h == 0) array(bucket)
    else {
      val flips = (0 until nPlanes).map { p =>
        concat(
          substring(bucket, 1, p),
          when(substring(bucket, p + 1, 1) === "1", lit("0")).otherwise(lit("1")),
          substring(bucket, p + 2, nPlanes - p - 1))
      }
      array(bucket +: flips: _*)
    }
  }

  /** Bucketed (approximate) top-k: only score candidates sharing the
    * query's LSH bucket — or, with `probeHamming = 1`, any bucket one
    * sign-flip away (multi-probe LSH: ~2x recall for (nPlanes+1)x probe
    * rows on the tiny query side, data side untouched). Recall < 1.0 by
    * construction — pair with [[bruteForceTopK]] when exactness is
    * required. */
  def lshTopK(
      data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, dim: Int, nPlanes: Int = 8, probeHamming: Int = 0): DataFrame = {
    val bucketed = data
      .select(col(idCol).as(idCol),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
      .withColumn("__bucket__", hyperplaneBucket(col("__nv__"), dim, nPlanes))
    val qb = broadcast(
      queries.select(col(qidCol).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qv"))
        .withColumn("__bucket__",
          explode(probeBuckets(hyperplaneBucket(col("qv"), dim, nPlanes), nPlanes, probeHamming))))
    bucketed.join(qb, "__bucket__")
      .withColumn("__score__", dotD(col("__nv__"), col("qv")))
      .transform(topKHits(_, idCol, k))
  }

  // ------------------------------------------- centroid outlier filter
  /** Embedding-based quality gate: cosine of every vector to its own
    * label's centroid, flagging vectors below `minCos` as outliers (the
    * CLIP-score-style "does this row look like its class" filter of a
    * curation pipeline). Centroid components are micro-unit-quantized
    * sums (order-independent, engine-exact — the
    * `emb_label_centroids` discipline); the centroid table is
    * labels × dim — tiny — and broadcast, so scoring is one narrow pass
    * over the data. One explode shuffle (map-side combinable) total.
    */
  def labelCentroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minCos: Double): DataFrame = {
    val cent = df
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(round(col("x").cast(DoubleType) * 1000000).cast(LongType))
        .cast(DoubleType) / 1000000.0 / count(lit(1))).as("cd"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cd")))),
        s => s.getField("cd")).as("c"))
    df.select(col(idCol), col(labelCol).as("label"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .join(broadcast(cent), "label")
      .withColumn("__cos__",
        dotD(col("v"), col("c")) /
          sqrt(dotD(col("v"), col("v"))) / sqrt(dotD(col("c"), col("c"))))
      .select(col(idCol), col("label"),
        round(col("__cos__"), 6).as("centroid_cos"),
        (col("__cos__") < minCos).as("outlier"))
  }

  // ------------------------------------------------ product quantization
  /** Product-quantization index: `m` per-subspace codebooks of `nCodes`
    * centroids each, plus the encoded rows. A 64-dim float vector (256
    * bytes) compresses to `m` small ints (m bytes at nCodes<=256) — the
    * approximate scan reads ~1/32 of the bytes of the exact one, which
    * is the lever that matters when the 100 TB corpus's vectors do not
    * fit hot storage. Codebooks are tiny (m × nCodes × subDim doubles)
    * and ride along driver-side / broadcast, like IVF centroids. */
  final case class PqIndex(
      m: Int, subDim: Int,
      codebooks: Seq[Seq[Seq[Double]]], // [subspace][code][component]
      codes: DataFrame)                 // (id, v, codes ARRAY<INT>)

  /** Build a PQ index: slice every UNIT-NORMALIZED vector into `m`
    * subvectors, fit one seeded KMeans per subspace, encode each row as
    * its per-subspace nearest-centroid ids. One featurize pass + m
    * narrow transform passes (Catalyst fuses them into one stage); the
    * fit input is cached across the m fits and released after the
    * encoded frame materializes. Vectors are normalized BEFORE slicing
    * so the ADC dot of [[pqTopK]] approximates cosine exactly the way
    * the exact path computes it. */
  def pqBuild(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, nCodes: Int = 16, seed: Long = 42L, maxIter: Int = 5): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = data.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val nv = graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
    val feat = (0 until m).foldLeft(
        data.select(col(idCol).as("id"), col(vecCol).as("v"), nv.as("__nv__"))) {
        case (df, j) => df.withColumn(s"__f$j",
          array_to_vector(slice(col("__nv__"), j * subDim + 1, subDim)))
      }.cache()
    val models = (0 until m).map { j =>
      new KMeans().setK(nCodes).setSeed(seed + j).setMaxIter(maxIter)
        .setInitMode("random")
        .setFeaturesCol(s"__f$j").setPredictionCol(s"__c$j")
        .fit(feat)
    }
    val encoded = models.zipWithIndex
      .foldLeft(feat: DataFrame) { case (df, (mod, _)) => mod.transform(df) }
      .withColumn("codes", array((0 until m).map(j => col(s"__c$j")): _*))
      .select(col("id"), col("v"), col("codes"))
      .localCheckpoint(true)
    feat.unpersist()
    val codebooks = models.map(_.clusterCenters.toSeq.map(_.toArray.toSeq))
    PqIndex(m, subDim, codebooks, encoded)
  }

  /** IVF×PQ composition (the FAISS-IVFPQ shape, minus residual
    * encoding — see [[ivfPqResidualTopK]] for the residual-encoded
    * variant): IVF centroids select `nProbe` lists per query, PQ codes
    * ADC-score ONLY the rows of those lists, and the top candidates
    * exact-re-rank. The scan over a probed list reads m small ints per
    * row instead of the full float vector — IVF bounds WHICH rows are
    * touched, PQ bounds the BYTES per touched row; at 100 TB the two
    * compose into (nProbe/nLists) × (1/32) of the brute-force scan
    * bytes. Contract-checked like both parents (self-hit + recall).
    */
  def ivfPqTopK(ivf: IvfIndex, pq: PqIndex, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int,
      nProbe: Int, rerankFactor: Int = 8): DataFrame = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val cdf = ivf.centroids.toDF("cluster", "cvec")
    val q = queries.select(col(qidCol).cast(StringType).as("qid"), col(qvecCol).as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cdist").desc, col("cluster"))
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("cdist", cosineD(col("qv"), col("cvec")))
      .withColumn("rnk", row_number().over(probeW))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"), col("cluster"))
    val probeRows = probes.collect()
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val probedClusters = probeRows.map(_.getAs[Int]("cluster")).distinct.toSeq
    // ADC tables per query, exactly as pqTopK builds them
    val qRows = queries
      .select(col(qidCol).cast(StringType).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Double](1).toArray
        val table = pq.codebooks.zipWithIndex.map { case (book, j) =>
          book.map { cent =>
            var s = 0.0; var d = 0
            while (d < pq.subDim) { s += qv(j * pq.subDim + d) * cent(d); d += 1 }
            s
          }
        }
        (r.getString(0), qv.toSeq, table)
      }.toSeq
    val qdf = broadcast(qRows.toDF("qid", "qvn", "table"))
    val approxW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__approx__").desc, col("id"))
    ivf.assigned
      .filter(col("cluster").isin(probedClusters: _*))
      .select(col("id").cast(StringType).as("id"), col("cluster"))
      .join(pq.codes.select(col("id").cast(StringType).as("id"),
        col("v"), col("codes")), Seq("id"))
      .join(broadcast(probesLocal), Seq("cluster"))
      .join(qdf, Seq("qid"))
      .withColumn("__approx__",
        aggregate(zip_with(col("codes"), col("table"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__rnk__", row_number().over(approxW))
      .filter(col("__rnk__") <= k * rerankFactor)
      .withColumn("__score__",
        dotD(graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false),
          col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  // ------------------------------------------- residual-encoded IVF×PQ
  /** Residual-encoded IVF×PQ index — the full FAISS-IVFPQ shape
    * ([[ivfPqTopK]] names the omission it closes). PQ codes quantize the
    * RESIDUAL of each unit-normalized vector against its assigned coarse
    * centroid (also unit-normalized), not the vector itself: once the
    * coarse quantizer has soaked up the cluster structure, residuals are
    * small and nearly centered, so the same (m, nCodes) code budget
    * spends its resolution on the informative remainder — higher recall
    * at equal code bytes. Unit-normalizing both sides keeps the ADC
    * identity exact: dot(q̂, x̂) = dot(q̂, ĉ) + dot(q̂, x̂ - ĉ), where the
    * first term is computed exactly per (query, probed list) and only
    * the second is quantized. */
  final case class IvfPqIndex(
      ivf: IvfIndex, m: Int, subDim: Int,
      centNorm: Seq[(Int, Seq[Double])], // [cluster] -> unit-normalized coarse centroid
      codebooks: Seq[Seq[Seq[Double]]],  // residual books [subspace][code][component]
      codes: DataFrame)                  // (id, cluster, v, codes ARRAY<INT>)

  /** Build a residual IVF×PQ index over an existing IVF assignment: one
    * broadcast join attaches each row's normalized centroid, the
    * residual slices into m subvectors, and one seeded KMeans per
    * subspace fits the residual codebooks (same fit/encode/release
    * discipline as [[pqBuild]]). */
  def ivfPqBuildResidual(ivf: IvfIndex, m: Int = 8, nCodes: Int = 16,
      seed: Long = 42L, maxIter: Int = 5): IvfPqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val dim = ivf.assigned.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val centNorm = ivf.centroids.map { case (c, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      (c, if (n == 0.0) v else v.map(_ / n))
    }
    val cdf = broadcast(centNorm.toDF("cluster", "cn"))
    val resid = ivf.assigned
      .select(col("id"), col("v"), col("cluster").cast(IntegerType).as("cluster"),
        graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false).as("__nv__"))
      .join(cdf, Seq("cluster"))
      .withColumn("__res__", zip_with(col("__nv__"), col("cn"), (a, b) => a - b))
    val feat = (0 until m).foldLeft(resid) { case (df, j) =>
      df.withColumn(s"__f$j", array_to_vector(slice(col("__res__"), j * subDim + 1, subDim)))
    }.cache()
    val models = (0 until m).map { j =>
      new KMeans().setK(nCodes).setSeed(seed + j).setMaxIter(maxIter)
        .setInitMode("random")
        .setFeaturesCol(s"__f$j").setPredictionCol(s"__c$j")
        .fit(feat)
    }
    val encoded = models.foldLeft(feat: DataFrame) { case (df, mod) => mod.transform(df) }
      .withColumn("codes", array((0 until m).map(j => col(s"__c$j")): _*))
      .select(col("id"), col("cluster"), col("v"), col("codes"))
      .localCheckpoint(true)
    feat.unpersist()
    IvfPqIndex(ivf, m, subDim, centNorm,
      models.map(_.clusterCenters.toSeq.map(_.toArray.toSeq)), encoded)
  }

  /** Residual IVF×PQ top-k: probe selection, the exact dot(q̂, ĉ) term,
    * and the per-query ADC tables are all computed on the driver from the
    * tiny Q-row / nLists-row inputs (the same justified collects as
    * [[ivfTopK]]/[[pqTopK]]); the distributed scan then reads only the
    * probed lists' m-int codes, adds the exact centroid term to the
    * table-lookup sum, and exact-re-ranks the top k × rerankFactor. Probe
    * ranking uses dot(q̂, ĉ) = cosine(q, c), identical ordering to
    * [[ivfTopK]]'s cosine window (ties by cluster id). */
  def ivfPqResidualTopK(index: IvfPqIndex, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int,
      nProbe: Int, rerankFactor: Int = 8): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(qidCol).cast(StringType).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Double](1).toArray
        val table = index.codebooks.zipWithIndex.map { case (book, j) =>
          book.map { cent =>
            var s = 0.0; var d = 0
            while (d < index.subDim) { s += qv(j * index.subDim + d) * cent(d); d += 1 }
            s
          }
        }
        (r.getString(0), qv, table)
      }.toSeq
    val probeTriples = qRows.flatMap { case (qid, qv, _) =>
      index.centNorm.map { case (c, cn) =>
        var s = 0.0; var d = 0
        while (d < qv.length) { s += qv(d) * cn(d); d += 1 }
        (qid, c, s)
      }.sortBy { case (_, c, s) => (-s, c) }.take(nProbe)
    }
    val probesLocal = broadcast(probeTriples.toDF("qid", "cluster", "qcdot"))
    val probedClusters = probeTriples.map(_._2).distinct
    val qdf = broadcast(
      qRows.map { case (qid, qv, t) => (qid, qv.toSeq, t) }.toDF("qid", "qvn", "table"))
    val approxW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__approx__").desc, col("id"))
    index.codes
      .filter(col("cluster").isin(probedClusters: _*))
      .select(col("id").cast(StringType).as("id"),
        col("cluster").cast(IntegerType).as("cluster"), col("v"), col("codes"))
      .join(probesLocal, Seq("cluster"))
      .join(qdf, Seq("qid"))
      .withColumn("__approx__",
        col("qcdot") + aggregate(zip_with(col("codes"), col("table"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__rnk__", row_number().over(approxW))
      .filter(col("__rnk__") <= k * rerankFactor)
      .withColumn("__score__",
        dotD(graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false),
          col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  /** Collect-free residual IVF×PQ probe for DataFrame-sized query
    * batches — [[ivfPqResidualTopK]] with every driver-side step
    * re-expressed as expressions, composing [[ivfTopKBatch]]'s join
    * shape with the residual ADC identity:
    *
    *  - probe selection: queries × broadcast normalized centroids,
    *    top-nProbe per query by (dot desc, cluster) — identical ordering
    *    to the collect path, the exact dot(q̂,ĉ) term rides along;
    *  - ADC tables: the residual codebooks are a PLAN LITERAL
    *    (m × nCodes × subDim doubles — a few KB), and each probe row
    *    computes its m × nCodes table with nested `transform`s over the
    *    sliced query vector, amortized across that list's candidates;
    *  - scoring: candidates join probes on `cluster` (equi join), codes
    *    look up through `zip_with`/`element_at`, top k×rerankFactor per
    *    query bound by the rank window (WindowGroupLimit), exact re-rank.
    *
    * No collect anywhere, so a query batch of millions of rows never
    * funnels through the driver. */
  def ivfPqResidualTopKBatch(index: IvfPqIndex, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int,
      nProbe: Int, rerankFactor: Int = 8,
      broadcastProbes: Boolean = true): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val subDim = index.subDim
    val cdf = broadcast(index.centNorm.toDF("cluster", "cn"))
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("qcdot").desc, col("cluster"))
    val books = typedlit(index.codebooks)
    def dotSlice(vec: Column, start: Column, cent: Column): Column =
      aggregate(zip_with(slice(vec, start, lit(subDim)), cent, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    val probes = q.crossJoin(cdf)
      .withColumn("qcdot", dotD(col("qvn"), col("cn")))
      .withColumn("__rnk__", row_number().over(probeW))
      .filter(col("__rnk__") <= nProbe)
      .withColumn("table", transform(books, (book, j) =>
        transform(book, cent => dotSlice(col("qvn"), j * subDim + 1, cent))))
      .select(col("qid"), col("qvn"), col("cluster"), col("qcdot"), col("table"))
      .localCheckpoint(true)
    val approxW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__approx__").desc, col("id"))
    // static partition pruning from the distinct probed-cluster ids
    // (bounded by nLists, never Q — not a driver funnel; see
    // ivfTopKBatch for why this beats relying on DPP), then the equi
    // join routes per query; broadcastProbes picks the join strategy
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    index.codes
      .select(col("id").cast(StringType).as("id"),
        col("cluster").cast(IntegerType).as("cluster"), col("v"), col("codes"))
      .filter(col("cluster").isin(probedClusters: _*))
      .join(probeSide, Seq("cluster"))
      .withColumn("__approx__",
        col("qcdot") + aggregate(zip_with(col("codes"), col("table"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__rnk__", row_number().over(approxW))
      .filter(col("__rnk__") <= k * rerankFactor)
      .withColumn("__score__",
        dotD(graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false),
          col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  /** Collect-free PQ probe for DataFrame-sized query batches —
    * [[pqTopK]] with the driver-side ADC-table build re-expressed as
    * expressions: the codebooks ride as a PLAN LITERAL (m × nCodes ×
    * subDim doubles, a few KB) and each query row computes its own
    * m × nCodes table with nested `transform`s before the scan join.
    * Plain PQ has no coarse structure to prune with, so the join is the
    * honest all-pairs codes × queries the collect path also does — the
    * difference is that a query batch of millions of rows never funnels
    * through the driver (the planner broadcasts the query side while it
    * fits and falls back to a shuffled cartesian beyond that). Rank
    * parity with the collect path is spec-asserted. */
  def pqTopKBatch(index: PqIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, rerankFactor: Int = 8): DataFrame = {
    val subDim = index.subDim
    val books = typedlit(index.codebooks)
    def dotSlice(vec: Column, start: Column, cent: Column): Column =
      aggregate(zip_with(slice(vec, start, lit(subDim)), cent, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
      .withColumn("table", transform(books, (book, j) =>
        transform(book, cent => dotSlice(col("qvn"), j * subDim + 1, cent))))
    val approxW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__approx__").desc, col("id"))
    index.codes
      .select(col("id").cast(StringType).as("id"), col("v"), col("codes"))
      .crossJoin(q)
      .withColumn("__approx__",
        aggregate(zip_with(col("codes"), col("table"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__rnk__", row_number().over(approxW))
      .filter(col("__rnk__") <= k * rerankFactor)
      .withColumn("__score__",
        dotD(graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false),
          col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  // ------------------------------------------------ binary signature scan
  /** Sign-bit signature table for a vector column: (id STRING, sig
    * ARRAY<BIGINT>) via [[graft.functions.SignPack]] on the normalized
    * vector — dim/8 bytes per row, the 32x-compressed coarse artifact
    * of the binary scan tier ([[BinaryMatrixStore]]) as a persistable
    * DataFrame. At corpus scale this is the table the nomination pass
    * scans INSTEAD of the vectors: 100 TB of 1024-dim f32 signatures
    * down to ~3 TB. */
  def bqSigs(data: DataFrame, idCol: String, vecCol: String): DataFrame =
    data.select(col(idCol).cast(StringType).as("id"),
      graft.functions.BinarySig.signPack(
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false))
        .as("sig"))

  /** Collect-free binary-coarse top-k for DataFrame-sized query batches:
    * phase 1 scans ONLY the signature table with the codegen XOR+POPCNT
    * [[graft.functions.HammingDist]] kernel (queries broadcast with
    * their own signatures; per-query smallest-Hamming `k * oversample`
    * kept by the bounded-heap aggregate, so the nomination shuffle is
    * O(partitions x Q x k x oversample) regardless of corpus size);
    * phase 2 joins the nominees back to the FLOAT table — touching only
    * Q x k x oversample vector rows — and re-scores exactly. Same
    * emitted schema and exact-score contract as [[bruteForceTopK]];
    * what is approximate is nomination only (recall floor spec-pinned,
    * committed in BENCH_LOCAL). The DataFrame twin of
    * [[BinaryMatrixStore]], for when queries are a table, not a call.
    *
    * Sizing note: the serving tier nominates k·oversample PER SLAB and
    * unions, while this plan keeps ONE deterministic global
    * top-(k·oversample) — partition-count-independent results (the
    * oracle stance), at the price that matching the tier's rerank
    * volume on hard (high-dim, structure-free) corpora needs
    * oversample scaled by roughly the tier's block count (the
    * ref_ivfbq curve in BENCH_LOCAL quantifies this at 100k×1024). */
  def bqTopKBatch(sigs: DataFrame, data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, oversample: Int = 16): DataFrame = {
    require(oversample >= 1, "oversample must be >= 1")
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
      .withColumn("qsig", graft.functions.BinarySig.signPack(col("qvn")))
    val nominated = sigs
      .crossJoin(broadcast(q.select(col("qid"), col("qsig"))))
      .withColumn("__score__",
        -graft.functions.BinarySig.hammingDist(col("sig"), col("qsig"))
          .cast(DoubleType))
      .groupBy(col("qid"))
      .agg(TopKByScore.topk(col("__score__"), col("id"), k * oversample).as("hits"))
      .select(col("qid"), explode(col("hits.id")).as("id"))
    nominated
      .join(data.select(col(idCol).cast(StringType).as("id"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
          .as("__nv__")), Seq("id"))
      .join(broadcast(q.select(col("qid"), col("qvn"))), Seq("qid"))
      .withColumn("__score__", dotD(col("__nv__"), col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  // ------------------------------------------- Matryoshka prefix rerank
  /** Matryoshka (MRL-style) prefix-dimension two-phase top-k: nominate
    * on the FIRST `dPrefix` coordinates of each unit-normalized vector,
    * exact-rerank the nominees at full dimension. MRL-trained embeddings
    * front-load information by coordinate, so the truncated dot is a
    * cheap nomination score at dPrefix/d of the flops — and, when the
    * prefix is materialized as its own column in a columnar layout,
    * dPrefix/d of the bytes scanned.
    *
    * Nomination scores are prefix dots of the FULL-normalized vectors
    * (not re-normalized prefixes): renormalizing would divide by a
    * prefix norm that can be zero, while the un-renormalized dot only
    * re-weights candidates by their prefix mass — a nomination-quality
    * detail that the exact full-dimension rerank absorbs. Same emitted
    * schema and exact-score contract as [[bruteForceTopK]]; what is
    * approximate is nomination recall only (oversample widens it).
    *
    * Scale shape mirrors [[bqTopKBatch]]: queries broadcast, phase-1
    * shuffle is the bounded heap's O(partitions × Q × k × oversample),
    * phase 2 joins Q×k×oversample nominee ids (AQE-broadcast) back to
    * the vector table and re-scores exactly. */
  def prefixRerankTopK(data: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, dPrefix: Int, oversample: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dPrefix >= 1, s"dPrefix must be >= 1, got $dPrefix")
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    val d = data.select(col(idCol).cast(StringType).as("id"),
      graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
    val q = queries.select(col(qidCol).cast(StringType).as("qid"),
      graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
    val nominated = d
      .select(col("id"), slice(col("__nv__"), 1, dPrefix).as("__pv__"))
      .crossJoin(broadcast(q.select(col("qid"), slice(col("qvn"), 1, dPrefix).as("__pq__"))))
      .withColumn("__score__", dotD(col("__pv__"), col("__pq__")))
      .groupBy(col("qid"))
      .agg(TopKByScore.topk(col("__score__"), col("id"), k * oversample).as("hits"))
      .select(col("qid"), explode(col("hits.id")).as("id"))
    nominated
      .join(d, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("__score__", dotD(col("__nv__"), col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  // --------------------------------------------- reciprocal-rank fusion
  /** Reciprocal-rank fusion (Cormack et al.): combine N independent
    * rankings of the same id space — e.g. [[graft.operators.TextAnalysis.bm25TopK]]
    * lexical ranks with a cosine top-k — into one hybrid top-k by
    * `rrf(id) = Σ_lists 1/(kRrf + rank)`. Rank-based (score scales never
    * mix), standard kRrf = 60. Emits (id, rrf rounded to 6 dp, n_lists =
    * how many input rankings contained the id), ties broken by id.
    *
    * Each input ranking is already top-n-bounded, so every frame here is
    * driver-small; the union + groupBy is O(Σ list lengths) rows no
    * matter the corpus behind the rankings. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    val u = rankings.map(_.select(col(idCol).as("id"),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol).cast(DoubleType))).as("__c__")))
      .reduce(_ unionByName _)
    u.groupBy(col("id"))
      .agg(round(sum(col("__c__")), 6).as("rrf"),
        count(lit(1)).cast(LongType).as("n_lists"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** WEIGHTED LINEAR score fusion — the other standard hybrid besides
    * [[rrfFuse]]: each input ranking's scores min-max normalize to
    * [0, 1] over ITS OWN top-n (scores of different retrievers never
    * compare raw — BM25 is unbounded, cosine is [-1, 1]), then fuse as
    * `Σ w_i · norm_i(id)`, missing entries contributing 0. A
    * constant-score list normalizes to 1.0 (present beats absent, and
    * 0/0 never divides). Scores round to 6 dp BEFORE normalizing — the
    * serialization contract every probe's output already carries — so
    * the arithmetic is engine-portable end to end.
    *
    * Each input is top-n-bounded by contract, so every frame here is
    * driver-small; the per-list min/max is a one-row aggregate
    * broadcast back (no window, no shuffle wider than the lists).
    * Emits (id, fused rounded to 6 dp, n_lists), ties by id. */
  def linearFuse(rankings: Seq[(DataFrame, Double)], idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    val u = rankings.map { case (df, w) =>
      val s = df.select(col(idCol).cast(StringType).as("id"),
        round(col(scoreCol).cast(DoubleType), 6).as("__s__"))
      val mm = s.agg(min(col("__s__")).as("__min__"),
        max(col("__s__")).as("__max__"))
      s.crossJoin(broadcast(mm))
        .select(col("id"), (lit(w) * when(col("__max__") === col("__min__"), 1.0)
          .otherwise((col("__s__") - col("__min__")) /
            (col("__max__") - col("__min__")))).as("__c__"))
    }.reduce(_ unionByName _)
    u.groupBy(col("id"))
      .agg(round(sum(col("__c__")), 6).as("fused"),
        count(lit(1)).cast(LongType).as("n_lists"))
      .orderBy(col("fused").desc, col("id"))
      .limit(k)
  }

  // ------------------------------------------------------- MMR re-ranking
  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) of
    * a top-N candidate list: greedily pick k items maximizing
    * `lambda * rel(i) - (1 - lambda) * max_{j picked} cos(i, j)` —
    * relevance traded against redundancy to the already-picked set, the
    * standard diversity pass over a similarity top-k before serving.
    * The first pick carries no redundancy term (nothing is picked yet);
    * afterwards the penalty is the TRUE maximum (it may be negative).
    *
    * The candidate list is a top-N RESULT by contract (serving-sized,
    * the local-replica tier's altitude), and MMR is inherently
    * sequential in k with every step reading all pairwise maxima — so
    * the rerank runs driver-local over the collected candidates
    * (hard-bounded by `maxCandidates`, fails fast past it; nothing
    * corpus-sized ever reaches the driver) with O(k·N) incremental
    * best-similarity updates, O(N) state. Vectors L2-normalize in
    * double here (raw embeddings in, cosine out); MMR scores quantize
    * to 1e-6 before every comparison so selection is engine-portable,
    * ties break by id ascending. Emits (rank, id, mmr, rel) in pick
    * order. */
  def mmrRerank(candidates: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambda: Double = 0.7,
      maxCandidates: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    require(maxCandidates >= 1, s"maxCandidates must be >= 1, got $maxCandidates")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast(StringType).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("v"),
        col(relCol).cast(DoubleType).as("rel"))
      // NaN demotion, mirroring VectorStore.query: a NaN rel or a
      // non-finite embedding element would poison the greedy loop (a
      // NaN similarity never updates bestSim, leaving it -Inf, whose
      // -(-Inf) penalty quantizes to Long.MaxValue — an unconditional
      // pick at step 2 regardless of relevance) — drop such rows here
      .filter(!isnan(col("rel")) && col("rel").isNotNull &&
        !exists(col("v"), e => isnan(e) || e === Double.PositiveInfinity ||
          e === Double.NegativeInfinity))
      .limit(maxCandidates + 1) // bounds the collect BEFORE it happens
      .collect()
    require(rows.length <= maxCandidates,
      s"candidate list exceeds maxCandidates = $maxCandidates — MMR is a " +
        "top-N rerank; bound the candidates or raise maxCandidates")
    if (rows.isEmpty) return Seq.empty[(Int, String, Double, Double)]
      .toDF("rank", "id", "mmr", "rel")
    val n = rows.length
    val ids = rows.map(_.getString(0))
    val rel = rows.map(_.getDouble(2))
    val vs = rows.map { r =>
      val a = r.getSeq[Double](1).toArray
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      val nrm = math.sqrt(s)
      if (nrm == 0.0) a
      else {
        val o = new Array[Double](a.length); var j = 0
        while (j < a.length) { o(j) = a(j) / nrm; j += 1 }; o
      }
    }
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    val picked = new Array[Boolean](n)
    val bestSim = Array.fill(n)(Double.NegativeInfinity)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double, Double)]
    val kk = math.min(k, n)
    var r = 1
    while (r <= kk) {
      var best = -1; var bestQ = Long.MinValue
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val pen = if (r == 1) 0.0 else (1.0 - lambda) * bestSim(i)
          val q = math.round((lambda * rel(i) - pen) * 1e6)
          if (q > bestQ || (q == bestQ && (best < 0 || ids(i) < ids(best)))) {
            best = i; bestQ = q
          }
        }
        i += 1
      }
      picked(best) = true
      out += ((r, ids(best), bestQ / 1e6, rel(best)))
      var j = 0
      while (j < n) {
        if (!picked(j)) {
          val s = dot(vs(j), vs(best))
          if (s > bestSim(j)) bestSim(j) = s
        }
        j += 1
      }
      r += 1
    }
    out.toSeq.toDF("rank", "id", "mmr", "rel")
  }

  /** Persisted binary signature index: the [[bqSigs]] table bucketed by
    * id hash with a sidecar pinning the bucket count. */
  final case class BqIndex(nBuckets: Int, sigs: DataFrame)

  private def bqBucketOf(nBuckets: Int): Column =
    pmod(xxhash64(col("id")), lit(nBuckets.toLong))

  /** Persist a signature index for `data`: signatures partitioned into
    * `nBuckets` id-hash directories + a sidecar. Bucketing exists for
    * the MAINTENANCE cost model, not the probe (a nomination scan reads
    * all buckets anyway): append lands new files only in touched
    * directories, delete rewrites only the directories holding the ids
    * — the same pure-key routing discipline as every persisted family
    * here. */
  def bqSaveIndex(data: DataFrame, idCol: String, vecCol: String,
      path: String, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    writeByPartition(
      bqSigs(data, idCol, vecCol).withColumn("bucket", bqBucketOf(nBuckets)),
      "bucket", nBuckets, "overwrite", s"$path/sigs")
    VectorStore.writeSidecar(data.sparkSession, s"$path/_bq.json",
      s"""{"n_buckets": $nBuckets}""")
  }

  /** Bucket count from the sidecar alone — the append paths need ONLY
    * this, and going through [[bqLoadIndex]] would list the whole sigs
    * tree (O(buckets) RPCs) just to throw the frame away. */
  private def bqNBuckets(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val pth = new org.apache.hadoop.fs.Path(s"$path/_bq.json")
    val fs = pth.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(pth)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      .get("n_buckets").asInt()
  }

  /** Load a persisted signature index (cold-start: no re-encoding). */
  def bqLoadIndex(spark: org.apache.spark.sql.SparkSession, path: String): BqIndex =
    BqIndex(bqNBuckets(spark, path),
      spark.read.parquet(s"$path/sigs").select(col("id"), col("sig")))

  /** Append a batch to a persisted signature index at cost ∝ batch:
    * encode with [[bqSigs]] (fit-free — sign bits need no trained
    * state), write in APPEND mode so only the touched bucket
    * directories gain files; every pre-existing file stays byte-
    * identical. Batch ids must be new (append, not upsert). */
  def bqAppendSave(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val nb = bqNBuckets(spark, path)
    writeByPartition(
      bqSigs(batch, idCol, vecCol).withColumn("bucket", bqBucketOf(nb)),
      "bucket", nb, "append", s"$path/sigs")
  }

  /** The encode half of [[bqAppendSave]] with the touched buckets made
    * explicit — see [[ivfStageAppend]] for why the split exists. The
    * plain append skips the checkpoint + distinct pass; only the
    * replay-idempotent streaming path needs the dirs up front. */
  private[graft] def bqStageAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String): (DataFrame, Seq[Long]) = {
    val nb = bqNBuckets(spark, path)
    val staged = bqSigs(batch, idCol, vecCol)
      .withColumn("bucket", bqBucketOf(nb))
      .localCheckpoint(true)
    val touched = staged.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    (staged, touched)
  }

  /** Append-mode write of a staged bucket-encoded signature frame —
    * pre-routed, one file per touched bucket dir. */
  private[graft] def appendStagedSigs(staged: DataFrame, path: String,
      nDirs: Int): Unit =
    writeByPartition(staged, "bucket", nDirs, "append", s"$path/sigs")

  /** Delete ids from a persisted signature index at cost ∝ touched
    * buckets: the ids' bucket set is computed (driver-sized id list,
    * same argument as the reference's `delete(&[String])`), and ONLY
    * those directories rewrite (atomic per-dir swap via the shared
    * rewrite helper; untouched directories keep their files byte-
    * identical). Returns the touched bucket ids. */
  def bqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String]): Seq[Long] = {
    import spark.implicits._
    bqDeleteSave(spark, path, ids.toDF("id"))
  }

  /** [[bqDeleteSave]] with the ids as a DataFrame — the streaming /
    * bulk form. Touched buckets are PRESENCE-based (an id-column-only
    * scan semi-joined against the staged set, parity with
    * [[ivfDeleteSave]]) rather than hash-computed from the id frame:
    * absent or replayed ids — the bulk of a crash-replayed tombstone
    * batch — then rewrite nothing, where the hash form would rewrite
    * every bucket a six-figure batch hashes into. Each rewrite
    * anti-joins the size-gated broadcast id set
    * ([[maybeBroadcastIds]]) instead of building an `isin` literal. */
  def bqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Seq[Long] = {
    recoverStagedDirs(
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$path/sigs"))
    val (idDf, n) = stageIdFrame(ids)
    if (n == 0L) return Seq.empty
    val hinted = maybeBroadcastIds(spark, idDf, n)
    val touched = spark.read.parquet(s"$path/sigs")
      .select(col("id").cast(StringType).as("id"), col("bucket"))
      .join(hinted, Seq("id"), "left_semi")
      .select(col("bucket").cast(LongType))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    touched.foreach { b =>
      rewritePartitionDir(spark, s"$path/sigs/bucket=$b")(keepNotIn(hinted))
    }
    touched
  }

  // ------------------------------------------------- IVF × BQ hybrid
  /** Composed coarse+compressed index: IVF cluster routing OVER sign-bit
    * signatures — the sub-linear axis (probe nProbe of nLists partition
    * directories) multiplied by the 32x-compressed axis (the nomination
    * pass reads only the `sig` column of the probed lists; parquet
    * column pruning keeps the float vectors on disk until the rerank).
    * `lists` carries (id, v, sig, cluster): one cluster-partitioned
    * table, two column families — probes read (id, sig), reranks read
    * (id, v), each touching only its own column chunks of only the
    * probed directories. At 100 TB of 1024-dim f32 that turns the
    * nomination scan into ~3 TB x nProbe/nLists. */
  final case class IvfBqIndex(centroids: Seq[(Int, Seq[Double])], lists: DataFrame)

  /** Compose an existing coarse quantizer with sign-bit signatures:
    * pure per-row encoding (fit-free — sign bits need no trained state),
    * so composition costs one projection pass over the assigned table. */
  def ivfBqBuild(ivf: IvfIndex): IvfBqIndex =
    IvfBqIndex(ivf.centroids,
      ivf.assigned.select(col("id"), col("v"), col("cluster"))
        .withColumn("sig", graft.functions.BinarySig.signPack(
          graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false))))

  /** Hybrid probe: (1) rank centroids per query and keep the nProbe
    * nearest lists; the probed cluster ids become a STATIC isin filter
    * (file-listing partition pruning on an [[ivfBqSave]]d layout, same
    * argument as [[ivfTopK]]); (2) Hamming-nominate `k * oversample`
    * candidates per query with the XOR+POPCNT kernel over ONLY the
    * probed lists' (id, sig) columns; (3) rerank the nominees exactly
    * against their float rows, read from the same pruned lists as
    * (id, v). Emitted scores are exact dots (what is approximate is
    * candidate selection: coarse routing x signature nomination).
    * `allowed` is the O4 predicate lowered to an id frame, gated by
    * left-semi join BEFORE the signature scan.
    *
    * The query frame picks where this runs:
    *  - DRIVER placement ([[ivfBqProbeOnDriver]]) for driver-resident
    *    queries with a few thousand nominees ([[driverSizedQueries]]).
    *    Probe selection runs with no job; nomination and rerank are one
    *    scan job each.
    *  - DISTRIBUTED placement ([[ivfBqProbeDistributed]]) for every other
    *    frame: probe selection, nomination and rerank are joins, so a
    *    query batch of millions of rows never funnels through the
    *    driver.
    * Both return the same rows: (qid, rank, id, score), score rounded to
    * 6 dp. */
  def ivfBqTopK(index: IvfBqIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int, oversample: Int = 16,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(oversample >= 1, "oversample must be >= 1")
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))
    driverSizedQueries(q, index.centroids, k, oversample) match {
      case Some(rows) => ivfBqProbeOnDriver(index, q.schema, rows, k, nProbe, oversample, allowed)
      case None => ivfBqProbeDistributed(index, q, k, nProbe, oversample, allowed)
    }
  }

  /** Most nominees (Q x k x oversample) [[ivfBqProbeOnDriver]] serves.
    * Its driver-side work grows with them: the nominee heaps collected
    * from every partition, the rerank's nominee filter and the
    * per-query maps shipped with each task. On a persisted 10k x 128,
    * 4-list layout (nProbe = 3, k = 10, local[4], 4 vCPU) the driver
    * placement was faster than the distributed plan at every measured
    * point up to 5120 nominees (Q = 1..16 at oversample 32, Q = 1..4
    * at 128, Q = 1 at 512), within 2% or faster at 10240, and slower
    * from 20480 on. */
  private[graft] val DriverProbeMaxNominees = 8192L

  /** The (qid, qv) rows of `q` when a probe over them is driver-sized:
    * the frame is driver-resident ([[driverResident]]: collecting it
    * runs no job), its Q x k x oversample nominees stay within
    * [[DriverProbeMaxNominees]], its Q x nLists x dim centroid-pair
    * doubles fit the broadcast-batch byte cap, and its qids are
    * distinct (the distributed plan groups by qid, so duplicate qids
    * would pool their candidates there). */
  private def driverSizedQueries(q: DataFrame, centroids: Seq[(Int, Seq[Double])],
      k: Int, oversample: Int): Option[Array[Row]] = {
    val dim = centroids.headOption.fold(0)(_._2.size).toLong
    driverResident(q)
      .filter { lr =>
        val nq = lr.data.size.toLong
        nq * k * oversample <= DriverProbeMaxNominees &&
          nq * centroids.size * dim * 8L <= VectorStore.DefaultBroadcastBatchBytes
      }
      .map(_ => q.collect())
      .filter(rows => rows.map(_.get(0)).distinct.length == rows.length)
  }

  /** Centroid probe order of one query: nearest first (cdist DESC, which
    * sorts nulls last), ties to the lower cluster id. The distributed
    * placement ranks by it in a window; the driver placement sorts by
    * the same sort orders with Catalyst's interpreted ordering. */
  private val ivfBqProbeOrder: Seq[Column] = Seq(col("cdist").desc, col("cluster").asc)

  /** O4 gate shared by both placements: left-semi join on the allowed
    * ids BEFORE any signature is read. */
  private def gateAllowed(lists: DataFrame, allowed: Option[DataFrame]): DataFrame =
    allowed match {
      case Some(a) => lists.join(
        a.select(col(a.columns.head).cast(lists.schema("id").dataType).as("id")),
        Seq("id"), "left_semi")
      case None => lists
    }

  /** Distributed placement of [[ivfBqTopK]]: probe selection runs as a
    * join (queries x broadcast centroids, top-nProbe per query), list
    * selection is a STATIC partition filter from the distinct
    * probed-cluster ids (the only driver-sized artifact — bounded by
    * nLists, never by Q, same argument as [[ivfTopKBatch]]), nomination
    * scans only (id, sig) of the pruned lists, and the exact rerank
    * joins the nominees back to the same pruned scan's float rows. */
  private def ivfBqProbeDistributed(index: IvfBqIndex, q: DataFrame, k: Int,
      nProbe: Int, oversample: Int, allowed: Option[DataFrame]): DataFrame = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    val cdf = index.centroids.toDF("cluster", "cvec")
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(ivfBqProbeOrder: _*)
    // materialize the probe frame once (Q×nProbe rows): it feeds the
    // cluster-id pruning collect, the nomination join, and the rerank
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("cdist", cosineD(col("qv"), col("cvec")))
      .withColumn("rnk", row_number().over(probeW))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"),
        graft.functions.VectorNormalize.normalize(col("qv"), outputFloat = false).as("qvn"),
        col("cluster"))
      .withColumn("qsig", graft.functions.BinarySig.signPack(col("qvn")))
      .localCheckpoint(true)
    // static partition pruning from the distinct probed-cluster ids —
    // bounded by nLists (index geometry), never by Q, so this is NOT a
    // driver funnel; the round-10 scale bench showed the DPP plan reads
    // every directory (see ivfTopKBatch), the static isin reads only
    // the probed ones. Both the sig-only nomination scan and the (id,v)
    // rerank scan ride the same pruned frame.
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val lists = gateAllowed(index.lists.filter(col("cluster").isin(probedClusters: _*)),
      allowed)
    val nominated = lists.select(col("cluster"), col("id"), col("sig"))
      .join(broadcast(probes.select(col("qid"), col("qsig"), col("cluster"))), Seq("cluster"))
      .withColumn("__score__",
        -graft.functions.BinarySig.hammingDist(col("sig"), col("qsig"))
          .cast(DoubleType))
      .groupBy(col("qid"))
      .agg(TopKByScore.topk(col("__score__"), col("id").cast(StringType), k * oversample)
        .as("hits"))
      .select(col("qid"), explode(col("hits.id")).as("id"))
    nominated
      .join(lists.select(col("id").cast(StringType).as("id"),
        graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false)
          .as("__nv__")), Seq("id"))
      .join(broadcast(probes.select(col("qid"), col("qvn")).dropDuplicates("qid")), Seq("qid"))
      .withColumn("__score__", dotD(col("__nv__"), col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  /** Driver placement of [[ivfBqTopK]] for driver-resident queries —
    * the distributed plan's stages with every query-sized step on the
    * driver, each producing the same values:
    *  - centroid ranking and the query encodings (`qvn`, `qsig`)
    *    project the SAME expressions over driver-built
    *    `LocalRelation`s, which Catalyst folds on the driver (no job;
    *    the kernels' interpreted and codegen paths run one sequential
    *    fold, so the values are bitwise those of the distributed plan);
    *    each query's centroids are sorted by [[ivfBqProbeOrder]], the
    *    distributed window's order;
    *  - nomination is ONE job over (id, cluster, sig) of the probed
    *    dirs, the O4 gate kept, scored by the
    *    [[graft.functions.HammingDist]] expression against each probing
    *    query's `qsig`, reduced by [[partitionTopK]];
    *  - rerank is ONE job over (id, v) of the same dirs filtered to the
    *    nominees, scored by the [[graft.functions.VectorDot]] expression
    *    against each nominating query's `qvn`, reduced the same way;
    *  - the result is a `LocalRelation` with the distributed plan's
    *    columns and types, `round(score, 6)` applied as the same column
    *    expression. */
  private def ivfBqProbeOnDriver(index: IvfBqIndex,
      qSchema: StructType, qRows: Array[Row], k: Int,
      nProbe: Int, oversample: Int, allowed: Option[DataFrame]): DataFrame = {
    val spark = index.lists.sparkSession
    def local(rows: Seq[Row], fields: StructField*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
    val qiField = StructField("qi", IntegerType, nullable = false)
    val qvField = qSchema("qv")
    val cdistDf = local(
      for ((r, i) <- qRows.toSeq.zipWithIndex; (c, cv) <- index.centroids)
        yield Row(i, r.get(1), c, cv),
      qiField, qvField, StructField("cluster", IntegerType, nullable = false),
      StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false))
      .select(col("qi"), col("cluster"), cosineD(col("qv"), col("cvec")).as("cdist"))
    // (qi, cluster, cdist) rows, and the probe order bound to them
    val cdist = cdistDf.queryExecution.executedPlan.executeCollect()
    val probeOrder = cdistDf.sort(ivfBqProbeOrder: _*).queryExecution.analyzed match {
      case s: Sort => new InterpretedOrdering(s.order, s.child.output)
    }
    val encoded = local(qRows.toSeq.zipWithIndex.map { case (r, i) => Row(i, r.get(1)) },
        qiField, qvField)
      .select(col("qi"),
        graft.functions.VectorNormalize.normalize(col("qv"), outputFloat = false).as("qvn"))
      .withColumn("qsig", graft.functions.BinarySig.signPack(col("qvn")))
      .collect()
      // a null query vector has no signature: the distributed plan's
      // null Hamming scores never enter a heap, so it gets no hits
      .filterNot(_.isNullAt(1))
      .map(r => r.getInt(0) ->
        (r.getSeq[Double](1).toArray, ArrayData.toArrayData(r.getSeq[Long](2).toArray)))
      .toMap
    // cluster -> (query, qsig) of every query probing it
    val probersOf: Map[Int, Array[(Int, ArrayData)]] = cdist.toSeq
      .groupBy(_.getInt(0)).toSeq
      .filter { case (qi, _) => encoded.contains(qi) }
      .flatMap { case (qi, rs) =>
        rs.sorted(probeOrder).take(nProbe).map(r => r.getInt(1) -> (qi, encoded(qi)._2)) }
      .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2).toArray }
    val hits =
      if (probersOf.isEmpty) Map.empty[Int, Array[ScoredId]]
      else {
        val pruned = index.lists.filter(col("cluster").isin(probersOf.keys.toSeq.sorted: _*))
        val hamming = graft.functions.HammingDist(
          BoundReference(0, ArrayType(LongType), nullable = true),
          BoundReference(1, ArrayType(LongType), nullable = true))
        val nominees = partitionTopK(
          gateAllowed(pruned, allowed)
            .select(col("id").cast(StringType).as("id"), col("cluster"), col("sig")),
          k * oversample) { r =>
          if (r.isNullAt(2)) Iterator.empty
          else {
            val sig = ArrayData.toArrayData(r.getSeq[Long](2).toArray)
            probersOf.getOrElse(r.getInt(1), Array.empty[(Int, ArrayData)]).iterator
              .map { case (qi, qsig) =>
                (qi, -hamming.eval(InternalRow(sig, qsig)).asInstanceOf[Int].toDouble) }
          }
        }
        // nominee id -> nominating queries (with multiplicity, as the
        // distributed rerank join pairs them)
        val nominatedBy: Map[String, Seq[Int]] = nominees.toSeq
          .flatMap { case (qi, es) => es.map(e => e.id.toString -> qi) }
          .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2) }
        if (nominatedBy.isEmpty) Map.empty[Int, Array[ScoredId]]
        else {
          val qvn = encoded.map { case (qi, (v, _)) => qi -> v }
          val dot = graft.functions.VectorDot(
            BoundReference(0, ArrayType(DoubleType), nullable = true),
            BoundReference(1, ArrayType(DoubleType), nullable = true))
          partitionTopK(
            pruned.select(col("id").cast(StringType).as("id"),
                graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false).as("nv"))
              .filter(col("id").isin(nominatedBy.keys.toSeq.sorted: _*)),
            k) { r =>
            if (r.isNullAt(1)) Iterator.empty
            else {
              val nv = ArrayData.toArrayData(r.getSeq[Double](1).toArray)
              nominatedBy(r.getString(0)).iterator.flatMap { qi =>
                Option(dot.eval(InternalRow(nv, ArrayData.toArrayData(qvn(qi)))))
                  .map(s => (qi, s.asInstanceOf[Double]))
              }
            }
          }
        }
      }
    local(
      qRows.toSeq.zipWithIndex.flatMap { case (r, qi) =>
        hits.getOrElse(qi, Array.empty[ScoredId]).toSeq.zipWithIndex
          .map { case (e, rank0) => Row(r.get(0), rank0 + 1, e.id.toString, e.score) }
      },
      qSchema("qid"), StructField("rank", IntegerType, nullable = false),
      StructField("id", StringType, nullable = false),
      StructField("__score__", DoubleType, nullable = false))
      .select(col("qid"), col("rank"), col("id"), round(col("__score__"), 6).as("score"))
  }

  /** ONE Spark job: each partition of `rows` (a STRING id first) keeps a
    * [[TopKByScore]]-ordered heap of `k` per query over the (query,
    * score) pairs `score` emits for a row, and the driver merges the
    * per-partition heaps — the aggregate's partial/merge split with the
    * merge on the driver, so no shuffle stage runs. As in the aggregate,
    * null ids and NaN scores never enter a heap. Returns each query's
    * candidates best-first. */
  private def partitionTopK(rows: DataFrame, k: Int)(
      score: Row => Iterator[(Int, Double)])
      : Map[Int, Array[ScoredId]] = {
    import org.apache.spark.unsafe.types.UTF8String
    import scala.collection.mutable
    val spark = rows.sparkSession
    import spark.implicits._
    val parts = rows.mapPartitions { it =>
      val heaps = mutable.HashMap.empty[Int, mutable.PriorityQueue[ScoredId]]
      it.foreach { r =>
        if (!r.isNullAt(0)) {
          val id = UTF8String.fromString(r.getString(0))
          score(r).foreach { case (qi, s) =>
            if (!s.isNaN)
              TopKByScore.offer(heaps.getOrElseUpdate(qi, TopKByScore.emptyHeap()), ScoredId(s, id), k)
          }
        }
      }
      heaps.iterator.flatMap { case (qi, h) => h.iterator.map(e => (qi, e.score, e.id.toString)) }
    }.collect()
    val merged = mutable.HashMap.empty[Int, mutable.PriorityQueue[ScoredId]]
    parts.foreach { case (qi, s, id) =>
      TopKByScore.offer(merged.getOrElseUpdate(qi, TopKByScore.emptyHeap()),
        ScoredId(s, UTF8String.fromString(id)), k)
    }
    merged.map { case (qi, h) => qi -> TopKByScore.bestFirst(h) }.toMap
  }

  /** Skew-triggered maintenance for a PERSISTED hybrid layout — the
    * exact analog of [[ivfMaintain]]: append-only ingestion
    * ([[ivfBqAppendSave]]) concentrates drifted batches into hot lists;
    * this loads the layout, runs [[ivfRebalance]] over it (signatures
    * ride through the rebalance untouched — they are row-local sign
    * bits, unaffected by which cluster a row lives in; only the
    * KMeans sub-fits read vectors), and iff anything split, swaps the
    * rewritten lists + centroid sidecar via staging + rename. Returns
    * true iff a rebalance ran. */
  def ivfBqMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFactor: Double = 2.0, seed: Long = 42L, maxIter: Int = 5): Boolean =
    // the hybrid layout IS the IVF layout plus a sig column that
    // ivfRebalance passes through untouched, so the coarse maintainer
    // applies verbatim — one swap implementation to keep correct
    ivfMaintain(spark, path, maxFactor, seed, maxIter)

  /** Persist the hybrid: one cluster-partitioned table (id, v, sig) +
    * the centroid sidecar — identical layout discipline to [[ivfSave]],
    * plus the signature column family riding in the same files. */
  def ivfBqSave(index: IvfBqIndex, path: String): Unit = {
    writeByPartition(index.lists, "cluster", index.centroids.size,
      "overwrite", s"$path/lists")
    val spark = index.lists.sparkSession
    import spark.implicits._
    index.centroids.toDF("cluster", "cvec")
      .coalesce(1).write.mode("overwrite").json(s"$path/centroids")
  }

  /** Load a persisted hybrid index (cold start, no refit/re-encode). */
  def ivfBqLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfBqIndex =
    IvfBqIndex(readClusterSidecar(spark, s"$path/centroids"),
      spark.read.parquet(s"$path/lists"))

  /** Append a batch to a PERSISTED hybrid layout at cost ∝ batch: assign
    * against the existing centroid sidecar (no KMeans fit), sign-encode
    * (no trained state), append-mode partitioned write — new files land
    * only under the clusters the batch routes to; every pre-existing
    * file stays byte-identical. Returns the touched cluster ids. */
  def ivfBqAppendSave(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Seq[Int] = {
    val (staged, touched) = ivfBqStageAppend(spark, path, batch, idCol, vecCol)
    appendStagedLists(staged, path, touched.size)
    touched
  }

  /** The assign+sign-encode half of [[ivfBqAppendSave]] — see
    * [[ivfStageAppend]] for why the split exists. */
  private[graft] def ivfBqStageAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String): (DataFrame, Seq[Int]) = {
    val centroids = readClusterSidecar(spark, s"$path/centroids")
    val listsSchema = layoutSchema(spark, s"$path/lists")
    val assignedBatch = batch
      .select(col(idCol).cast(listsSchema("id").dataType).as("id"),
        col(vecCol).cast(listsSchema("v").dataType).as("v"))
      .withColumn("sig", graft.functions.BinarySig.signPack(
        graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false)))
      .withColumn("cluster", nearestCentroidExpr(col("v"), centroids))
      .localCheckpoint(true)
    val touched = assignedBatch.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    (assignedBatch, touched)
  }

  /** Delete ids from a PERSISTED hybrid layout at cost ∝ touched
    * clusters: an (id, cluster)-only scan (neither vectors nor
    * signatures read) locates the directories, and only those rewrite
    * (atomic per-dir swap). Returns the touched cluster ids. */
  def ivfBqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String]): Seq[Int] = {
    import spark.implicits._
    ivfBqDeleteSave(spark, path, ids.toDF("id"))
  }

  /** [[ivfBqDeleteSave]] with the ids as a DataFrame — same size-gated
    * broadcast anti-join shape as the [[ivfDeleteSave]] DataFrame
    * overload. The discovery scan still projects only (id, cluster):
    * neither vectors nor signatures are read. */
  def ivfBqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Seq[Int] = {
    recoverMaintain(spark, path)
    recoverStagedDirs(
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$path/lists"))
    val (idDf, n) = stageIdFrame(ids)
    if (n == 0L) return Seq.empty
    val hinted = maybeBroadcastIds(spark, idDf, n)
    val touched = spark.read.parquet(s"$path/lists")
      .select(col("id").cast(StringType).as("id"), col("cluster"))
      .join(hinted, Seq("id"), "left_semi")
      .select(col("cluster").cast(IntegerType))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    touched.foreach(c =>
      rewritePartitionDir(spark, s"$path/lists/cluster=$c")(keepNotIn(hinted)))
    touched
  }

  // ---------------------------------------------- quantized-index persist
  /** Persist a PQ index: encoded rows as parquet + the codebooks as a
    * small JSON table — the same parquet+sidecar pattern as [[ivfSave]],
    * so every index family (IVF, PQ, residual IVF×PQ) survives a
    * cold start without refitting KMeans. m and subDim are derivable
    * from the codebook table; no extra metadata file. */
  def pqSave(index: PqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    index.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (cv, c) => (j, c, cv) } }
      .toDF("subspace", "code", "cvec")
      .coalesce(1).write.mode("overwrite").json(s"$path/codebooks")
  }

  /** Load a persisted PQ index. */
  def pqLoad(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val codes = spark.read.parquet(s"$path/codes")
    val books = readCodebooks(spark, s"$path/codebooks")
    PqIndex(books.size, books.head.head.size, books, codes)
  }

  /** Persist a residual IVF×PQ index: the coarse IVF layout (cluster-
    * partitioned, [[ivfSave]]) + residual-encoded rows partitioned the
    * same way (a probe prunes both at file listing) + normalized
    * centroids and residual codebooks as JSON sidecars. */
  def ivfPqSave(index: IvfPqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    ivfSave(index.ivf, s"$path/ivf")
    writeByPartition(index.codes, "cluster", index.ivf.centroids.size,
      "overwrite", s"$path/codes")
    index.centNorm.toDF("cluster", "cn")
      .coalesce(1).write.mode("overwrite").json(s"$path/centnorm")
    index.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (cv, c) => (j, c, cv) } }
      .toDF("subspace", "code", "cvec")
      .coalesce(1).write.mode("overwrite").json(s"$path/codebooks")
  }

  /** Load a persisted residual IVF×PQ index. */
  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val ivf = ivfLoad(spark, s"$path/ivf")
    val codes = spark.read.parquet(s"$path/codes")
    val centNorm = readClusterSidecar(spark, s"$path/centnorm", "cn").sortBy(_._1)
    val books = readCodebooks(spark, s"$path/codebooks")
    IvfPqIndex(ivf, books.size, books.head.head.size, centNorm, books, codes)
  }

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Seq[Double]]] = {
    val rows = spark.read.json(path)
      .select(col("subspace").cast(IntegerType), col("code").cast(IntegerType), col("cvec"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = rows.map(_._1).max + 1
    (0 until m).map(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq)
  }

  /** PQ top-k with asymmetric-distance (ADC) scoring + exact re-rank.
    *
    * Per query, the driver precomputes the m × nCodes lookup table
    * `table[j][c] = dot(q_sub_j, codebook[j][c])` (tiny: Q × m × nCodes
    * doubles, the classic ADC table) and broadcasts it; the approximate
    * score of a row is then m array lookups — no float-vector decode on
    * the scan. The top `k × rerankFactor` candidates per query re-rank
    * with the EXACT cosine (reading the full vectors of only those
    * candidates), so the emitted scores are exact and self-hits rank
    * first; PQ affects recall only. */
  def pqTopK(index: PqIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, rerankFactor: Int = 8): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    // Q rows: same justified driver collect as ivfTopK's probe table
    val qRows = queries
      .select(col(qidCol).cast(StringType).as("qid"),
        graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false).as("qvn"))
      .collect()
      .map { r =>
        val qid = r.getString(0)
        val qv = r.getSeq[Double](1).toArray
        val table = index.codebooks.zipWithIndex.map { case (book, j) =>
          book.map { cent =>
            var s = 0.0
            var d = 0
            while (d < index.subDim) { s += qv(j * index.subDim + d) * cent(d); d += 1 }
            s
          }
        }
        (qid, qv.toSeq, table)
      }.toSeq
    val qdf = broadcast(qRows.toDF("qid", "qvn", "table"))
    val approxW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("__approx__").desc, col("id"))
    index.codes
      .crossJoin(qdf)
      .withColumn("__approx__",
        aggregate(zip_with(col("codes"), col("table"),
            (c, row) => element_at(row, c + 1)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("__rnk__", row_number().over(approxW))
      .filter(col("__rnk__") <= k * rerankFactor)
      .withColumn("__score__",
        dotD(graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false),
          col("qvn")))
      .transform(topKHits(_, "id", k))
  }

  // -------------------------------------------- incremental maintenance
  /** Nearest-centroid assignment as a pure plan expression: first
    * centroid of minimum squared Euclidean distance — the exact
    * KMeans.transform assignment rule (MLlib's findClosest keeps the
    * first strictly-smaller center; `array_position` returns the first
    * occurrence of the min) — with the centroids riding as a plan
    * literal, so appending a batch NEVER refits anything. Requires dense
    * cluster ids 0..n-1 ([[ivfBuild]] and [[ivfRebalance]] both maintain
    * density). */
  private def nearestCentroidExpr(vecCol: Column,
      centroids: Seq[(Int, Seq[Double])]): Column = {
    val ordered = centroids.sortBy(_._1)
    require(ordered.map(_._1) == (0 until ordered.size),
      s"cluster ids must be dense 0..${ordered.size - 1}, got ${ordered.map(_._1)}")
    // codegen argmin with the centroid matrix as a plan reference object
    // (first-min tie-break identical to the former array_position(HOF)
    // formulation, which allocated nLists×dim doubles per assigned row)
    graft.functions.NearestCentroid.nearest(ordered.map(_._2), vecCol)
  }

  /** Schema of a partition-dir layout WITHOUT listing every directory:
    * `spark.read.parquet(root)` walks the full tree (one RPC per
    * partition dir — O(nLists) per APPEND at the standard geometry,
    * measured as the growing term in the scale-curve append timings),
    * while one root listing + one member dir's footer recovers the
    * identical schema, partition column included via basePath. */
  private def layoutSchema(spark: org.apache.spark.sql.SparkSession,
      root: String): org.apache.spark.sql.types.StructType = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.listStatus(rootPath).find { st =>
      val nm = st.getPath.getName
      st.isDirectory && nm.contains("=") && !nm.startsWith(".")
    }
    dir match {
      case Some(d) => spark.read.option("basePath", root)
        .parquet(d.getPath.toString).schema
      case None => spark.read.parquet(root).schema
    }
  }

  /** PQ-encode an (already unit-normalized, or residual) vector into m
    * codes with EXISTING codebooks as a plan literal — per-subspace
    * argmin by squared Euclidean, the same first-min tie rule as
    * [[nearestCentroidExpr]]. No fit anywhere. */
  private def pqEncodeExpr(nvCol: Column, books: Seq[Seq[Seq[Double]]],
      subDim: Int): Column = {
    val bk = typedlit(books)
    transform(bk, (book, j) => {
      val sub = slice(nvCol, j * lit(subDim) + 1, lit(subDim))
      val dists = transform(book, cent =>
        aggregate(zip_with(sub, cent, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
    })
  }

  /** Incremental IVF maintenance: absorb a new batch at cost ∝ batch.
    *
    * The batch is assigned to the EXISTING centroids (one narrow
    * expression pass — no KMeans fit, no scan of the base assignment)
    * and unioned in; the coarse quantizer is deliberately left alone
    * (FAISS's `IndexIVF.add` discipline: assignment drifts only when the
    * data distribution does, at which point [[ivfRebalance]] splits the
    * lists that actually grew hot). Pass `rebalanceFactor` to bound skew
    * per append: [[ivfRebalance]] early-returns on one count-aggregate
    * when nothing is oversized, so the steady-state cost stays ∝ batch.
    */
  /** Lloyd-step centroid refresh — the drift maintenance that completes
    * the fit-free ingest loop. [[ivfAppend]] assigns new rows to the
    * EXISTING centroids (no KMeans refit, by design); after enough
    * drifted batches each centroid no longer sits at its list's mean,
    * and probes — which rank centroids as list proxies — lose fidelity.
    * Recentering moves every centroid to the exact mean of its assigned
    * rows, assignments untouched: one combining aggregation pass
    * (ML `Summarizer.mean` does map-side partial aggregation — no
    * N×dim row explosion, the 100 TB shape), then an nLists-row collect
    * (same justified tiny collect as the probe table). The mean
    * minimizes within-list sum of squared distance, so total distortion
    * NEVER increases (Lloyd's monotonicity — spec-pinned); run it on
    * the maintenance cadence between rebalance/shrink, which handle
    * list SIZES where this handles list POSITIONS. */
  def ivfRecenter(index: IvfIndex): IvfIndex = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    val means = index.assigned
      .select(col("cluster").cast(IntegerType).as("cluster"),
        array_to_vector(col("v").cast(ArrayType(DoubleType))).as("fv"))
      .groupBy(col("cluster"))
      .agg(Summarizer.mean(col("fv")).as("mv"))
      .select(col("cluster"), vector_to_array(col("mv")).as("cvec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toMap
    // a list that lost every row (possible after deletes) keeps its old
    // centroid — shrink maintenance is the operation that dissolves it
    val fresh = index.centroids.map { case (c, old) => (c, means.getOrElse(c, old)) }
    IvfIndex(fresh, index.assigned)
  }

  /** [[ivfRecenter]] for a PERSISTED layout: one aggregation pass over
    * `lists/`, then ONLY the centroid sidecar rewrites (staging + atomic
    * rename — readers never see a half-written sidecar; the row data is
    * untouched by construction). */
  def ivfRecenterSave(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val idx = ivfLoad(spark, path)
    val fresh = ivfRecenter(idx)
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.centroids.recenter.tmp")
    fresh.centroids.toDF("cluster", "cvec")
      .coalesce(1).write.mode("overwrite").json(tmp.toString)
    val dst = new org.apache.hadoop.fs.Path(s"$path/centroids")
    fs.delete(dst, true)
    require(fs.rename(tmp, dst), s"rename of recentered centroids failed under $path")
  }

  def ivfAppend(index: IvfIndex, batch: DataFrame, idCol: String, vecCol: String,
      rebalanceFactor: Option[Double] = None): IvfIndex = {
    val idType = index.assigned.schema("id").dataType
    val vType = index.assigned.schema("v").dataType
    val assignedBatch = batch
      .select(col(idCol).cast(idType).as("id"), col(vecCol).cast(vType).as("v"))
      .withColumn("cluster", nearestCentroidExpr(col("v"), index.centroids))
    val appended = IvfIndex(index.centroids,
      index.assigned.select(col("id"), col("v"), col("cluster"))
        .unionByName(assignedBatch))
    rebalanceFactor.fold(appended)(f => ivfRebalance(appended, f))
  }

  /** Append a batch to a PERSISTED IVF index ([[ivfSave]] layout) at
    * cost ∝ batch: assignment reads only the tiny centroid sidecar (plus
    * one parquet-footer schema probe), and the append-mode partitioned
    * write creates files only under the cluster directories the batch
    * lands in — untouched lists are never read or rewritten, the
    * append-only discipline of `VectorStore.Partitioned.upsert` and
    * `DedupIndex.append`. Returns the touched cluster ids (bounded by
    * nLists, the same justified driver-side list as the bucketed store's
    * touched-bucket collect). */
  def ivfAppendSave(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Seq[Int] = {
    val (staged, touched) = ivfStageAppend(spark, path, batch, idCol, vecCol)
    appendStagedLists(staged, path, touched.size)
    touched
  }

  /** The assignment half of [[ivfAppendSave]], split out so a
    * replay-idempotent caller ([[graft.streaming.StreamingOps]]'s
    * checkpointed ingest streams) can learn the touched cluster
    * directories BEFORE any file lands — the batch ledger snapshots
    * exactly those dirs. The staged frame is materialized
    * (localCheckpoint), so the later write re-reads nothing. */
  private[graft] def ivfStageAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, vecCol: String): (DataFrame, Seq[Int]) = {
    val centroids = readClusterSidecar(spark, s"$path/centroids")
    val listsSchema = layoutSchema(spark, s"$path/lists")
    val assignedBatch = batch
      .select(col(idCol).cast(listsSchema("id").dataType).as("id"),
        col(vecCol).cast(listsSchema("v").dataType).as("v"))
      .withColumn("cluster", nearestCentroidExpr(col("v"), centroids))
      .localCheckpoint(true)
    val touched = assignedBatch.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    (assignedBatch, touched)
  }

  /** Append-mode write of a staged cluster-assigned frame: files land
    * only under the clusters the frame routes to — pre-routed so each
    * touched dir gains ONE file per batch (`nDirs` = touched count). */
  private[graft] def appendStagedLists(staged: DataFrame, path: String,
      nDirs: Int): Unit =
    writeByPartition(staged, "cluster", nDirs, "append", s"$path/lists")

  /** Skew-triggered maintenance for a PERSISTED IVF layout — the
    * offline half of the ingest loop [[ivfAppendSave]] leaves open:
    * append-only writes concentrate drifted batches into hot lists, and
    * a hot list makes every probe that selects it scan far more than
    * its share (one partition directory dominates). Loads the layout
    * and runs the [[ivfRebalance]] split decision (skew from the list
    * sizes — a partition-column-only count scan, no payload bytes).
    *
    * The rewrite is INCREMENTAL — cost ∝ the split lists, never ∝ the
    * corpus (the previous full staged-layout swap rewrote every
    * directory to rebalance two hot lists; at real layout sizes that
    * is an O(corpus) tax on an O(hot) operation). The rebalance
    * numbering makes this possible: non-split clusters keep their ids
    * and rows verbatim, each split parent keeps its id for
    * sub-centroid 0, and the remaining sub-centroids take fresh tail
    * ids — so only the parent dirs rewrite (thinned to their sub-0
    * rows) and only the tail dirs are created.
    *
    * Crash safety, per run: (1) a `_maintain.json` marker records the
    * parents, tail ids, and the new centroid count BEFORE any
    * mutation; (2) tail dirs are written (ids unknown to the old
    * sidecar, so concurrent probes never select them); (3) each parent
    * swaps via stage + two renames, KEEPING its `.maintain.old` copy;
    * (4) the centroid sidecar swap is the COMMIT POINT; (5) old copies
    * and the marker are dropped. [[recoverMaintain]] (run at the top
    * of every IVF maintenance/delete/compact entry point) heals an
    * interruption: sidecar already new → finish the cleanup; sidecar
    * still old → restore every parent from `.old`, drop the tail dirs
    * and marker — the exact pre-maintain layout. Readers keep the
    * library-wide maintenance caveat (reload handles after a
    * maintenance tick). Returns true iff a rebalance ran. */
  def ivfMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFactor: Double = 2.0, seed: Long = 42L, maxIter: Int = 5): Boolean = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverMaintain(spark, path)
    recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/lists"))
    val idx = ivfLoad(spark, path)
    ivfRebalancePlan(idx, maxFactor, seed, maxIter) match {
      case None => false
      // every split parent degenerated to one sub-centroid (KMeans may
      // return fewer than k centers on duplicate-heavy lists) — nothing
      // actually splits, AND running it would write a marker whose
      // new_count equals the old count, making the count-based commit
      // nonce ambiguous for [[recoverMaintain]]; skip outright
      case Some(plan) if plan.tailIds.isEmpty => false
      case Some(plan) =>
        val oldCount = idx.centroids.size
        // (1) intent marker — the new centroid count doubles as the
        // commit nonce (tailIds nonempty ⇒ the count strictly grows)
        writeMaintainMarker(spark, path, plan, Seq("lists"), "centroids", Nil)
        // (2) tail dirs — new ids, invisible to probes on the old sidecar
        if (plan.tailIds.nonEmpty)
          writeByPartition(plan.splitRows.filter(col("cluster") >= oldCount),
            "cluster", plan.tailIds.size, "append", s"$path/lists")
        // (3) thin each parent to its sub-0 rows; keep .old until commit
        plan.parents.foreach { c =>
          thinParentDir(fs, s"$path/lists", c,
            plan.splitRows.filter(col("cluster") === c).drop("cluster"))
        }
        // (4) COMMIT: sidecar swap
        commitCentroidSidecar(spark, fs, s"$path/centroids",
          plan.centroids.toDF("cluster", "cvec"))
        // (5) cleanup
        plan.parents.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/lists/.cluster=$c.maintain.old"), true)
        }
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/_maintain.json"), false)
        true
    }
  }

  /** Intent marker shared by [[ivfMaintain]] and [[ivfPqMaintain]]:
    * records the split plan plus the LAYOUT SHAPE — which cluster-dir
    * roots rewrite, which centroid sidecar is the commit nonce, and
    * any extra sidecars swapped alongside — so [[recoverMaintain]]
    * needs no knowledge beyond the marker to heal either layout. */
  private def writeMaintainMarker(spark: org.apache.spark.sql.SparkSession,
      path: String, plan: RebalancePlan, roots: Seq[String], sidecar: String,
      extraSidecars: Seq[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val marker = mapper.createObjectNode()
    marker.put("new_count", plan.centroids.size)
    marker.put("sidecar", sidecar)
    val pArr = marker.putArray("parents"); plan.parents.foreach(pArr.add)
    val tArr = marker.putArray("tails"); plan.tailIds.foreach(tArr.add)
    val rArr = marker.putArray("roots"); roots.foreach(rArr.add)
    val eArr = marker.putArray("extra"); extraSidecars.foreach(eArr.add)
    VectorStore.writeSidecar(spark, s"$path/_maintain.json",
      mapper.writeValueAsString(marker))
  }

  /** Stage + two-rename thinning of one parent partition dir, keeping
    * the `.maintain.old` copy until the maintain's commit point. */
  private def thinParentDir(fs: org.apache.hadoop.fs.FileSystem,
      root: String, c: Int, rows: DataFrame): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/cluster=$c")
    val tmp = new org.apache.hadoop.fs.Path(
      dir.getParent, s".${dir.getName}.maintain.tmp")
    val old = new org.apache.hadoop.fs.Path(
      dir.getParent, s".${dir.getName}.maintain.old")
    rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(dir, old), s"rename-away of $dir failed")
    require(fs.rename(tmp, dir), s"rename of thinned $dir failed")
  }

  /** The maintain COMMIT: stage the new centroid table and swap it in
    * (delete + rename; a crash inside the window rolls forward from
    * the staged copy in [[recoverMaintain]]). */
  private def commitCentroidSidecar(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, sidecarPath: String,
      table: DataFrame): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"${sidecarPath}__rebalancing")
    table.coalesce(1).write.mode("overwrite").json(tmp.toString)
    val dest = new org.apache.hadoop.fs.Path(sidecarPath)
    fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"rename of rebalanced $sidecarPath failed")
  }

  /** Skew-triggered maintenance for a PERSISTED residual IVF×PQ layout
    * ([[ivfPqSave]]) — [[ivfMaintain]]'s semantics on the composed
    * index, same incremental cost model (∝ split lists, never ∝
    * corpus). The coarse split plan comes from the embedded IVF half;
    * every split row then residual-RE-ENCODES against its new
    * sub-centroid with the EXISTING codebooks (codebooks quantize
    * residual distributions, which a finer coarse fit only tightens —
    * the same argument as [[ivfPqShrinkSave]]'s re-encode), and BOTH
    * cluster-partitioned roots (codes + ivf/lists) rewrite only the
    * parent dirs and gain only the tail dirs, row-consistent. The
    * `centnorm` sidecar swaps alongside (old copy kept), and the
    * `ivf/centroids` swap is the commit point — [[recoverMaintain]]
    * heals an interruption on either side from the marker alone.
    * Returns true iff a rebalance ran. */
  def ivfPqMaintain(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFactor: Double = 2.0, seed: Long = 42L, maxIter: Int = 5): Boolean = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverMaintain(spark, path)
    Seq(s"$path/codes", s"$path/ivf/lists").foreach(r =>
      recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(r)))
    val idx = ivfLoad(spark, s"$path/ivf")
    ivfRebalancePlan(idx, maxFactor, seed, maxIter) match {
      case None => false
      // same degenerate-split skip as [[ivfMaintain]]: keeps the
      // marker's new_count a strictly-growing commit nonce
      case Some(plan) if plan.tailIds.isEmpty => false
      case Some(plan) =>
        val oldCount = idx.centroids.size
        val books = readCodebooks(spark, s"$path/codebooks")
        val subDim = books.head.head.size
        // centnorm: kept ids keep their stored normalization verbatim;
        // parents (sub-0 vector changed) and tails renormalize
        val oldCn = readClusterSidecar(spark, s"$path/centnorm", "cn").toMap
        val newCn = plan.centroids.map { case (cid, cvec) =>
          if (cid < oldCount && !plan.parents.contains(cid)) (cid, oldCn(cid))
          else {
            val n = math.sqrt(cvec.map(x => x * x).sum)
            (cid, if (n == 0.0) cvec else cvec.map(_ / n))
          }
        }
        val codesSchema = layoutSchema(spark, s"$path/codes")
        val listsSchema = layoutSchema(spark, s"$path/ivf/lists")
        val cdf = broadcast(newCn.toDF("cluster", "cn"))
        // re-encode ALL split rows: sub-0 keeps the parent id but its
        // CENTROID VECTOR changed, so its residuals change too
        val encoded = plan.splitRows
          .select(col("id").cast(codesSchema("id").dataType).as("id"),
            col("v").cast(codesSchema("v").dataType).as("v"), col("cluster"),
            graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false)
              .as("__nv__"))
          .join(cdf, Seq("cluster"))
          .withColumn("__res__", zip_with(col("__nv__"), col("cn"), (a, b) => a - b))
          .withColumn("codes", pqEncodeExpr(col("__res__"), books, subDim))
          .select(col("id"), col("cluster"), col("v"), col("codes"))
          .localCheckpoint(true)
        val coarse = encoded
          .select(col("id").cast(listsSchema("id").dataType).as("id"),
            col("v").cast(listsSchema("v").dataType).as("v"), col("cluster"))
        writeMaintainMarker(spark, path, plan,
          Seq("codes", "ivf/lists"), "ivf/centroids", Seq("centnorm"))
        if (plan.tailIds.nonEmpty) {
          writeByPartition(encoded.filter(col("cluster") >= oldCount),
            "cluster", plan.tailIds.size, "append", s"$path/codes")
          writeByPartition(coarse.filter(col("cluster") >= oldCount),
            "cluster", plan.tailIds.size, "append", s"$path/ivf/lists")
        }
        plan.parents.foreach { c =>
          thinParentDir(fs, s"$path/codes", c,
            encoded.filter(col("cluster") === c).drop("cluster"))
          thinParentDir(fs, s"$path/ivf/lists", c,
            coarse.filter(col("cluster") === c).drop("cluster"))
        }
        // centnorm swaps pre-commit, old copy kept for rollback
        val cnTmp = new org.apache.hadoop.fs.Path(s"$path/centnorm__maintain.tmp")
        newCn.toDF("cluster", "cn")
          .coalesce(1).write.mode("overwrite").json(cnTmp.toString)
        val cn = new org.apache.hadoop.fs.Path(s"$path/centnorm")
        val cnOld = new org.apache.hadoop.fs.Path(s"$path/centnorm__maintain.old")
        require(fs.rename(cn, cnOld), s"rename-away of $cn failed")
        require(fs.rename(cnTmp, cn), s"rename of new $cn failed")
        // COMMIT
        commitCentroidSidecar(spark, fs, s"$path/ivf/centroids",
          plan.centroids.toDF("cluster", "cvec"))
        // cleanup
        plan.parents.foreach { c =>
          Seq("codes", "ivf/lists").foreach { r =>
            fs.delete(new org.apache.hadoop.fs.Path(
              s"$path/$r/.cluster=$c.maintain.old"), true)
          }
        }
        fs.delete(cnOld, true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/_maintain.json"), false)
        true
    }
  }

  /** Heal an interrupted [[ivfMaintain]]. The `_maintain.json` marker
    * plus the sidecar's centroid count tell which side of the commit
    * point the crash hit: count == the marker's `new_count` → the
    * maintain committed, finish dropping the `.maintain.old` copies;
    * otherwise roll BACK — restore every parent dir from its `.old`
    * (the thinned version renames away first), drop the tail dirs the
    * interrupted run created and any `.maintain.tmp` staging, and drop
    * the marker. Either way the layout is exactly a committed or a
    * pre-maintain state, and every step here is re-entrant. */
  private[operators] def recoverMaintain(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val markerPath = new org.apache.hadoop.fs.Path(s"$path/_maintain.json")
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(markerPath)) return
    val in = fs.open(markerPath)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    val newCount = node.get("new_count").asInt()
    val parents = {
      val b = Seq.newBuilder[Int]; node.get("parents").forEach(p => b += p.asInt()); b.result()
    }
    val tails = {
      val b = Seq.newBuilder[Int]; node.get("tails").forEach(t => b += t.asInt()); b.result()
    }
    // layout shape from the marker (absent fields = the plain IVF shape)
    val roots = Option(node.get("roots")).map { arr =>
      val b = Seq.newBuilder[String]; arr.forEach(r => b += r.asText()); b.result()
    }.filter(_.nonEmpty).getOrElse(Seq("lists"))
    val sidecar = Option(node.get("sidecar")).map(_.asText()).getOrElse("centroids")
    val extra = Option(node.get("extra")).map { arr =>
      val b = Seq.newBuilder[String]; arr.forEach(e => b += e.asText()); b.result()
    }.getOrElse(Nil)
    // a crash INSIDE the sidecar swap (old deleted, new not yet renamed
    // in) leaves the staged copy as the only sidecar — roll the swap
    // forward; any other staged leftover is droppable (old intact)
    val cents = new org.apache.hadoop.fs.Path(s"$path/$sidecar")
    val stagedCents = new org.apache.hadoop.fs.Path(s"$path/${sidecar}__rebalancing")
    if (!fs.exists(cents) && fs.exists(stagedCents))
      require(fs.rename(stagedCents, cents),
        s"maintain roll-forward rename of $cents failed")
    else fs.delete(stagedCents, true)
    // the sidecar count is the primary commit nonce, but a parent dir
    // that is MISSING while its .maintain.old copy is present can only
    // arise inside thinParentDir's two-rename window — strictly
    // PRE-commit — so it overrides the count: a degenerate marker (e.g.
    // written by an older library version where new_count could equal
    // the old count) must never be misread as committed, which would
    // delete the .old copy while the live dir is gone
    val midSwap = roots.exists(root => parents.exists { c =>
      !fs.exists(new org.apache.hadoop.fs.Path(s"$path/$root/cluster=$c")) &&
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/$root/.cluster=$c.maintain.old"))
    })
    val committed = !midSwap &&
      spark.read.json(s"$path/$sidecar").count() == newCount
    roots.foreach { root =>
      parents.foreach { c =>
        val dir = new org.apache.hadoop.fs.Path(s"$path/$root/cluster=$c")
        val tmp = new org.apache.hadoop.fs.Path(s"$path/$root/.cluster=$c.maintain.tmp")
        val old = new org.apache.hadoop.fs.Path(s"$path/$root/.cluster=$c.maintain.old")
        fs.delete(tmp, true)
        if (committed) fs.delete(old, true)
        else if (fs.exists(old)) {
          fs.delete(dir, true)
          require(fs.rename(old, dir), s"maintain rollback rename of $dir failed")
        }
      }
      if (!committed) tails.foreach { t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$root/cluster=$t"), true)
      }
    }
    // extra sidecars (e.g. centnorm) swap pre-commit with their old
    // copies retained — restore on rollback, drop on commit
    extra.foreach { name =>
      val cur = new org.apache.hadoop.fs.Path(s"$path/$name")
      val tmp = new org.apache.hadoop.fs.Path(s"$path/${name}__maintain.tmp")
      val old = new org.apache.hadoop.fs.Path(s"$path/${name}__maintain.old")
      fs.delete(tmp, true)
      if (committed) fs.delete(old, true)
      else if (fs.exists(old)) {
        fs.delete(cur, true)
        require(fs.rename(old, cur), s"maintain rollback rename of $cur failed")
      }
    }
    fs.delete(markerPath, false)
  }

  /** Incremental PQ maintenance: encode a new batch with the EXISTING
    * codebooks (plan-literal argmin per subspace — no KMeans fit) and
    * union it into the code table. Codebooks fitted on the base corpus
    * quantize drift-free batches at the same distortion; refit only on
    * distribution shift, exactly like the coarse quantizer note on
    * [[ivfAppend]]. */
  def pqAppend(index: PqIndex, batch: DataFrame, idCol: String, vecCol: String): PqIndex = {
    val idType = index.codes.schema("id").dataType
    val vType = index.codes.schema("v").dataType
    val enc = batch
      .select(col(idCol).cast(idType).as("id"), col(vecCol).cast(vType).as("v"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
      .withColumn("codes", pqEncodeExpr(col("__nv__"), index.codebooks, index.subDim))
      .select(col("id"), col("v"), col("codes"))
    PqIndex(index.m, index.subDim, index.codebooks, index.codes.unionByName(enc))
  }

  /** Incremental residual IVF×PQ maintenance: coarse-assign the batch to
    * the existing centroids, residual-encode against the normalized
    * centroid (one broadcast join), PQ-encode with the existing residual
    * codebooks — the full [[ivfPqBuildResidual]] encode path with every
    * fit replaced by a plan-literal argmin. Both the embedded IVF
    * assignment and the code table absorb the batch, so probes and saves
    * see one consistent index. */
  def ivfPqAppendResidual(index: IvfPqIndex, batch: DataFrame,
      idCol: String, vecCol: String): IvfPqIndex = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val idType = index.codes.schema("id").dataType
    val vType = index.codes.schema("v").dataType
    val cdf = broadcast(index.centNorm.toDF("cluster", "cn"))
    val encoded = batch
      .select(col(idCol).cast(idType).as("id"), col(vecCol).cast(vType).as("v"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
      .withColumn("cluster", nearestCentroidExpr(col("v"), index.ivf.centroids))
      .join(cdf, Seq("cluster"))
      .withColumn("__res__", zip_with(col("__nv__"), col("cn"), (a, b) => a - b))
      .withColumn("codes", pqEncodeExpr(col("__res__"), index.codebooks, index.subDim))
      .select(col("id"), col("cluster"), col("v"), col("codes"))
    val ivfGrown = IvfIndex(index.ivf.centroids,
      index.ivf.assigned.select(col("id"), col("v"), col("cluster"))
        .unionByName(encoded.select(col("id"), col("v"), col("cluster"))))
    IvfPqIndex(ivfGrown, index.m, index.subDim, index.centNorm, index.codebooks,
      index.codes.select(col("id"), col("cluster"), col("v"), col("codes"))
        .unionByName(encoded))
  }

  /** Append a batch to a PERSISTED residual IVF×PQ index ([[ivfPqSave]]
    * layout) at cost ∝ batch: only the tiny sidecars load (raw
    * centroids for assignment, normalized centroids for residuals,
    * residual codebooks for encoding — all plan literals / broadcast),
    * the batch coarse-assigns and residual-encodes as expressions with
    * zero fits, and append-mode partitioned writes create files only
    * under the cluster directories the batch lands in — for BOTH the
    * coarse `ivf/lists` layout and the residual `codes` layout, which
    * stay row-consistent. Returns the touched cluster ids. */
  def ivfPqAppendSave(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Seq[Int] = {
    import spark.implicits._
    val centroids = readClusterSidecar(spark, s"$path/ivf/centroids")
    val centNorm = readClusterSidecar(spark, s"$path/centnorm", "cn")
    val books = readCodebooks(spark, s"$path/codebooks")
    val subDim = books.head.head.size
    val codesSchema = layoutSchema(spark, s"$path/codes")
    val listsSchema = layoutSchema(spark, s"$path/ivf/lists")
    val cdf = broadcast(centNorm.toDF("cluster", "cn"))
    val encoded = batch
      .select(col(idCol).cast(codesSchema("id").dataType).as("id"),
        col(vecCol).cast(codesSchema("v").dataType).as("v"),
        graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false).as("__nv__"))
      .withColumn("cluster", nearestCentroidExpr(col("v"), centroids))
      .join(cdf, Seq("cluster"))
      .withColumn("__res__", zip_with(col("__nv__"), col("cn"), (a, b) => a - b))
      .withColumn("codes", pqEncodeExpr(col("__res__"), books, subDim))
      .select(col("id"), col("cluster"), col("v"), col("codes"))
      .localCheckpoint(true)
    val touched = encoded.select(col("cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    writeByPartition(encoded, "cluster", touched.size, "append", s"$path/codes")
    writeByPartition(encoded
      .select(col("id").cast(listsSchema("id").dataType).as("id"),
        col("v").cast(listsSchema("v").dataType).as("v"), col("cluster")),
      "cluster", touched.size, "append", s"$path/ivf/lists")
    touched
  }

  /** Merge undersized lists — the dual of [[ivfRebalance]], for the
    * debris deletes leave behind: a list far below the mean pays a
    * probe's fixed per-list cost for almost no candidates, and its
    * centroid keeps soaking probe budget that productive lists should
    * get. Lists under `mean / minFactor` rows (and empty ones) are
    * dissolved: their centroids are dropped, survivors renumber densely
    * (the id-density invariant every assignment expression relies on),
    * and their rows re-assign to the nearest SURVIVING centroid as a
    * plan expression — no fit anywhere, cost ∝ moved rows, which are
    * few by the very definition of undersized. No-op when nothing is
    * undersized or everything is (a uniformly tiny index has no
    * surviving geometry to merge into). */
  def ivfShrink(index: IvfIndex, minFactor: Double = 4.0): IvfIndex = {
    require(minFactor > 1.0, s"minFactor must be > 1, got $minFactor")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val sizes = index.assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    if (total == 0L) return index
    val mean = total.toDouble / index.centroids.size
    val drop = index.centroids.map(_._1)
      .filter(c => sizes.getOrElse(c, 0L) < mean / minFactor).toSet
    if (drop.isEmpty || drop.size == index.centroids.size) return index
    val kept = index.centroids.filterNot(c => drop.contains(c._1))
    val remap = kept.map(_._1).zipWithIndex.toMap
    val keptDense = kept.map { case (old, v) => (remap(old), v) }
    val remapDf = broadcast(remap.toSeq.toDF("cluster", "__new__"))
    val keptRows = index.assigned.join(remapDf, Seq("cluster"))
      .withColumn("cluster", col("__new__")).drop("__new__")
    val moved = index.assigned.filter(col("cluster").isin(drop.toSeq: _*))
      .withColumn("cluster", nearestCentroidExpr(col("v"), keptDense))
    IvfIndex(keptDense, keptRows.unionByName(moved))
  }

  /** Persisted [[ivfShrink]] at cost ∝ moved rows: the dissolved lists'
    * rows re-assign against the surviving centroids (plan expression,
    * materialized BEFORE any disk mutation), the dissolved directories
    * are deleted, the survivors' dense renumbering happens as pure
    * partition-directory RENAMES (metadata ops — compaction only ever
    * moves a directory down to a slot that is already vacant when
    * processed in ascending order), the moved rows append, and the
    * centroid sidecar swaps last via the same tmp+rename discipline as
    * [[ivfMaintain]]. A crash between the deletes and the appends loses
    * the (checkpointed, driver-held) moved rows — run maintenance
    * single-writer and re-derivable from the base corpus, the same
    * posture as every other mutator here. Returns (dissolved old ids,
    * receiving new ids); (Nil, Nil) = no-op. */
  def ivfShrinkSave(spark: org.apache.spark.sql.SparkSession, path: String,
      minFactor: Double = 4.0): (Seq[Int], Seq[Int]) = {
    import spark.implicits._
    require(minFactor > 1.0, s"minFactor must be > 1, got $minFactor")
    recoverMaintain(spark, path)
    val centroids = readClusterSidecar(spark, s"$path/centroids").sortBy(_._1)
    val listsSchema = layoutSchema(spark, s"$path/lists")
    val sizes = spark.read.parquet(s"$path/lists")
      .groupBy(col("cluster").cast(IntegerType).as("cluster"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    if (total == 0L) return (Nil, Nil)
    val mean = total.toDouble / centroids.size
    val drop = centroids.map(_._1)
      .filter(c => sizes.getOrElse(c, 0L) < mean / minFactor)
    if (drop.isEmpty || drop.size == centroids.size) return (Nil, Nil)
    val kept = centroids.filterNot(c => drop.contains(c._1))
    val remap = kept.map(_._1).zipWithIndex.toMap
    val keptDense = kept.map { case (old, v) => (remap(old), v) }
    val dropWithRows = drop.filter(c => sizes.getOrElse(c, 0L) > 0L)
    val moved =
      if (dropWithRows.isEmpty) None
      else Some(spark.read
        .parquet(dropWithRows.map(c => s"$path/lists/cluster=$c"): _*)
        .select(col("id").cast(listsSchema("id").dataType).as("id"),
          col("v").cast(listsSchema("v").dataType).as("v"))
        .withColumn("cluster", nearestCentroidExpr(col("v"), keptDense))
        .localCheckpoint(true))
    val receiving = moved.toSeq.flatMap(_.select(col("cluster")).distinct()
      .collect().map(_.getInt(0))).sorted
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach(c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/lists/cluster=$c"), true))
    kept.map(_._1).zipWithIndex.foreach { case (old, nw) =>
      if (old != nw) require(fs.rename(
        new org.apache.hadoop.fs.Path(s"$path/lists/cluster=$old"),
        new org.apache.hadoop.fs.Path(s"$path/lists/cluster=$nw")),
        s"rename of cluster=$old -> cluster=$nw failed under $path")
    }
    moved.foreach(writeByPartition(_, "cluster", receiving.size, "append", s"$path/lists"))
    val centsTmp = new org.apache.hadoop.fs.Path(s"$path/centroids__shrinking")
    keptDense.toDF("cluster", "cvec")
      .coalesce(1).write.mode("overwrite").json(centsTmp.toString)
    val cents = new org.apache.hadoop.fs.Path(s"$path/centroids")
    fs.delete(cents, true)
    require(fs.rename(centsTmp, cents), s"rename of shrunk centroids failed under $path")
    (drop.sorted, receiving)
  }

  /** Persisted shrink for the RESIDUAL IVF×PQ layout ([[ivfPqSave]]) —
    * [[ivfShrinkSave]] extended to the composed index: dissolved lists'
    * rows re-assign to the nearest surviving centroid AND residual-
    * re-encode against it (their old codes quantized the residual vs a
    * centroid that no longer exists; the surviving rows' codes are
    * untouched because their centroid survives verbatim under a new
    * id). Encoding uses the existing codebooks — no fit anywhere. Both
    * cluster-partitioned layouts renumber via directory renames and
    * absorb the moved rows, staying row-consistent; the three sidecars
    * (raw centroids, normalized centroids, codebooks) swap last.
    * Returns (dissolved old ids, receiving new ids). */
  def ivfPqShrinkSave(spark: org.apache.spark.sql.SparkSession, path: String,
      minFactor: Double = 4.0): (Seq[Int], Seq[Int]) = {
    import spark.implicits._
    require(minFactor > 1.0, s"minFactor must be > 1, got $minFactor")
    recoverMaintain(spark, path)
    val centroids = readClusterSidecar(spark, s"$path/ivf/centroids").sortBy(_._1)
    val centNorm = readClusterSidecar(spark, s"$path/centnorm", "cn").sortBy(_._1)
    val books = readCodebooks(spark, s"$path/codebooks")
    val subDim = books.head.head.size
    val codesSchema = layoutSchema(spark, s"$path/codes")
    val listsSchema = layoutSchema(spark, s"$path/ivf/lists")
    val sizes = spark.read.parquet(s"$path/codes")
      .groupBy(col("cluster").cast(IntegerType).as("cluster"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    if (total == 0L) return (Nil, Nil)
    val mean = total.toDouble / centroids.size
    val drop = centroids.map(_._1)
      .filter(c => sizes.getOrElse(c, 0L) < mean / minFactor)
    if (drop.isEmpty || drop.size == centroids.size) return (Nil, Nil)
    val kept = centroids.filterNot(c => drop.contains(c._1))
    val remap = kept.map(_._1).zipWithIndex.toMap
    val keptDense = kept.map { case (old, v) => (remap(old), v) }
    val keptNormDense = centNorm.filterNot(c => drop.contains(c._1))
      .map { case (old, v) => (remap(old), v) }
    val dropWithRows = drop.filter(c => sizes.getOrElse(c, 0L) > 0L)
    val moved =
      if (dropWithRows.isEmpty) None
      else Some {
        val cdf = broadcast(keptNormDense.toDF("cluster", "cn"))
        spark.read
          .parquet(dropWithRows.map(c => s"$path/ivf/lists/cluster=$c"): _*)
          .select(col("id").cast(codesSchema("id").dataType).as("id"),
            col("v").cast(codesSchema("v").dataType).as("v"),
            graft.functions.VectorNormalize.normalize(col("v"), outputFloat = false)
              .as("__nv__"))
          .withColumn("cluster", nearestCentroidExpr(col("v"), keptDense))
          .join(cdf, Seq("cluster"))
          .withColumn("__res__", zip_with(col("__nv__"), col("cn"), (a, b) => a - b))
          .withColumn("codes", pqEncodeExpr(col("__res__"), books, subDim))
          .select(col("id"), col("cluster"), col("v"), col("codes"))
          .localCheckpoint(true)
      }
    val receiving = moved.toSeq.flatMap(_.select(col("cluster")).distinct()
      .collect().map(_.getInt(0))).sorted
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"$path/codes", s"$path/ivf/lists").foreach { root =>
      drop.foreach(c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/cluster=$c"), true))
      kept.map(_._1).zipWithIndex.foreach { case (old, nw) =>
        if (old != nw) require(fs.rename(
          new org.apache.hadoop.fs.Path(s"$root/cluster=$old"),
          new org.apache.hadoop.fs.Path(s"$root/cluster=$nw")),
          s"rename of cluster=$old -> cluster=$nw failed under $root")
      }
    }
    moved.foreach { m =>
      writeByPartition(m, "cluster", receiving.size, "append", s"$path/codes")
      writeByPartition(m
        .select(col("id").cast(listsSchema("id").dataType).as("id"),
          col("v").cast(listsSchema("v").dataType).as("v"), col("cluster")),
        "cluster", receiving.size, "append", s"$path/ivf/lists")
    }
    def swapJson(df: DataFrame, target: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"${target}__shrinking")
      df.coalesce(1).write.mode("overwrite").json(tmp.toString)
      val tgt = new org.apache.hadoop.fs.Path(target)
      fs.delete(tgt, true)
      require(fs.rename(tmp, tgt), s"rename of $target failed")
    }
    swapJson(keptDense.toDF("cluster", "cvec"), s"$path/ivf/centroids")
    swapJson(keptNormDense.toDF("cluster", "cn"), s"$path/centnorm")
    (drop.sorted, receiving)
  }

  /** Rewrite one partition directory of a cluster-partitioned layout
    * without the rows matching `drop`: materialize the survivors FIRST
    * (localCheckpoint — the source files are about to be deleted), write
    * them to a dot-prefixed sibling (invisible to parquet listings if a
    * crash strands it), then delete + rename — the same atomic-swap
    * discipline as [[ivfMaintain]]'s centroid update. An emptied
    * directory is removed outright (mirroring the bucketed store's
    * delete, VectorStore O7b); absent partition values are fine for
    * every reader of the root. */
  /** Compact partition directories that accumulated more than `maxFiles`
    * parquet files — append-mode ingestion's small-file debt, the
    * classic scale killer (a 100 TB layout ingested in small batches
    * degrades every scan to open-file overhead). Each offending
    * directory rewrites to ONE file through dot-prefixed staging + an
    * atomic rename (readers never see a half-written dir); rows are
    * untouched, and directories at or under the bound keep their files
    * byte-identical. The file COUNT scan is a driver-side listing (one
    * RPC per dir — bounded by the partition count, no data read);
    * rewrite cost ∝ offending dirs only. Returns the compacted
    * directory names. Shared by every cluster/bucket-partitioned
    * layout in the library (IVF lists, BQ sigs, hybrid lists, the
    * bucketed store). */
  private[operators] def compactDirs(spark: org.apache.spark.sql.SparkSession,
      root: String, maxFiles: Int): Seq[String] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Seq.empty
    recoverStagedDirs(fs, rootPath)
    val offenders = fs.listStatus(rootPath).toSeq
      .filter { st =>
        val nm = st.getPath.getName
        // partition dirs only — a '<col>=<val>' name. Never staging
        // ('.…') ; a leading '_' alone is NOT metadata here, because
        // the bucketed store partitions by '__bucket__=N' (metadata
        // files like _SUCCESS carry no '=').
        st.isDirectory && nm.contains("=") && !nm.startsWith(".")
      }
      .filter { st =>
        fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet")) > maxFiles
      }
      .map(_.getPath)
    if (offenders.isEmpty) return Seq.empty
    // ONE data job for ALL offending dirs — not a per-dir driver loop.
    // A layout with thousands of debt-carrying directories would
    // otherwise pay thousands of sequential read-coalesce-write jobs
    // (the wall-clock killer at real partition counts); instead the
    // offenders are read together (basePath keeps the partition
    // column), hash-repartitioned BY that column so each directory's
    // rows land in one task = ONE output file, and written to a
    // dot-staged sibling root invisible to every reader.
    val partCol = offenders.head.getName.takeWhile(_ != '=')
    val stage = new org.apache.hadoop.fs.Path(rootPath, ".compact.stage")
    fs.delete(stage, true)
    // mergeSchema: a dir whose files disagree on columns (evolved
    // append-mode writers) must compact to the UNION — the default
    // single-footer sample would silently drop the missing columns
    spark.read.option("basePath", root).option("mergeSchema", "true")
      .parquet(offenders.map(_.toString): _*)
      .repartition(offenders.size, col(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(stage.toString)
    // per-dir atomic swap from the stage — metadata ops only from here.
    // Swap via two renames (rename-away, rename-in): each rename is
    // atomic and the dir-missing window is two metadata ops, not a
    // recursive delete. A reader that LISTS the root inside that
    // window, or executes a plan whose file listing predates the
    // swap, can still miss the partition / hit FileNotFound — the
    // same re-plan-after-maintenance caveat as every rewrite in this
    // file (delete/shrink/rebalance); serving reads should hold the
    // in-process tiers or reload their index handle after a
    // maintenance tick. A crash mid-loop leaves already-swapped dirs
    // compacted and the rest recoverable ([[recoverStagedDirs]]: .old
    // restores a renamed-away original, a stale .compact.stage drops).
    offenders.foreach { dir =>
      val staged = new org.apache.hadoop.fs.Path(stage, dir.getName)
      if (!fs.exists(staged)) {
        // an all-empty-files offender stages no rows -> no staged dir:
        // the compacted form of an empty directory is no directory. But
        // VERIFY the offender really is empty before destroying the
        // only copy — a missing staged dir for a non-empty offender
        // (partition-name round-trip or write anomaly) must fail loudly
        // with the data intact, not silently drop it.
        val n = spark.read.parquet(dir.toString).count()
        require(n == 0L,
          s"compaction staged no output for $dir, which holds $n rows; " +
            "aborting before the swap so the data stays in place")
        fs.delete(dir, true)
      } else {
        val old = new org.apache.hadoop.fs.Path(
          dir.getParent, s".${dir.getName}.compact.old")
        require(fs.rename(dir, old), s"rename-away of $dir failed")
        require(fs.rename(staged, dir), s"rename of compacted $dir failed")
        fs.delete(old, true)
      }
    }
    fs.delete(stage, true)
    offenders.map(_.getName).sorted
  }

  /** Compact a PERSISTED IVF layout's list directories ([[ivfSave]];
    * the maintenance sibling of [[ivfMaintain]] for file-count debt
    * rather than skew — run both on the ingest cadence behind
    * [[ivfAppendSave]]). */
  def ivfCompactSave(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 8): Seq[String] = {
    recoverMaintain(spark, path)
    compactDirs(spark, s"$path/lists", maxFiles)
  }

  /** Compact a persisted signature index's bucket dirs ([[bqSaveIndex]]). */
  def bqCompactSave(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 8): Seq[String] =
    compactDirs(spark, s"$path/sigs", maxFiles)

  /** Compact a persisted hybrid layout's list dirs ([[ivfBqSave]]). */
  def ivfBqCompactSave(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFiles: Int = 8): Seq[String] = {
    recoverMaintain(spark, path)
    compactDirs(spark, s"$path/lists", maxFiles)
  }

  /** Sweep crash residue left by an interrupted [[compactDirs]] or
    * [[rewritePartitionDir]] swap under `root`. A `.…tmp` staging dir
    * is always droppable (the original partition dir is intact until
    * rename-away). A `.…old` dir is the ORIGINAL renamed away: if the
    * crash hit between the two renames the partition dir is missing and
    * `.old` holds the only copy — restore it (for a delete rewrite this
    * resurrects the to-be-dropped rows, which is the correct retriable
    * state: the delete simply hasn't happened yet and the caller's
    * re-run completes it); if the dir exists the swap completed and
    * `.old` is a leftover — drop it. Either way subsequent listings see
    * only real partition dirs. Called at the top of every maintenance
    * and persisted-delete entry point, so one call after a crash heals
    * the layout before any data is read. */
  private[operators] def recoverStagedDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(rootPath)) return
    val tmpSuffixes = Seq(".compact.tmp", ".rewrite.tmp", ".compact.stage")
    fs.listStatus(rootPath).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory && tmpSuffixes.exists(nm.endsWith)) fs.delete(st.getPath, true)
      else if (st.isDirectory) renamedAwayOriginal(rootPath, nm).foreach { orig =>
        if (fs.exists(orig)) fs.delete(st.getPath, true)
        else restoreRenamedAway(fs, st.getPath, orig)
      }
    }
  }

  /** The read-path half of [[recoverStagedDirs]]: only restore a
    * `.…old` dir whose partition dir is missing (the one state in which
    * `.old` holds the only copy). It deletes nothing — a stage or tmp dir may belong to a swap
    * still running on another thread, and a leftover `.old` is dropped
    * by the next writer's full sweep. One root listing. */
  private[graft] def restoreMissingDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootPath: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).foreach { st =>
      if (st.isDirectory) renamedAwayOriginal(rootPath, st.getPath.getName)
        .filterNot(fs.exists)
        .foreach(restoreRenamedAway(fs, st.getPath, _))
    }
  }

  /** The partition dir a `.<dir>.compact.old` / `.<dir>.rewrite.old`
    * name was renamed away from. */
  private def renamedAwayOriginal(rootPath: org.apache.hadoop.fs.Path,
      nm: String): Option[org.apache.hadoop.fs.Path] =
    Seq(".compact.old", ".rewrite.old").find(nm.endsWith).map(sfx =>
      new org.apache.hadoop.fs.Path(rootPath, nm.stripPrefix(".").stripSuffix(sfx)))

  private def restoreRenamedAway(fs: org.apache.hadoop.fs.FileSystem,
      old: org.apache.hadoop.fs.Path, orig: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(old, orig), s"recovery rename of ${old.getName} back to ${orig.getName} failed")

  /** Rewrite one partition directory keeping only rows NOT matching
    * `drop`, via the same crash-safe two-rename swap as [[compactDirs]]:
    * kept rows stage to a dot-prefixed `.rewrite.tmp` sibling, the
    * original renames away to `.rewrite.old`, the staging dir renames
    * in, and only then is the original dropped. A crash at ANY point
    * leaves either the original intact (tmp droppable) or `.old`
    * holding the full pre-delete copy — [[recoverStagedDirs]] (run by
    * every delete/compact entry point) restores it, so no window exists
    * where the only copy lives in an invisible dot-file. A directory
    * whose kept set is empty is removed outright (every row matched
    * `drop`, so a partially-completed recursive delete is itself
    * retriable). Backs every persisted delete (IVF / BQ / hybrid /
    * IVF×PQ). */
  private[operators] def rewritePartitionDir(spark: org.apache.spark.sql.SparkSession,
      dir: String, drop: Column): Unit =
    rewritePartitionDir(spark, dir)(df => df.filter(!drop))

  /** [[rewritePartitionDir]] with the kept set expressed as a TRANSFORM
    * instead of a drop predicate — the shape the DataFrame delete
    * overloads need: a six-figure id batch reaches the rewrite as a
    * size-gated broadcast anti-join (the r13 InvertedIndex.delete
    * discipline), never a giant In-expression that blows past codegen
    * limits. Same crash-safe two-rename swap either way. */
  private[operators] def rewritePartitionDir(spark: org.apache.spark.sql.SparkSession,
      dir: String)(keep: DataFrame => DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(
      dirPath.getParent, s".${dirPath.getName}.rewrite.tmp")
    val old = new org.apache.hadoop.fs.Path(
      dirPath.getParent, s".${dirPath.getName}.rewrite.old")
    val kept = keep(spark.read.parquet(dir)).localCheckpoint(true)
    if (kept.isEmpty) {
      fs.delete(dirPath, true)
    } else {
      kept.write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(dirPath, old), s"rename-away of $dir failed")
      require(fs.rename(tmp, dirPath), s"rename of rewritten $dir failed")
      fs.delete(old, true)
    }
  }

  /** The `LocalRelation` a frame optimizes to when its rows already sit
    * on the driver (a projection or filter over driver-resident rows
    * folds there), so collecting it runs no job. The one test behind
    * every "do it on the driver" choice: [[ivfBqTopK]]'s placement,
    * [[distinctRows]] and [[stageIdFrame]]. */
  private[graft] def driverResident(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Some(lr)
      case _ => None
    }

  /** Distinct rows of a small key projection. A driver-resident frame
    * is collected — no job — and deduplicated on the driver; any other
    * frame keeps the distributed `distinct`. */
  private[graft] def distinctRows(df: DataFrame): Array[Row] =
    if (driverResident(df).isDefined) df.collect().distinct
    else df.distinct().collect()

  /** Normalize a caller-supplied id frame (first column = the ids) to a
    * single distinct string `id` column, materialized once
    * (localCheckpoint) so the touched-directory discovery and every
    * per-directory rewrite reuse the same computed set and AQE sees its
    * true size. Returns the staged frame plus its row count — the
    * emptiness signal and the broadcast gate's input. Shared by every
    * persisted-layout DataFrame delete (IVF / BQ / hybrid / IVF×PQ /
    * dedup index / inverted index / partitioned store). */
  private[graft] def stageIdFrame(ids: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    driverResident(ids) match {
      // Driver-resident literal list — the Seq overloads' `toDF` shape
      // (reference-parity small deletes). Distinct LOCALLY: zero Spark
      // jobs (the generic arm pays a distinct shuffle + checkpoint +
      // count per call), and the result stays a LocalRelation the
      // broadcast hint serves without a stage. Only for types whose
      // JVM toString equals Spark's cast-to-string (id columns are
      // strings or integral keys everywhere in this library).
      case Some(lr) if lr.output.nonEmpty &&
          (lr.output.head.dataType == StringType ||
            lr.output.head.dataType == LongType ||
            lr.output.head.dataType == IntegerType) =>
        val dt = lr.output.head.dataType
        val vals = lr.data.map { r =>
          if (r.isNullAt(0)) null else r.get(0, dt).toString
        }.distinct
        val spark = ids.sparkSession
        import spark.implicits._
        (vals.toDF("id"), vals.length.toLong)
      case _ =>
        val idf = ids
          .select(col(ids.columns.head).cast(StringType).as("id"))
          .distinct().localCheckpoint(true)
        (idf, idf.count())
    }
  }

  /** Broadcast-hint a staged id frame only while the set is comfortably
    * executor-buildable — past `spark.graft.ann.deleteBroadcastMaxIds`
    * (default 4M ids) the hint DROPS and AQE picks the join strategy
    * from runtime sizes (same size-gating discipline as
    * [[InvertedIndex.maybeBroadcastTombs]]): a forced broadcast of an
    * unbounded tombstone batch would be the same scale defect the hint
    * exists to avoid. */
  private[graft] def maybeBroadcastIds(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, n: Long): DataFrame = {
    val cap = spark.conf.get("spark.graft.ann.deleteBroadcastMaxIds",
      "4000000").toLong
    if (n <= cap) broadcast(ids) else ids
  }

  /** The anti-join keep transform every DataFrame delete rewrites with:
    * survivors are the directory's rows whose (stringified) id does NOT
    * appear in the staged id frame. */
  private def keepNotIn(idsHinted: DataFrame): DataFrame => DataFrame =
    df => df.join(idsHinted,
      df("id").cast(StringType) === idsHinted("id"), "left_anti")

  /** Delete ids from a PERSISTED IVF layout ([[ivfSave]]) at cost ∝
    * touched clusters: one scan of (id, cluster) — vectors never read —
    * finds which cluster directories hold the ids, and ONLY those are
    * rewritten (atomic per-directory swap; untouched directories keep
    * their files byte-identical, spec-asserted). Centroids are left in
    * place: a thinned list still probes correctly, and an emptied one
    * simply returns nothing — [[ivfMaintain]] owns re-fitting geometry
    * when enough mass moves. With append ([[ivfAppendSave]]), skew
    * maintenance ([[ivfMaintain]]) and this, the persisted index
    * supports the reference's full mutate surface (upsert/delete,
    * lib.rs:150-185,273-286) incrementally. The id list is driver-sized
    * by the same argument as the reference's `delete(&[String])`.
    * Returns the touched cluster ids. */
  def ivfDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String]): Seq[Int] = {
    import spark.implicits._
    ivfDeleteSave(spark, path, ids.toDF("id"))
  }

  /** [[ivfDeleteSave]] with the ids as a DataFrame — the streaming /
    * bulk form: the id set reaches the touched-cluster discovery as a
    * left-semi join and every directory rewrite as a size-gated
    * broadcast anti-join ([[maybeBroadcastIds]]), never an `isin`
    * literal and never a driver collect, so a six-figure tombstone
    * batch neither blows up the plan nor funnels through the driver.
    * The Seq overload is a thin wrapper (reference-parity small
    * lists). */
  def ivfDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Seq[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    recoverMaintain(spark, path)
    recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/lists"))
    val (idDf, n) = stageIdFrame(ids)
    if (n == 0L) return Seq.empty
    val hinted = maybeBroadcastIds(spark, idDf, n)
    val touched = spark.read.parquet(s"$path/lists")
      .select(col("id").cast(StringType).as("id"), col("cluster"))
      .join(hinted, Seq("id"), "left_semi")
      .select(col("cluster").cast(IntegerType))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    touched.foreach(c =>
      rewritePartitionDir(spark, s"$path/lists/cluster=$c")(keepNotIn(hinted)))
    touched
  }

  /** Delete ids from a PERSISTED residual IVF×PQ layout ([[ivfPqSave]])
    * — the same touched-directories-only rewrite applied to BOTH
    * cluster-partitioned layouts (coarse `ivf/lists` and residual
    * `codes`), which stay row-consistent. Returns the touched cluster
    * ids. */
  def ivfPqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[String]): Seq[Int] = {
    import spark.implicits._
    ivfPqDeleteSave(spark, path, ids.toDF("id"))
  }

  /** [[ivfPqDeleteSave]] with the ids as a DataFrame — same size-gated
    * broadcast anti-join shape as the [[ivfDeleteSave]] DataFrame
    * overload, applied to both row-consistent layouts. */
  def ivfPqDeleteSave(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Seq[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    recoverMaintain(spark, path)
    recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/codes"))
    recoverStagedDirs(fs, new org.apache.hadoop.fs.Path(s"$path/ivf/lists"))
    val (idDf, n) = stageIdFrame(ids)
    if (n == 0L) return Seq.empty
    val hinted = maybeBroadcastIds(spark, idDf, n)
    val touched = spark.read.parquet(s"$path/codes")
      .select(col("id").cast(StringType).as("id"), col("cluster"))
      .join(hinted, Seq("id"), "left_semi")
      .select(col("cluster").cast(IntegerType))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    touched.foreach { c =>
      rewritePartitionDir(spark, s"$path/codes/cluster=$c")(keepNotIn(hinted))
      rewritePartitionDir(spark, s"$path/ivf/lists/cluster=$c")(keepNotIn(hinted))
    }
    touched
  }
  /** OPQ index: an orthogonal rotation learned from the corpus, then a
    * plain PQ index fit in the ROTATED space. Query-time cost is one
    * extra mat-vec on the Q-sized query side only — the stored codes are
    * ordinary PQ codes, so every scan/ADC/re-rank property of [[PqIndex]]
    * carries over unchanged. */
  final case class OpqIndex(
      rotation: Seq[Seq[Double]], // dim×dim orthogonal, y = R x (rows are basis vectors)
      pq: PqIndex)

  /** Learn the parametric-OPQ rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the closed-form PCA + eigenvalue-
    * allocation solution, not the iterated Procrustes one): eigen-
    * decompose the corpus covariance, then deal the eigenvectors into
    * the `m` subspaces so each subspace's eigenvalue PRODUCT (≈ its
    * quantization-error share) is balanced — greedy assignment of
    * eigenvalues in descending order to the subspace with the smallest
    * current log-product. Plain PQ slices the raw axes, so a corpus
    * whose variance concentrates in a few correlated directions wastes
    * most of its code budget on near-constant subspaces; the rotation
    * spends the same m×log2(nCodes) bits evenly.
    *
    * The covariance is one distributed pass ([[org.apache.spark.mllib
    * .linalg.distributed.RowMatrix#computeCovariance]] — the public
    * Spark API for a distributed Gram/covariance; `ml.stat.Summarizer`
    * has no covariance metric, which is why this one call drops to the
    * RDD layer). The dim×dim eigendecomposition is driver-side breeze —
    * at dim=1024 that is a 1M-double local matrix, trivially
    * driver-sized at any corpus scale. Rotating by R (orthonormal rows)
    * preserves dot products and norms exactly in math and to FP
    * round-off in practice, so cosine in the rotated space IS cosine in
    * the original space. */
  def opqRotation(data: DataFrame, vecCol: String, m: Int): Seq[Seq[Double]] = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val dim = data.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val rm = new RowMatrix(data.select(col(vecCol)).rdd
      .map(r => OldVectors.dense(r.getSeq[Double](0).toArray)))
    val cov = rm.computeCovariance()
    // both mllib DenseMatrix.toArray and the breeze ctor are column-major
    val covB = new breeze.linalg.DenseMatrix(dim, dim, cov.toArray)
    val es = breeze.linalg.eigSym(covB)
    // descending eigenvalue order; eigenvectors are the matrix columns
    val order = (0 until dim).sortBy(i => -es.eigenvalues(i))
    val logEig = order.map(i => math.log(math.max(es.eigenvalues(i), 1e-12)))
    val bucketOf = new Array[Int](dim) // position in `order` -> subspace
    val bucketLog = Array.fill(m)(0.0)
    val bucketFill = Array.fill(m)(0)
    for (p <- 0 until dim) {
      // greedy balance: each eigenvalue joins the non-full bucket whose
      // accumulated log-product is closest to zero (the MAX — logs of
      // unit-normalized-corpus eigenvalues are negative, so minBy here
      // would feed every large eigenvalue to the same bucket and
      // recreate exactly the axis-clustering PQ pathology OPQ exists
      // to fix; the anisotropic-corpus spec pins the distinction)
      val j = (0 until m).filter(bucketFill(_) < subDim).maxBy(b => (bucketLog(b), -b))
      bucketOf(p) = j; bucketLog(j) += logEig(p); bucketFill(j) += 1
    }
    // row r of R = the eigenvector (a column of es.eigenvectors) dealt
    // to bucket r/subDim, in assignment order within the bucket
    (0 until m).flatMap { j =>
      (0 until dim).filter(p => bucketOf(p) == j).map { p =>
        val c = order(p)
        (0 until dim).map(r => es.eigenvectors(r, c)).toVector
      }
    }
  }

  /** Build an OPQ index: learn the rotation on the unit-normalized
    * corpus, rotate (codegen [[graft.functions.MatVecMul]] — the
    * rotation rides the plan as a reference object, never inlined into
    * codegen source), then fit plain PQ in the rotated space. Rotated
    * unit vectors are still unit, so [[pqBuild]]'s internal re-normalize
    * is an FP no-op and the ADC ≈ cosine identity of [[pqTopK]] holds
    * verbatim. */
  def opqBuild(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, nCodes: Int = 16, seed: Long = 42L, maxIter: Int = 5): OpqIndex = {
    val nv = graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
    val normed = data.select(col(idCol).as("id"), nv.as("__nv__")).cache()
    val rot = opqRotation(normed, "__nv__", m)
    val rotated = normed.select(col("id"),
      graft.functions.MatVec.matvec(rot, col("__nv__")).as("__rv__"))
    val pq = pqBuild(rotated, "id", "__rv__", m, nCodes, seed, maxIter)
    normed.unpersist()
    OpqIndex(rot, pq)
  }

  /** OPQ top-k: rotate the (Q-sized) query side with the index's
    * rotation, then run the stock PQ ADC scan + exact re-rank. Scores
    * are exact cosines computed in the rotated space — equal to
    * original-space cosines by orthogonality (to FP round-off, inside
    * the 6-decimal output rounding). */
  def opqTopK(index: OpqIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, rerankFactor: Int = 8): DataFrame = {
    val nv = graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false)
    val rq = queries.select(col(qidCol).as("qid"),
      graft.functions.MatVec.matvec(index.rotation, nv).as("__rq__"))
    pqTopK(index.pq, rq, "qid", "__rq__", k, rerankFactor)
  }

  /** Collect-free OPQ probe for DataFrame-sized query batches: rotate
    * the query side as an expression ([[graft.functions.MatVecMul]]),
    * then [[pqTopKBatch]] — nothing funnels through the driver. */
  def opqTopKBatch(index: OpqIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, rerankFactor: Int = 8): DataFrame = {
    val nv = graft.functions.VectorNormalize.normalize(col(qvecCol), outputFloat = false)
    val rq = queries.select(col(qidCol).as("qid"),
      graft.functions.MatVec.matvec(index.rotation, nv).as("__rq__"))
    pqTopKBatch(index.pq, rq, "qid", "__rq__", k, rerankFactor)
  }

  /** Persist an OPQ index: rotation as a JSON sidecar + the stock PQ
    * layout ([[pqSave]]). */
  def opqSave(index: OpqIndex, path: String): Unit = {
    val spark = index.pq.codes.sparkSession
    import spark.implicits._
    pqSave(index.pq, s"$path/pq")
    index.rotation.zipWithIndex.map { case (rv, r) => (r, rv) }
      .toDF("row", "rvec")
      .coalesce(1).write.mode("overwrite").json(s"$path/rotation")
  }

  /** Incremental OPQ maintenance: rotate the new batch with the EXISTING
    * rotation (a fixed linear map — batches never change it) and encode
    * through [[pqAppend]]'s plan-literal argmin. Zero fits anywhere: the
    * rotation was learned once from the base covariance, and a
    * drift-free batch has the same covariance, so the eigenbasis it
    * would re-learn is the one it already has — the exact analog of the
    * codebook-reuse argument on [[pqAppend]]. */
  def opqAppend(index: OpqIndex, batch: DataFrame, idCol: String, vecCol: String): OpqIndex = {
    val nv = graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
    val rotated = batch.select(col(idCol).as("id"),
      graft.functions.MatVec.matvec(index.rotation, nv).as("__rv__"))
    OpqIndex(index.rotation, pqAppend(index.pq, rotated, "id", "__rv__"))
  }

  /** Load a persisted OPQ index. */
  def opqLoad(spark: org.apache.spark.sql.SparkSession, path: String): OpqIndex = {
    val rot = spark.read.json(s"$path/rotation")
      .select(col("row").cast(IntegerType), col("rvec"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toVector))
      .sortBy(_._1).map(_._2).toSeq
    OpqIndex(rot, pqLoad(spark, s"$path/pq"))
  }

  /** Non-parametric (iterated) OPQ — the alternating refinement from Ge
    * et al. CVPR 2013 §4 on top of the parametric init: repeat
    * { fit PQ codebooks in the current rotated space; solve the
    * orthogonal Procrustes problem for the rotation that best maps the
    * corpus onto its own quantization }. Each Procrustes step needs
    * only the dim×dim cross-matrix A = Σᵢ xᵢ qᵢᵀ (qᵢ = decoded code of
    * the rotated row), accumulated with the per-iteration distortion in
    * ONE distributed `treeAggregate` pass (a dim²-double accumulator —
    * 32 KB at dim=64, 8 MB at dim=1024 — merged log-depth; the same
    * driver-sized-result shape as `RowMatrix.computeCovariance`, which
    * is also why this drops to the RDD layer: DataFrame aggregation of
    * an outer-product sum would explode dim² rows per input row). The
    * SVD of A is driver-side breeze; R = V Uᵀ maximizes tr(R A), the
    * classic closed form.
    *
    * Returns the fitted index plus the per-iteration distortion
    * E[‖R x − Q(R x)‖²]. The first entry is the parametric-init
    * distortion; codebooks are REFIT per iteration from the fixed seed
    * (not warm-started), so per-step monotonicity is near-exact rather
    * than guaranteed — the spec pins last ≤ first, which alternation
    * does guarantee up to KMeans reseeding noise. */
  def opqBuildIterated(data: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, nCodes: Int = 16, seed: Long = 42L, maxIter: Int = 5,
      opqIters: Int = 3): (OpqIndex, Seq[Double]) = {
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val nv = graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
    val normed = data.select(col(idCol).as("id"), nv.as("__nv__")).cache()
    val dim = normed.select(size(col("__nv__"))).head().getInt(0)
    var rot = opqRotation(normed, "__nv__", m)
    var pq: PqIndex = null
    val dist = scala.collection.mutable.ArrayBuffer[Double]()
    var it = 0
    while (it < opqIters) {
      val rotated = normed.select(col("id"),
        graft.functions.MatVec.matvec(rot, col("__nv__")).as("__rv__"))
      pq = pqBuild(rotated, "id", "__rv__", m, nCodes, seed, maxIter)
      val books = pq.codebooks.map(_.map(_.toArray).toArray).toArray
      val subDim = pq.subDim
      val withCodes = normed
        .join(pq.codes.select(col("id"), col("codes")), Seq("id"))
        .select(col("__nv__"),
          graft.functions.MatVec.matvec(rot, col("__nv__")).as("__rv__"),
          col("codes"))
      val (aArr, dSum, nRows) = withCodes.rdd
        .treeAggregate((new Array[Double](dim * dim), 0.0, 0L))(
          seqOp = { case ((a, d, n), row) =>
            val x = row.getSeq[Double](0).toArray
            val rv = row.getSeq[Double](1).toArray
            val codes = row.getSeq[Int](2).toArray
            val q = new Array[Double](dim)
            var j = 0
            while (j < books.length) {
              System.arraycopy(books(j)(codes(j)), 0, q, j * subDim, subDim)
              j += 1
            }
            var dd = 0.0
            var r = 0
            while (r < dim) {
              val e = rv(r) - q(r); dd += e * e
              val base = r * dim
              var c = 0
              while (c < dim) { a(base + c) += x(r) * q(c); c += 1 }
              r += 1
            }
            (a, d + dd, n + 1)
          },
          combOp = { case ((a1, d1, n1), (a2, d2, n2)) =>
            var i = 0
            while (i < a1.length) { a1(i) += a2(i); i += 1 }
            (a1, d1 + d2, n1 + n2)
          })
      dist += dSum / math.max(nRows, 1L)
      if (it < opqIters - 1) {
        val a = breeze.linalg.DenseMatrix.tabulate(dim, dim)((r, c) => aArr(r * dim + c))
        val s = breeze.linalg.svd(a) // A = U S Vt
        val rn = s.Vt.t * s.U.t      // R = V Uᵀ maximizes tr(R A)
        rot = (0 until dim).map(r => (0 until dim).map(c => rn(r, c)).toVector)
      }
      it += 1
    }
    normed.unpersist()
    (OpqIndex(rot, pq), dist.toSeq)
  }

  /** Append a batch to a PERSISTED OPQ index ([[opqSave]] layout) at
    * cost ∝ batch: only the rotation and codebook sidecars load (both
    * become plan literals), the batch rotates and encodes as
    * expressions with zero fits — the persisted twin of [[opqAppend]],
    * mirroring [[ivfPqAppendSave]]. The codes layout is flat (PQ scans
    * every code row by design), so append-mode parquet just adds the
    * batch's files. Returns the appended row count. */
  def opqAppendSave(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Long = {
    val rot = spark.read.json(s"$path/rotation")
      .select(col("row").cast(IntegerType), col("rvec"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toVector))
      .sortBy(_._1).map(_._2).toSeq
    val books = readCodebooks(spark, s"$path/pq/codebooks")
    val subDim = books.head.head.size
    val codesSchema = layoutSchema(spark, s"$path/pq/codes")
    val nv = graft.functions.VectorNormalize.normalize(col(vecCol), outputFloat = false)
    val encoded = batch
      .select(col(idCol).cast(codesSchema("id").dataType).as("id"),
        graft.functions.MatVec.matvec(rot, nv).as("__rv__"))
      .select(col("id"), col("__rv__").cast(codesSchema("v").dataType).as("v"),
        pqEncodeExpr(
          graft.functions.VectorNormalize.normalize(col("__rv__"), outputFloat = false),
          books, subDim).as("codes"))
      .localCheckpoint(true)
    encoded.write.mode("append").parquet(s"$path/pq/codes")
    encoded.count()
  }
}
