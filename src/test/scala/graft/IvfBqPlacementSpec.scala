package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** The IVF×BQ probe's two placements: a driver-resident query frame
  * runs on the driver (probe selection with no job, one nomination and
  * one rerank scan job), any other frame runs the distributed join plan
  * — and both return the same rows. */
class IvfBqPlacementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val e = Tables.embeddings(spark, TestSpark.sf)
    .select(col("vec_id"), col("embedding"))
  private lazy val n = e.count().toInt
  private lazy val hy = Ann.ivfBqBuild(Ann.ivfBuild(e, "vec_id", "embedding", nLists = 4))

  /** Four corpus queries — a frame that is NOT driver-resident. */
  private lazy val queries: DataFrame = e.filter(col("vec_id") < 4)

  private def isDriverPlaced(df: DataFrame): Boolean = Ann.driverResident(df).isDefined

  /** Probe through both placements and require row-identical results. */
  private def samePlacements(idx: Ann.IvfBqIndex, k: Int, nProbe: Int, oversample: Int,
      allowed: Option[DataFrame] = None): Long = {
    val dist = Ann.ivfBqTopK(idx, queries, "vec_id", "embedding", k, nProbe, oversample, allowed)
    val drv = Ann.ivfBqTopK(idx, SparkEntry.driverFrame(queries), "vec_id", "embedding",
      k, nProbe, oversample, allowed)
    assert(!isDriverPlaced(dist) && isDriverPlaced(drv))
    assert(drv.schema.map(f => f.name -> f.dataType) == dist.schema.map(f => f.name -> f.dataType))
    val (a, b) = (dist.collect().map(_.toString).sorted.toSeq, drv.collect().map(_.toString).sorted.toSeq)
    assert(a == b, s"k=$k nProbe=$nProbe oversample=$oversample allowed=${allowed.isDefined}")
    a.size.toLong
  }

  test("ivfBq placements: driver and distributed probes are row-identical") {
    // nProbe 1..nLists x oversample from small up to total (k x os >= n)
    val total = n / 5 + 1
    for (nProbe <- 1 to 4; os <- Seq(1, 3, total))
      assert(samePlacements(hy, k = 5, nProbe, os) > 0)
    // the O4 gate, on a sparse and on the total operating point
    val allow = e.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    samePlacements(hy, k = 5, nProbe = 2, oversample = 3, allowed = Some(allow))
    samePlacements(hy, k = 5, nProbe = 4, oversample = total, allowed = Some(allow))
    // k above the candidate count: every nominee comes back
    assert(samePlacements(hy, k = n + 10, nProbe = 1, oversample = 1) > 4 * 5)
    assert(samePlacements(hy, k = n + 10, nProbe = 4, oversample = 1) == 4L * n)
    // duplicate qids pool their candidates in the distributed plan, so
    // such a frame keeps the distributed placement even when local
    val dup = SparkEntry.driverFrame(queries.select(lit(1L).as("vec_id"), col("embedding")))
    assert(!isDriverPlaced(Ann.ivfBqTopK(hy, dup, "vec_id", "embedding", 3, 2)))
    // so does a local frame with more nominees (Q x k x oversample)
    // than the driver placement serves
    val os = (Ann.DriverProbeMaxNominees / (4 * 5) + 1).toInt
    val drv = SparkEntry.driverFrame(queries)
    assert(isDriverPlaced(Ann.ivfBqTopK(hy, drv, "vec_id", "embedding", 5, 2, os - 1)))
    assert(!isDriverPlaced(Ann.ivfBqTopK(hy, drv, "vec_id", "embedding", 5, 2, os)))
  }

  test("ivfBq placements agree on a persisted layout with lists emptied by deletes") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_place").toString
    Ann.ivfBqSave(hy, path)
    val byCluster = hy.lists.select(col("id").cast("string"), col("cluster"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val emptied = byCluster.map(_._2).groupBy(identity).minBy(_._2.length)._1
    val touched = Ann.ivfBqDeleteSave(spark, path,
      byCluster.collect { case (id, c) if c == emptied => id }.toSeq)
    assert(touched == Seq(emptied))
    assert(!new java.io.File(s"$path/lists/cluster=$emptied").exists, "emptied dir removed")
    val idx = Ann.ivfBqLoad(spark, path)
    for (nProbe <- 1 to 4; os <- Seq(2, n / 4 + 1)) samePlacements(idx, k = 4, nProbe, os)
  }

  test("a local-frame read of a saved index runs <= 1 job to load and <= 3 to probe") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_jobs").toString
    Ann.ivfBqSave(hy, path)
    val q = SparkEntry.driverFrame(e.filter(col("vec_id") === 7L))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      jobs.set(0)
      val out = body
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      (out, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (idx, loadJobs) = jobsOf(Ann.ivfBqLoad(spark, path))
      val (hits, probeJobs) = jobsOf(
        Ann.ivfBqTopK(idx, q, "vec_id", "embedding", k = 10, nProbe = 2, oversample = 8).collect())
      assert(loadJobs <= 1, s"ivfBqLoad ran $loadJobs jobs")
      assert(probeJobs <= 3, s"ivfBqTopK ran $probeJobs jobs")
      assert(hits.length == 10 && hits.exists(r => r.getInt(1) == 1 && r.getString(2) == "7"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("centroid sidecars written by ivfBqSave load bit-for-bit on the driver") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_sidecar").toString
    // awkward doubles next to the fitted centroids: shortest-repr edge
    // cases, a signed zero, subnormals and extremes
    val odd = Seq(0.1 + 0.2, -0.0, Double.MinPositiveValue, 1e-300, -1.7976931348623157e308,
      1.0 / 3, 4.9e-324 * 3, 123456789.123456789)
    val centroids = hy.centroids :+ ((hy.centroids.size, odd ++ Seq.fill(64 - odd.size)(0.5)))
    Ann.ivfBqSave(Ann.IvfBqIndex(centroids, hy.lists), path)
    def bits(cs: Seq[(Int, Seq[Double])]) =
      cs.map { case (c, v) => c -> v.map(java.lang.Double.doubleToRawLongBits) }
    val loaded = Ann.ivfBqLoad(spark, path).centroids
    assert(bits(loaded) == bits(centroids))
    // the Spark JSON reader the driver read replaces sees the same rows
    val viaSpark = spark.read.json(s"$path/centroids")
      .select(col("cluster").cast("int"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(bits(loaded) == bits(viaSpark))
    assert(bits(Ann.ivfLoad(spark, path).centroids) == bits(centroids))
  }
}
