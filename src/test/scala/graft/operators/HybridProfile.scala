package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Offline repeat-measurement of the Bench hybrid section (the
  * ref_query_ivfbq_* keys) at 100k×1024 — not a test. Round 10's bench
  * showed np8/np64 up ~1.5× while np32 IMPROVED and the probed code was
  * byte-identical to round 9, so before "fixing" anything this harness
  * times each operating point SEVERAL times in one JVM to expose the
  * run-to-run variance the single bench pass can't. Run:
  * `sbt "Test/runMain graft.operators.HybridProfile [reps]"`. */
object HybridProfile {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 5
    val n = 100000L
    val dim = 1024
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val gen = spark.range(n).select(
      col("id").cast("string").as("__id__"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(hash(col("id"), i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("vector"))
    val corpus = gen.cache(); corpus.count()
    val t0 = System.nanoTime()
    val built = Ann.ivfBqBuild(Ann.ivfBuild(
      corpus, "__id__", "vector", nLists = 64, maxIter = 2))
    val lists = built.lists.cache(); lists.count()
    val hy = built.copy(lists = lists)
    println(f"[hybrid] build ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // the query as a frame over the cached corpus (distributed
    // placement) and collected into a driver-resident frame (driver
    // placement), the two shapes Bench times
    val q1 = corpus.filter(col("__id__") === "0").select(col("__id__"), col("vector"))
    val q1Local = graft.SparkEntry.driverFrame(q1)
    def point(nProbe: Int, os: Int): Unit =
      for ((shape, q) <- Seq("frame" -> q1, "local" -> q1Local)) {
        Ann.ivfBqTopK(hy, q, "__id__", "vector",
          k = 10, nProbe = nProbe, oversample = os).collect() // warm
        val ts = (0 until reps).map { _ =>
          System.gc()
          val t = System.nanoTime()
          Ann.ivfBqTopK(hy, q, "__id__", "vector",
            k = 10, nProbe = nProbe, oversample = os).collect()
          (System.nanoTime() - t) / 1e9
        }
        println(f"[hybrid] $shape%-5s np=$nProbe%-3d os=$os%-4d " +
          ts.map(t => f"$t%.3f").mkString(" ") +
          f"  median=${ts.sorted.apply(reps / 2)}%.3f s")
      }
    point(8, 64)
    point(32, 128)
    point(64, 512)
    spark.stop()
  }
}
