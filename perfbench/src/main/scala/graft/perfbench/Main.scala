package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `perfbench/run.py`):
  * {{{
  *   Main --workload serve|cdc_ingest|text_stream --seed N --seconds S
  *        --trace 0|1 --work-dir DIR [--code-sha SHA] [--spans FILE]
  * }}}
  * Prints human-readable lines prefixed with `#`, a `provenance` JSON
  * line, and last a JSON line with every metric it measured. */
object Main {
  def workload(name: String): Workload = name match {
    case "serve" => new Serve(n = 40000, dim = 256, setupReps = 3)
    case "cdc_ingest" => new CdcIngest(n0 = 10000, dim = 128, buckets = 4, nLists = 4,
      upserts = 200, deletes = 20, setupReps = 1)
    case "text_stream" => new TextStream(n0 = 3000, vocab = 5000, buckets = 4, appends = 50,
      deletes = 5, setupReps = 1)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(a("workload"))
    val seed = a("seed").toLong
    val trace = a.getOrElse("trace", "0") == "1"
    val workDir = new java.io.File(a("work-dir")).getAbsoluteFile
    workDir.mkdirs()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mapper = new ObjectMapper()
    val prov = mapper.createObjectNode()
    prov.put("workload", a("workload"))
    prov.put("seed", seed)
    prov.put("trace", trace)
    prov.put("code_sha", a.getOrElse("code-sha", "unknown"))
    prov.put("nproc", Runtime.getRuntime.availableProcessors)
    prov.put("SPARK_GRAFT_CPUS", sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))
    prov.put("spark_master", s"local[$cpus]")
    prov.put("xmx_mb", Runtime.getRuntime.maxMemory / 1048576)
    prov.put("jvm", System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version"))
    prov.put("jdk.incubator.vector",
      ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent)
    prov.put("spark", spark.version)
    println("provenance " + mapper.writeValueAsString(prov))

    println(f"# phase session ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val tracer = new Tracer(trace, spark)
    val ctx = new Ctx(spark, tracer, seed, a("seconds").toDouble, workDir.getPath,
      line => println("# " + line))
    val out = try wl.run(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(Map.empty, 1, 1, Seq(s"run aborted: $e"))
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    if (trace) a.get("spans").foreach(f => Common.writeSpans(tracer, new java.io.File(f)))
    out.mismatches.foreach(m => println("# MISMATCH " + m))
    println(f"# phase total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val res = mapper.createObjectNode()
    res.put("correct", out.mismatches.isEmpty && out.failed == 0)
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    val ms = res.putObject("metrics")
    out.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => ms.put(k, v) }
    spark.stop()
    println(mapper.writeValueAsString(res))
  }
}
