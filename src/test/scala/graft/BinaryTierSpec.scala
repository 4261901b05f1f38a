package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BinarySig
import graft.operators.{Ann, BinaryMatrixStore, MatrixStore, VectorStore}

class BinaryTierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sign_pack packs sign bits into words; hamming_dist counts differing bits") {
    // 70 dims forces two words; exact expected packing computed by hand:
    // elements >= 0 set their bit, negatives (and only they) clear it
    val v = (0 until 70).map(i => if (i % 3 == 0) -1.0f else 1.0f)
    val df = Seq((1L, v)).toDF("id", "v")
      .select(BinarySig.signPack(col("v")).as("sig"))
    val sig = df.head().getSeq[Long](0)
    assert(sig.length == 2)
    var w0 = 0L; var w1 = 0L
    (0 until 70).foreach { i =>
      if (i % 3 != 0) { if (i < 64) w0 |= (1L << i) else w1 |= (1L << (i - 64)) }
    }
    assert(sig == Seq(w0, w1))
    // hamming against the all-positive vector = number of negatives
    val pos = (0 until 70).map(_ => 1.0f)
    val h = Seq((v, pos)).toDF("a", "b")
      .select(BinarySig.hammingDist(
        BinarySig.signPack(col("a")), BinarySig.signPack(col("b"))).as("h"))
      .head().getInt(0)
    assert(h == (0 until 70).count(_ % 3 == 0))
  }

  test("packed hamming == unpacked sign-mismatch count on real embeddings") {
    val e = Tables.embeddings(spark, TestSpark.sf).limit(200)
    val pairs = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
        .filter(col("idb") < 5))
    val mismatch = pairs.select(
        BinarySig.hammingDist(
          BinarySig.signPack(col("va")), BinarySig.signPack(col("vb"))).as("packed"),
        BinarySig.signHammingUnpacked(col("va"), col("vb")).as("unpacked"))
      .filter(col("packed") =!= col("unpacked"))
    assert(mismatch.isEmpty)
  }

  test("binary tier: local == distributed, exact scores, recall floor, O4 filter") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = MatrixStore.fromStore(st)
    val exactLocal = mx.toLocal()
    val bmx = BinaryMatrixStore.fromStore(st)
    val blocal = bmx.toLocal()
    try {
      assert(blocal.nRows == st.len())
      var recalled = 0; var total = 0
      (0L until 10L).foreach { i =>
        val q = e.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0).toArray
        val viaLocal = blocal.query(q, 10, oversample = 16).toSeq
        // same kernel as the distributed tier, element for element
        assert(viaLocal == bmx.query(q, 10, oversample = 16).toSeq, s"query $i vs distributed")
        // self-hit: the query's own signature has Hamming 0 — always nominated
        assert(viaLocal.head._1 == i.toString, s"query $i self-hit")
        // emitted scores are EXACT: every returned id scores bitwise-equal
        // to the exact replica's score for that id
        val exactAll = exactLocal.query(q, Int.MaxValue).toMap
        viaLocal.foreach { case (id, s) => assert(exactAll(id) == s, s"query $i id $id score") }
        val exactTop = exactLocal.query(q, 10).map(_._1).toSet
        recalled += viaLocal.count(p => exactTop.contains(p._1)); total += 10
      }
      assert(recalled.toDouble / total >= 0.8,
        s"binary tier recall@10 ${recalled.toDouble / total} under floor at oversample 16")
      // O4 id-set filter gates before nomination: filtered binary tier
      // answers within the allowed set only, with exact scores
      val allowed = st.df.filter(col("label") === 3)
        .select(col("__id__")).collect().map(_.getString(0)).toSet
      val q0 = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
      val filtered = blocal.query(q0, 5, oversample = 16, Some(allowed))
      assert(filtered.nonEmpty && filtered.forall(p => allowed.contains(p._1)))
      val exactFiltered = exactLocal.query(q0, Int.MaxValue, None, Some(allowed)).toMap
      filtered.foreach { case (id, s) => assert(exactFiltered(id) == s) }
      assert(bmx.query(q0, 5, oversample = 16, Some(allowed)).toSeq == filtered.toSeq)
    } finally { mx.unpersist(); bmx.unpersist() }
  }

  test("binary replica mutate surface: tombstones hide, upserts shadow, overlay exact-scored") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val st = VectorStore.fromDataFrame(e, "vec_id", "embedding", 64)
    val mx = MatrixStore.fromStore(st)
    val exactLocal = mx.toLocal()
    val bmx = BinaryMatrixStore.fromStore(st)
    val blocal = bmx.toLocal()
    try {
      val q0 = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
      val before = blocal.nRows
      // tombstone: gone immediately, nRows drops
      blocal.markDeleted(Seq("0"))
      assert(blocal.query(q0, 10).forall(_._1 != "0"))
      assert(blocal.nRows == before - 1 && blocal.nTombstones == 1)
      // re-add after delete: answers again with the exact score
      blocal.add(Seq("0" -> q0))
      val hit = blocal.query(q0, 1).head
      assert(hit._1 == "0" && hit._2 == exactLocal.query(q0, 1).head._2)
      assert(blocal.nRows == before)
      // upsert shadows the slab copy: give id 5 the id-0 vector; both now
      // rank at the top, and the old id-5 vector stops answering for it
      blocal.add(Seq("5" -> q0))
      assert(blocal.query(q0, 2).map(_._1).toSet == Set("0", "5"))
      assert(blocal.nRows == before, "upsert must not change the row count")
      // the HnswMaintainable adapter shares this state and maps ef->oversample
      val m = blocal.maintainable
      assert(m.nRows == before)
      assert(m.query(q0, 2, ef = 16, betterThan = None, allowedIds = None)
        .map(_._1).toSet == Set("0", "5"))
      m.markDeleted(Seq("5"))
      assert(blocal.query(q0, 2).map(_._1) sameElements Array("0",
        blocal.query(q0, 2)(1)._1))
      assert(blocal.query(q0, 10).forall(_._1 != "5"))
    } finally { mx.unpersist(); bmx.unpersist() }
  }

  test("bqTopKBatch: full-corpus oversample equals brute force exactly") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 3)
    val sigs = Ann.bqSigs(e, "vec_id", "embedding")
    // oversample covering the corpus => nomination is total => the
    // two-phase pipeline must reproduce the exact scan verbatim
    val full = Ann.bqTopKBatch(sigs, e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, oversample = n / 5 + 1)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
    // moderate oversample: self-hit at rank 1 for every query
    val approx = Ann.bqTopKBatch(sigs, e, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, oversample = 16)
    val selfHits = approx.filter(col("rank") === 1 && col("qid") === col("id")).count()
    assert(selfHits == 3)
  }

  test("ivfBq hybrid: degenerate probe equals brute force; persisted lifecycle bounded") {
    val e = Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"), col("embedding"))
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 3)
    val hy = Ann.ivfBqBuild(Ann.ivfBuild(e, "vec_id", "embedding", nLists = 4))
    // nProbe = nLists and total oversample: candidate selection is total,
    // so the hybrid must reproduce the exact scan verbatim
    val full = Ann.ivfBqTopK(hy, q, "vec_id", "embedding",
      k = 5, nProbe = 4, oversample = n / 5 + 1)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty)
    // the driver placement (same queries, collected) selects the same
    // probes as the distributed one (same deterministic (cosine desc,
    // cluster) ranking) => row-identical at ANY operating point, not
    // just the degenerate one
    val opDriver = Ann.ivfBqTopK(hy, SparkEntry.driverFrame(q), "vec_id", "embedding",
      k = 5, nProbe = 2, oversample = 4)
    val opDist = Ann.ivfBqTopK(hy, q, "vec_id", "embedding",
      k = 5, nProbe = 2, oversample = 4)
    assert(opDist.exceptAll(opDriver).isEmpty && opDriver.exceptAll(opDist).isEmpty)

    // persisted lifecycle: append touches only the batch's cluster dirs,
    // delete rewrites only the dirs holding the ids
    val path = java.nio.file.Files.createTempDirectory("graft_ivfbq_spec").toString
    val base = e.filter(col("vec_id") < n - 20)
    val batch = e.filter(col("vec_id") >= n - 20)
    Ann.ivfBqSave(Ann.ivfBqBuild(Ann.ivfBuild(base, "vec_id", "embedding", nLists = 4)), path)
    def snap(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$path/lists")).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val s0 = snap()
    Ann.ivfBqAppendSave(spark, path, batch, "vec_id", "embedding")
    val s1 = snap()
    assert(s0.forall { case (p, v) => s1.get(p).contains(v) },
      "append must leave every pre-existing file byte-identical")
    val touched = Ann.ivfBqDeleteSave(spark, path, Seq("0"))
    assert(touched.size == 1)
    val s2 = snap()
    val touchedDirs = touched.map(c => s"cluster=$c").toSet
    assert(s1.forall { case (p, v) =>
      touchedDirs.exists(p.contains) || s2.get(p).contains(v) },
      "delete must rewrite only the touched cluster dirs")
    val idx = Ann.ivfBqLoad(spark, path)
    assert(idx.lists.count() == n - 1)
    // reloaded index still probes exactly at the degenerate point
    val cur = e.filter(col("vec_id") =!= 0)
    val q2 = cur.filter(col("vec_id") < 4)
    val probe = Ann.ivfBqTopK(idx, q2, "vec_id", "embedding",
      k = 3, nProbe = 4, oversample = n)
    val brute2 = Ann.bruteForceTopK(cur, "vec_id", "embedding", q2, "vec_id", "embedding", k = 3)
    assert(probe.exceptAll(brute2).isEmpty && brute2.exceptAll(probe).isEmpty)
  }
}
