package graft.perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The generated inputs are a pure function of the seed: the same seed
  * gives byte-identical inputs (compared by hash), another seed other
  * inputs. */
class GenSpec extends AnyFunSuite {
  private final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    def str(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    def int(i: Int): Unit = md.update(ByteBuffer.allocate(4).putInt(i).array())
    def dbl(d: Double): Unit = md.update(ByteBuffer.allocate(8).putDouble(d).array())
    def vec(v: Array[Float]): Unit = v.foreach(x => int(java.lang.Float.floatToIntBits(x)))
    def hex: String = md.digest().map("%02x".format(_)).mkString
  }

  private def serveInputs(seed: Long): String = {
    val h = new Hasher
    val c = Gen.serveCorpus(seed, 500, 16)
    c.ids.indices.foreach { i => h.str(c.ids(i)); h.vec(c.vecs(i)); h.int(c.labels(i)) }
    val reqs = new Gen.ServeRequests(seed, c)
    (0 until 100).foreach { _ =>
      val q = reqs.next()
      h.str(q.tier); h.vec(q.query)
      h.int(q.label.getOrElse(-1)); h.dbl(q.threshold.getOrElse(-1.0))
    }
    h.hex
  }

  private def cdcInputs(seed: Long): String = {
    val h = new Hasher
    val s = new Gen.CdcStream(seed, 16, 500, 20, 5)
    s.corpus.foreach { case (id, v) => h.str(id); h.vec(v) }
    (0 until 5).foreach { _ =>
      val b = s.nextBatch()
      b.upserts.foreach { case (id, v) => h.str(id); h.vec(v) }
      b.updatedIds.toSeq.sorted.foreach(h.str)
      b.deletes.foreach(h.str)
      h.str(s.pickLive()); h.vec(s.noise(Array.fill(16)(1f))); h.int(if (s.coin(0.3)) 1 else 0)
    }
    h.hex
  }

  private def textInputs(seed: Long): String = {
    val h = new Hasher
    val s = new Gen.TextStream(seed, 300, 500, 20, 5)
    s.corpus.foreach { case (id, t) => h.str(id); h.str(t) }
    (0 until 5).foreach { _ =>
      val b = s.nextBatch()
      b.appends.foreach { case (id, t) => h.str(id); h.str(t) }
      b.deletes.foreach(h.str)
      s.nextQuery().foreach(h.str)
    }
    h.hex
  }

  for ((name, inputs) <- Seq[(String, Long => String)](
      "serve" -> serveInputs, "cdc_ingest" -> cdcInputs, "text_stream" -> textInputs)) {
    test(s"$name: the same seed gives identical inputs, another seed different ones") {
      assert(inputs(1L) == inputs(1L))
      assert(inputs(7L) == inputs(7L))
      assert(inputs(1L) != inputs(7L))
    }
  }

  test("serve: every deck holds each tier's share, every five requests to a tier one filter") {
    val reqs = new Gen.ServeRequests(5L, Gen.serveCorpus(5L, 100, 8))
    val all = Seq.fill(Gen.DeckSize * 5)(reqs.next())
    all.grouped(Gen.DeckSize).foreach { deck =>
      assert(deck.groupBy(_.tier).map { case (t, qs) => t -> qs.size } == Gen.Tiers.toMap)
    }
    all.groupBy(_.tier).foreach { case (tier, qs) =>
      qs.grouped(5).foreach { five =>
        assert(five.count(_.label.nonEmpty) == 1)
        assert(five.count(_.threshold.nonEmpty) == (if (Gen.ThresholdTiers(tier)) 1 else 0))
      }
    }
  }

  test("a corpus row does not depend on how many rows are generated") {
    val small = Gen.serveCorpus(3L, 10, 8)
    val large = Gen.serveCorpus(3L, 100, 8)
    (0 until 10).foreach { i =>
      assert(small.ids(i) == large.ids(i))
      assert(small.vecs(i).sameElements(large.vecs(i)))
      assert(small.labels(i) == large.labels(i))
    }
  }
}
