package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the engine receives comes from
  * here, and the same (seed, sizes) always yields the same inputs: each
  * stream draws from its own [[SplittableRandom]] derived from the seed,
  * so adding draws to one stream never shifts another. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Uniform floats in [-1, 1): the reference benchmark's random corpus,
    * made symmetric so sign-bit signatures carry information. */
  def uniformVec(r: SplittableRandom, dim: Int): Array[Float] =
    Array.fill(dim)((r.nextDouble() * 2.0 - 1.0).toFloat)

  def perturb(r: SplittableRandom, v: Array[Float], noise: Double): Array[Float] =
    v.map(x => (x + (r.nextDouble() * 2.0 - 1.0) * noise).toFloat)

  /** Picks from a growing and shrinking id set in O(1), deterministically. */
  final class IdPool {
    private val ids = ArrayBuffer.empty[String]
    private val pos = scala.collection.mutable.HashMap.empty[String, Int]
    def size: Int = ids.size
    def add(id: String): Unit = if (!pos.contains(id)) { pos(id) = ids.size; ids += id }
    def remove(id: String): Unit = pos.remove(id).foreach { i =>
      val last = ids.remove(ids.size - 1)
      if (i < ids.size) { ids(i) = last; pos(last) = i }
    }
    def pick(r: SplittableRandom): String = ids(r.nextInt(ids.size))
  }

  // ------------------------------------------------------------- serve
  /** Row `i` of a corpus is a pure function of (seed, i), so Spark tasks
    * and the driver-side model generate identical rows independently. */
  def rowRng(seed: Long, stream: Long, i: Long): SplittableRandom =
    rng(seed, stream * 0x100000001L + i)

  final case class ServeCorpus(ids: Array[String], labels: Array[Int],
      vecs: Array[Array[Float]])

  def serveRow(seed: Long, i: Long, dim: Int): (String, Array[Float], Int) = {
    val r = rowRng(seed, 1, i)
    (f"v$i%07d", uniformVec(r, dim), r.nextInt(10))
  }

  def serveCorpus(seed: Long, n: Int, dim: Int): ServeCorpus = {
    val rows = Array.tabulate(n)(i => serveRow(seed, i, dim))
    ServeCorpus(rows.map(_._1), rows.map(_._3), rows.map(_._2))
  }

  /** Serving tiers with their share of requests, out of a deck of 20. */
  val Tiers: IndexedSeq[(String, Int)] = IndexedSeq(
    "MatrixStore.local" -> 6, "QuantizedMatrixStore.local" -> 3,
    "BinaryMatrixStore.local" -> 3, "MatrixStore.dist" -> 2,
    "QuantizedMatrixStore.dist" -> 2, "BinaryMatrixStore.dist" -> 1,
    "VectorStore" -> 3)
  val DeckSize: Int = Tiers.map(_._2).sum

  /** Tiers whose query takes an inclusive score threshold. */
  val ThresholdTiers = Set("MatrixStore.local", "MatrixStore.dist", "VectorStore")

  final case class ServeRequest(tier: String, query: Array[Float],
      label: Option[Int], threshold: Option[Double])

  /** The endless seeded request stream of `serve`: tiers dealt from a
    * shuffled deck holding each tier its share of times (so every 20
    * requests have the exact mix), a perturbed corpus row as the query.
    * Each tier also deals its variants from a shuffled deck of five: one
    * label filter, and one inclusive threshold on the tiers that take
    * one, so every five requests to a tier carry exactly that mix. */
  final class ServeRequests(seed: Long, corpus: ServeCorpus) {
    private val r = rng(seed, 2)
    private def shuffled[T](cards: Array[T]): List[T] = {
      (cards.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1)
        val x = cards(i); cards(i) = cards(j); cards(j) = x
      }
      cards.toList
    }
    private var deck = List.empty[String]
    private val variants = scala.collection.mutable.HashMap.empty[String, List[Int]]
    def next(): ServeRequest = {
      if (deck.isEmpty) deck = shuffled(Tiers.flatMap { case (t, n) => Seq.fill(n)(t) }.toArray)
      val tier = deck.head
      deck = deck.tail
      // variant 1: label filter, 2: threshold, 0: neither
      val vs = variants.get(tier).filter(_.nonEmpty).getOrElse(
        shuffled(Array(0, 0, 0, 1, if (ThresholdTiers(tier)) 2 else 0)))
      variants(tier) = vs.tail
      val src = corpus.vecs(r.nextInt(corpus.vecs.length))
      val q = perturb(r, src, 0.5)
      val label = if (vs.head == 1) Some(r.nextInt(10)) else None
      val thr = if (vs.head == 2) Some(0.05 + r.nextDouble() * 0.2) else None
      ServeRequest(tier, q, label, thr)
    }
  }

  // -------------------------------------------------------- cdc_ingest
  /** A seeded mixture of `clusters` Gaussian blobs: clustered enough
    * that IVF probing is meaningful (uniform data is IVF's worst case). */
  final class Mixture(seed: Long, dim: Int, clusters: Int) extends Serializable {
    private val centers = {
      val r = rng(seed, 3)
      Array.fill(clusters)(uniformVec(r, dim))
    }
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centers(r.nextInt(clusters))
      c.map(x => (x + r.nextGaussian() * 0.35).toFloat)
    }
  }

  def cdcRow(mix: Mixture, seed: Long, i: Long): (String, Array[Float]) =
    (f"c$i%07d", mix.draw(rowRng(seed, 4, i)))

  final case class CdcBatch(upserts: IndexedSeq[(String, Array[Float])],
      updatedIds: Set[String], deletes: IndexedSeq[String])

  /** Corpus plus the endless change-data stream of `cdc_ingest`. Each
    * microbatch upserts `upserts` rows (20% of them updates of live ids)
    * and deletes `deletes` other live ids. Reads probe a perturbed live
    * row, or the row upserted last (the freshness probe). */
  final class CdcStream(seed: Long, dim: Int, n0: Int, upserts: Int, deletes: Int) {
    val mix = new Mixture(seed, dim, 24)
    val corpus: IndexedSeq[(String, Array[Float])] =
      IndexedSeq.tabulate(n0)(i => Gen.cdcRow(mix, seed, i))
    private val live = new IdPool
    corpus.foreach(x => live.add(x._1))
    private var nextId = n0
    private val rBatch = rng(seed, 5)
    private val rRead = rng(seed, 6)

    def nextBatch(): CdcBatch = {
      val nUpd = upserts / 5
      val upd = scala.collection.mutable.LinkedHashSet.empty[String]
      while (upd.size < nUpd) upd += live.pick(rBatch)
      val fresh = (0 until upserts - nUpd).map { _ => nextId += 1; f"c$nextId%07d" }
      val rows = (upd.toIndexedSeq ++ fresh).map(id => id -> mix.draw(rBatch))
      val del = scala.collection.mutable.LinkedHashSet.empty[String]
      while (del.size < deletes) {
        val id = live.pick(rBatch)
        if (!upd.contains(id)) del += id
      }
      fresh.foreach(live.add)
      del.foreach(live.remove)
      CdcBatch(rows, upd.toSet, del.toIndexedSeq)
    }

    def pickLive(): String = live.pick(rRead)
    def noise(v: Array[Float]): Array[Float] = perturb(rRead, v, 0.15)
    def coin(p: Double): Boolean = rRead.nextDouble() < p
  }

  // ------------------------------------------------------- text_stream
  /** Zipf(1.0)-distributed words over a `vocab`-word vocabulary. */
  final class Zipf(vocab: Int) extends Serializable {
    private val cdf = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      "w" + math.min(i, cdf.length - 1)
    }
  }

  final case class TextBatch(appends: IndexedSeq[(String, String)], deletes: IndexedSeq[String])

  def doc(z: Zipf, r: SplittableRandom): String =
    Array.fill(30 + r.nextInt(61))(z.word(r)).mkString(" ")

  def textRow(z: Zipf, seed: Long, i: Long): (String, String) =
    (f"d$i%07d", doc(z, rowRng(seed, 7, i)))

  /** Corpus plus the endless append/delete trigger stream of
    * `text_stream`. A read queries the two rarest distinct words of one
    * live document: it always matches, and its cost is the probe's, not
    * that of a stop word's posting list. */
  final class TextStream(seed: Long, n0: Int, vocab: Int, appends: Int, deletes: Int) {
    val zipf = new Zipf(vocab)
    val corpus: IndexedSeq[(String, String)] =
      IndexedSeq.tabulate(n0)(i => Gen.textRow(zipf, seed, i))
    private val text = scala.collection.mutable.HashMap.empty[String, String]
    private val live = new IdPool
    corpus.foreach { case (id, t) => live.add(id); text(id) = t }
    private var nextId = n0
    private val rBatch = rng(seed, 8)
    private val rRead = rng(seed, 9)

    def nextBatch(): TextBatch = {
      val adds = (0 until appends).map { _ => nextId += 1; (f"d$nextId%07d", doc(zipf, rBatch)) }
      val del = scala.collection.mutable.LinkedHashSet.empty[String]
      while (del.size < deletes) del += live.pick(rBatch)
      adds.foreach { case (id, t) => live.add(id); text(id) = t }
      del.foreach { id => live.remove(id); text.remove(id) }
      TextBatch(adds, del.toIndexedSeq)
    }

    def nextQuery(): Seq[String] = {
      var words = text(live.pick(rRead)).split(" ").distinct
      while (words.length < 2) words = text(live.pick(rRead)).split(" ").distinct
      words.sortBy(w => -w.drop(1).toInt).take(2).toSeq
    }
  }
}
