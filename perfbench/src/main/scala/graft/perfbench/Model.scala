package graft.perfbench

import scala.collection.mutable

/** In-memory model of the reference semantics the benchmark checks the
  * engine against: id -> unit vector, upsert that replaces only the
  * vector of an existing id (metadata kept, quirk O2a), physical delete,
  * and exact cosine top-k with an inclusive threshold and
  * (score desc, id asc) ties. Scores use the engine's arithmetic (float
  * storage, double accumulation left to right), so exact tiers match. */
final class VecModel(val dim: Int) {
  val vecs = mutable.HashMap.empty[String, Array[Float]]
  val labels = mutable.HashMap.empty[String, Int]

  def size: Int = vecs.size

  def upsert(id: String, raw: Array[Float], label: Int = 0): Unit = {
    if (!vecs.contains(id)) labels(id) = label
    vecs(id) = VecModel.normalize(raw)
  }

  def delete(id: String): Unit = { vecs.remove(id); labels.remove(id) }

  def score(id: String, qn: Array[Double]): Option[Double] = vecs.get(id).map(VecModel.dot(_, qn))

  def topK(query: Array[Float], k: Int, threshold: Option[Double] = None,
      allowed: String => Boolean = _ => true): Array[(String, Double)] = {
    val qn = VecModel.normalizeQuery(query)
    val thr = threshold.getOrElse(Double.MinValue)
    vecs.iterator.filter(e => allowed(e._1))
      .map { case (id, v) => (id, VecModel.dot(v, qn)) }
      .filter(_._2 >= thr)
      .toArray.sorted(VecModel.BestFirst).take(k)
  }
}

object VecModel {
  val BestFirst: Ordering[(String, Double)] = new Ordering[(String, Double)] {
    def compare(a: (String, Double), b: (String, Double)): Int = {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else a._1.compareTo(b._1)
    }
  }

  /** Ingest-side normalization: double norm, float output. */
  def normalize(v: Array[Float]): Array[Float] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x.toDouble)
    val norm = math.sqrt(ss)
    v.map(x => (x.toDouble / norm).toFloat)
  }

  /** Query-side normalization: double output. */
  def normalizeQuery(v: Array[Float]): Array[Double] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x.toDouble)
    val inv = 1.0 / math.sqrt(ss)
    v.map(_.toDouble * inv)
  }

  def dot(v: Array[Float], qn: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * qn(i); i += 1 }
    s
  }

  val Eps = 1e-9

  /** An exact answer: same length as the model's, every returned id
    * live with its true score, and the score sequence equal to the
    * model's, so any order among exact ties is accepted. */
  def checkExact(what: String, exp: Array[(String, Double)], got: Array[(String, Double)],
      trueScore: String => Option[Double]): Option[String] =
    checkScores(what, got, trueScore).orElse {
      if (exp.length != got.length) Some(s"$what: ${got.length} rows, model has ${exp.length}")
      else exp.indices.find(i => math.abs(exp(i)._2 - got(i)._2) > Eps)
        .map(i => s"$what: rank ${i + 1} score ${got(i)._2} (${got(i)._1}), " +
          s"model ${exp(i)._2} (${exp(i)._1})")
    }

  /** An approximate answer: every returned id live (so never a deleted
    * one), allowed, carrying its true score, best first. */
  def checkScores(what: String, got: Array[(String, Double)],
      trueScore: String => Option[Double], eps: Double = Eps): Option[String] =
    got.iterator.map { case (id, s) =>
      trueScore(id) match {
        case None => Some(s"$what: returned $id, which is not live or not allowed")
        case Some(t) if math.abs(t - s) > eps => Some(s"$what: $id score $s, model $t")
        case _ => None
      }
    }.collectFirst { case Some(e) => e }.orElse {
      got.indices.drop(1).find(i => got(i)._2 > got(i - 1)._2 + eps)
        .map(i => s"$what: not best-first at rank ${i + 1}")
    }

  def recall(exp: Array[(String, Double)], got: Array[(String, Double)]): Double =
    if (exp.isEmpty) 1.0
    else got.map(_._1).toSet.intersect(exp.map(_._1).toSet).size.toDouble / exp.length
}

/** Live documents of the `text_stream` model, with BM25
  * in the engine's arithmetic: natural-log idf over live documents,
  * per-term scores quantized to 1e-9, summed as longs, rounded to 6
  * decimals (HALF_UP), ties by id. */
final class TextModel {
  private val docs = mutable.HashMap.empty[String, Array[String]]
  private val postings = mutable.HashMap.empty[String, mutable.HashSet[String]]
  private var sumDl = 0L

  def size: Int = docs.size

  /** Live user bytes: ids plus document text. */
  def liveBytes: Double =
    docs.iterator.map { case (id, t) => id.length + t.map(_.length).sum + t.length - 1.0 }.sum

  def add(id: String, text: String): Unit = {
    val toks = text.split(" ", -1)
    docs(id) = toks
    sumDl += toks.length
    toks.distinct.foreach(t => postings.getOrElseUpdate(t, mutable.HashSet.empty) += id)
  }

  def delete(id: String): Unit = docs.remove(id).foreach { toks =>
    sumDl -= toks.length
    toks.distinct.foreach(t => postings.get(t).foreach(_ -= id))
  }

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every matching live document with its score, best first. */
  def bm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): Array[(String, Double)] = {
    if (docs.isEmpty) return Array.empty
    val n = docs.size.toDouble
    val avgdl = sumDl.toDouble / docs.size
    val acc = mutable.HashMap.empty[String, Long]
    terms.flatMap(_.split(" ", -1)).distinct.foreach { t =>
      val ids = postings.getOrElse(t, mutable.HashSet.empty[String])
      val df = ids.size.toDouble
      if (df > 0) {
        val idf = StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0)
        ids.foreach { id =>
          val toks = docs(id)
          val tf = toks.count(_ == t).toDouble
          val dl = toks.length.toDouble
          val s = idf * tf / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
          acc(id) = acc.getOrElse(id, 0L) + roundHalfUp(s * 1e9, 0).toLong
        }
      }
    }
    acc.iterator.map { case (id, q) => (id, roundHalfUp(q.toDouble / 1e9, 6)) }
      .filter(_._2 > 0d).toArray.sorted(VecModel.BestFirst)
  }
}
