package perfbench

import scala.collection.mutable.ArrayBuffer

/** One generated document. */
final case class Doc(id: Long, text: String, source: String)

/** Seeded input generation. Everything here is plain Scala driven by
  * `java.util.Random` (whose sequence is fixed by its specification), so
  * the same seed gives byte-identical inputs on every JVM. The program
  * under test only ever sees the generated rows; the ground truth stays
  * on this side. */
final class Gen(seed: Long) {
  private val rng = new java.util.Random(seed)

  /** A fixed vocabulary with a Zipf(1.07) rank distribution: real text
    * shares a heavy head of common words and a long tail, which is what
    * the shingle, minhash and BM25 document frequencies depend on. */
  private val vocab: Array[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = ArrayBuffer.empty[String]
    while (out.size < Gen.VocabSize) {
      val len = 2 + rng.nextInt(8)
      val w = (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      if (seen.add(w)) out += w
    }
    out.toArray
  }
  private val zipfCdf: Array[Double] = {
    val weights = Array.tabulate(Gen.VocabSize)(r => 1.0 / math.pow(r + 1, 1.07))
    val total = weights.sum
    weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  /** About `chars` characters of Zipf words, a full stop every 9–16 words. */
  def text(chars: Int = Gen.DocChars): String = {
    val sb = new StringBuilder
    var untilStop = 9 + rng.nextInt(8)
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(word())
      untilStop -= 1
      if (untilStop == 0) { sb.append('.'); untilStop = 9 + rng.nextInt(8) }
    }
    sb.toString
  }

  /** A near duplicate: `edits` distinct word positions replaced by other
    * words. One edit of a ~300-char text keeps the character 8-shingle
    * Jaccard near 0.9, far above the 0.5 verify threshold. */
  def variant(t: String, edits: Int): String = {
    val ws = t.split(' ')
    val positions = rng.ints(0, ws.length).distinct().limit(edits.toLong)
      .toArray
    positions.foreach { p =>
      val stop = ws(p).endsWith(".")
      var w = word()
      while (w == ws(p).stripSuffix(".")) w = word()
      ws(p) = if (stop) w + "." else w
    }
    ws.mkString(" ")
  }

  def source(): String = Gen.Sources(rng.nextInt(Gen.Sources.length))
  def int(n: Int): Int = rng.nextInt(n)
  def gaussian(): Double = rng.nextGaussian()
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}

object Gen {
  val VocabSize = 6000
  val DocChars = 300
  val Sources = Array("web", "news", "forum", "wiki")
}

/** One day of the admission workload and what the generator knows
  * about it: which ids are re-sends, which texts are exact copies of
  * history, which are near duplicates of history (by source id). */
final case class Day(index: Int, docs: Seq[Doc], resent: Set[Long],
    exact: Map[Long, Long], near: Map[Long, Long]) {
  def tag: String = Day.tagOf(index)
}

object Day {
  def tagOf(index: Int): String = f"d$index%03d"
}

object Daily {
  /** Day `index` (1-based) over a `base` history: a batch of `size`
    * docs mixing 50% fresh documents, 25% near duplicates (one word
    * edited) of base documents, 10% exact copies of base documents
    * under new ids, and 15% re-sends of ids already ingested (base
    * documents or earlier days' fresh documents). Copy sources come from
    * the base segment, which retention never retires, so what the gates
    * must flag does not depend on the keep window. */
  def day(g: Gen, index: Int, size: Int, base: IndexedSeq[Doc],
      earlierFresh: IndexedSeq[Doc], nextId: Long): Day = {
    val nNear = size / 4
    val nExact = size / 10
    val nResent = size * 15 / 100
    val nFresh = size - nNear - nExact - nResent
    var id = nextId
    def newId(): Long = { val i = id; id += 1; i }
    val fresh = (0 until nFresh).map(_ => Doc(newId(), g.text(), g.source()))
    val near = (0 until nNear).map { _ =>
      val src = base(g.int(base.size))
      src.id -> Doc(newId(), g.variant(src.text, 1), g.source())
    }
    val exact = (0 until nExact).map { _ =>
      val src = base(g.int(base.size))
      src.id -> Doc(newId(), src.text, g.source())
    }
    val pool = base ++ earlierFresh
    val resent = g.shuffle(pool.indices).take(nResent).map(pool(_))
    val docs = g.shuffle(fresh ++ near.map(_._2) ++ exact.map(_._2) ++ resent)
    Day(index, docs, resent.map(_.id).toSet,
      exact.map { case (s, d) => d.id -> s }.toMap,
      near.map { case (s, d) => d.id -> s }.toMap)
  }
}

/** A seeded Gaussian mixture of `n` unit-ish vectors in `dim`
  * dimensions around `clusters` random centres, plus exact cosine
  * top-k in plain Scala with the engine's rounding and tie order. */
final class Vectors(g: Gen, dim: Int, clusters: Int, spread: Double) {
  private val centres: Array[Array[Double]] =
    Array.fill(clusters)(Array.fill(dim)(g.gaussian()))

  /** A point near a random centre, components rounded to 5 digits so
    * the stored doubles are short and exactly reproducible. */
  def point(): Array[Double] = {
    val c = centres(g.int(clusters))
    Array.tabulate(dim)(j =>
      math.round((c(j) + spread * g.gaussian()) * 1e5) / 1e5)
  }
}

object Vectors {
  /** Strict left-to-right dot product — the same accumulation order as
    * the engine's codegen'd dot product, so scores are bit-identical. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** cos = dot / (|q|·|c|), rounded HALF_UP to 4 digits like Spark's
    * `round(x, 4)` on a double. */
  def score(q: Array[Double], qn: Double, c: Array[Double], cn: Double): Double =
    BigDecimal(dot(q, c) / (qn * cn))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k (id, score) for `q` over the live vectors, ranked by
    * (rounded score desc, id asc). Rounding is monotone, so only the
    * candidates within a rounding step of the k-th raw score can reach
    * the rounded top k; just those pay the decimal rounding. */
  def topK(q: Array[Double], ids: Array[Long], vs: Array[Array[Double]],
      norms: Array[Double], live: Long => Boolean, k: Int): Seq[(Long, Double)] = {
    val qn = norm(q)
    val raw = ids.indices.filter(i => norms(i) > 0 && live(ids(i)))
      .map(i => (i, dot(q, vs(i)) / (qn * norms(i))))
      .sortBy(-_._2)
    if (raw.isEmpty) return Seq.empty
    val floor = raw(math.min(k, raw.length) - 1)._2 - 2e-4
    raw.takeWhile(_._2 >= floor)
      .map { case (i, _) => (ids(i), score(q, qn, vs(i), norms(i))) }
      .sortBy(t => (-t._2, t._1)).take(k)
  }
}
