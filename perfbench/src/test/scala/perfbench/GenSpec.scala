package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def docLine(d: Doc): String = s"${d.id}\t${d.source}\t${d.text}"

  /** SHA-256 of the parts, each followed by a NUL separator. */
  private def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every input one seed produces, serialized: the daily base corpus,
    * four days of batches with their ground truth, the search vectors,
    * queries and BM25 corpus. */
  private def inputs(seed: Long): String = {
    val g = new Gen(seed)
    val base = (1 to 200).map(i => Doc(i.toLong, g.text(), g.source()))
    var next = 201L
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val days = (1 to 4).map { d =>
      val day = Daily.day(g, d, 60, base, fresh.toIndexedSeq, next)
      next += day.docs.size - day.resent.size
      fresh ++= day.docs.filter(x => !day.resent(x.id) &&
        !day.exact.contains(x.id) && !day.near.contains(x.id))
      day
    }
    val mix = new Vectors(new Gen(seed + 1), 16, 8, 1.1)
    val points = (0 until 100).map(_ => mix.point())
    digest(base.iterator.map(docLine) ++
      days.iterator.flatMap(d => d.docs.map(docLine) ++ Seq(
        d.resent.toSeq.sorted.mkString(","),
        d.exact.toSeq.sorted.mkString(","), d.near.toSeq.sorted.mkString(","))) ++
      points.iterator.map(_.mkString(",")))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("a day mixes fresh docs, near and exact copies of base docs, and re-sends") {
    val g = new Gen(3)
    val base = (1 to 100).map(i => Doc(i.toLong, g.text(), g.source()))
    val day = Daily.day(g, 1, 60, base, IndexedSeq.empty, 101L)
    assert(day.docs.size == 60)
    assert(day.docs.map(_.id).distinct.size == 60)
    assert(day.resent.size == 9 && day.resent.forall(_ <= 100))
    val byId = day.docs.map(d => d.id -> d).toMap
    val baseText = base.map(d => d.id -> d.text).toMap
    assert(day.exact.size == 6 && day.exact.forall { case (id, src) =>
      byId(id).text == baseText(src) })
    assert(day.near.size == 15 && day.near.forall { case (id, src) =>
      byId(id).text != baseText(src) &&
        byId(id).text.split(' ').zip(baseText(src).split(' '))
          .count { case (a, b) => a != b } == 1 })
  }

  test("exact top-k matches a full sort by (rounded score desc, id asc)") {
    val mix = new Vectors(new Gen(5), 8, 4, 1.1)
    val ids = (0 until 300).map(_.toLong).toArray
    val vs = ids.map(_ => mix.point())
    val norms = vs.map(Vectors.norm)
    val q = mix.point()
    val qn = Vectors.norm(q)
    val dead = Set(3L, 17L)
    val full = ids.indices.filterNot(i => dead(ids(i)))
      .map(i => (ids(i), Vectors.score(q, qn, vs(i), norms(i))))
      .sortBy(t => (-t._2, t._1)).take(10)
    assert(Vectors.topK(q, ids, vs, norms, id => !dead(id), 10) == full)
  }
}
