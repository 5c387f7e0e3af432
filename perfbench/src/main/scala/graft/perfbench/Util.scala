package graft.perfbench

import scala.collection.immutable.ListMap

/** Minimal JSON encoder for the result line, the result file and spans. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = (s.length - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Driver-side reference arithmetic: the same fold order as the engine's
  * dot kernel (sequential double sum of float products), so exact top-k
  * answers computed here are bit-comparable with the engine's scores.
  */
object Ref {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Top-k of (id, score) by (score desc, id asc) over the candidates. */
  def topK(cands: Iterator[(String, Double)], k: Int): Vector[(String, Double)] = {
    val ord = Ordering.by[(String, Double), (Double, String)](x => (-x._2, x._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Double)](ord)
    cands.foreach { c =>
      if (heap.size < k) heap.enqueue(c)
      else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
    }
    heap.toVector.sorted(ord)
  }

  /** The engine's autocut rule over a descending score list: find the first
    * largest relative drop between consecutive scores; past 20%, truncate
    * from that point on.
    */
  def autocut(xs: Vector[(String, Double)]): Vector[(String, Double)] = {
    if (xs.length < 2) return xs
    val drops = (1 until xs.length).map(i => (xs(i - 1)._2 - xs(i)._2) / xs(i - 1)._2)
    val maxd = drops.max
    if (maxd > 0.2) xs.take(drops.indexOf(maxd) + 1) else xs
  }

  /** Compare an engine top-k with the reference answer: same ids in the
    * same order, scores within 1e-5.
    */
  def sameTopK(got: Seq[(String, Double)], want: Seq[(String, Double)]): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"ids ${got.map(_._1).mkString(",")} != expected ${want.map(_._1).mkString(",")}")
    else got.zip(want).collectFirst {
      case ((id, a), (_, b)) if math.abs(a - b) > 1e-5 => s"score of $id: $a vs $b"
    }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
  def none(err: Option[String]): Unit = err.foreach(e => throw new CheckFailed(e))
}
