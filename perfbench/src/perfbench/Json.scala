package perfbench

import scala.collection.immutable.ListMap

/** Minimal JSON writer for the harness's result and trace files. Maps keep
  * insertion order when they are `ListMap`s; numbers keep all their digits. */
object Json {
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def str(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None                 => "null"
    case Some(x)                     => apply(x)
    case s: String                   => str(s)
    case b: Boolean                  => b.toString
    case d: Double                   =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                    => apply(f.toDouble)
    case n: Int                      => n.toString
    case n: Long                     => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_]                 => apply(a.toSeq)
    case s: Iterable[_]              => s.map(apply).mkString("[", ",", "]")
    case other                       => str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(f.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, (apply(v) + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Small order statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
