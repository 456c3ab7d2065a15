package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

object Util {

  /** Linear-interpolated percentile (the numpy default) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Read every file under `dir` once, so the timed region starts from
    * the same page-cache state on every run. Returns bytes read. */
  def warmPageCache(dir: Path): Long = {
    val buf = new Array[Byte](1 << 20)
    var total = 0L
    val files = Files.walk(dir)
    try files.filter(Files.isRegularFile(_)).forEach { p =>
      val in = Files.newInputStream(p)
      try {
        var n = in.read(buf)
        while (n >= 0) { total += n; n = in.read(buf) }
      } finally in.close()
    } finally files.close()
    total
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case p: Product if p.productArity == 2 =>
      json(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def writeJson(path: Path, v: Any): Unit =
    Files.write(path, json(v).getBytes(StandardCharsets.UTF_8))
}
