package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** One benchmark operation as the client saw it. `dueNs` is set for scheduled
  * (open-loop) ops: their latency counts from when they were due. */
final case class OpRecord(id: String, kind: String, phase: String, startNs: Long,
    endNs: Long, ok: Boolean, error: Option[String], dueNs: Long = -1L) {
  def latencyMs: Double = (endNs - (if (dueNs >= 0) dueNs else startNs)) / 1e6
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => obj("value" -> m.value, "unit" -> m.unit)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def sha256(s: String): String = sha256(s.getBytes(StandardCharsets.UTF_8))

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString
}

/** Stored expected outputs. */
object Expected {
  /** `{"<question id>": ["<passage id>", ...], ...}` as written by make_expected.py. */
  def lists(path: String): Map[String, Seq[String]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  def hashes(path: String): Map[String, String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    root.get("sha256").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
}
