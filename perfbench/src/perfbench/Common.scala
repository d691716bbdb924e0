package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** A correctness check failed: the run must exit non-zero without a result. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** What one run shares with its workload. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val work: File) {
  def path(name: String): String = new File(work, name).getAbsolutePath
}

/** One timed pass: records completed, the latency of each unit of work in
  * it (one per pass, or one per micro-batch / query batch), and the pass's
  * timed wall. Checks run after the timed wall is taken. */
final case class Pass(records: Long, unitMs: Seq[Double], wallNs: Long)

trait Workload {
  /** Generates the inputs from the seed and builds what the passes reuse. */
  def prepare(): Unit

  /** Runs, times and checks one pass over the whole input. */
  def pass(): Pass

  /** Extra per-layer measurements for a traced run, made after the timed
    * region so they cannot slow it: counts that need their own Spark jobs. */
  def traceExtras(): Map[String, Double] = Map.empty

  /** Per-layer metrics derived from the traced timed passes. */
  def layerMetrics(timed: Seq[Pass]): Map[String, Double] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Types {
  /** A data type with struct fields sorted by name and nullability and
    * metadata dropped, so two schemas compare by content alone. */
  def normalize(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.sortBy(_.name).map(f => StructField(f.name, normalize(f.dataType))))
    case ArrayType(et, _) => ArrayType(normalize(et), containsNull = true)
    case other            => other
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: Map[_, _]          =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}
