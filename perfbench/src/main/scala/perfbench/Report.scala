package perfbench

import scala.collection.mutable

/** Everything one run reports: metrics by name with their unit, free-form
  * facts about the run, output checks, and per-entry op counts. Written
  * as one JSON object that run.py turns into the benchmark's result line.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Timed ops and failed timed ops per op name (entry or op kind). */
  val opsByName = mutable.LinkedHashMap.empty[String, (Int, Int)]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    ok
  }

  def toJson: Json.Raw = Json.obj(Seq(
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
    "info" -> Json.obj(info.toSeq),
    "checks" -> checks.toSeq.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> n, "ok" -> ok, "detail" -> d)) },
    "ops_by_name" -> Json.obj(opsByName.toSeq.map { case (k, (a, f)) =>
      k -> Json.obj(Seq("attempted" -> a, "failed" -> f)) }),
  ))
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  final case class Raw(s: String)

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def ms(nanos: Long): Double = nanos / 1e6

  /** Time `body`, returning its value and elapsed nanos. */
  def time[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}
