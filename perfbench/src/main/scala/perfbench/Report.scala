package perfbench

import scala.collection.mutable

/** Everything one run measured: metrics by name with units, the run record
  * (inputs, sizes, environment), and the operation tally.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, value: Any): Unit = record(name) = Report.json(value)

  /** Counts one operation; `error` is why it failed, if it did. */
  def op(what: String, error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e =>
      failed += 1
      failures += s"$what: $e"
      System.err.println(s"perfbench: failed $what: $e")
    }
  }
}

object Report {
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.map(json).getOrElse("null")
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
