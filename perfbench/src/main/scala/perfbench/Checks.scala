package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks for the pipeline workloads, read back from the files the
  * sink wrote. They hold whatever the engine's clip does: the weights of a
  * basin sum to 1, so in a constant-field hour every basin reads k/10 (a
  * double-counted duplicate day would read 2k/10).
  */
object Checks {
  private val Header = "time,rainfall_mm"

  /** None when the `CsvSink.writeScalable` output under `out` is right,
    * else the first problem found.
    */
  def output(out: Path, fx: Fixture): Option[String] =
    try scalableCsv(out, fx)
    catch { case e: Exception => Some(s"unreadable output: $e") }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  /** Checks one basin's (time, value) rows; None when right. */
  private def basinRows(basin: String, rows: Seq[String], fx: Fixture): Option[String] = {
    val parsed = rows.map { l =>
      val i = l.indexOf(',')
      (l.substring(0, i), l.substring(i + 1))
    }
    if (parsed.map(_._1) != fx.expectedTs)
      return Some(s"basin $basin: ${parsed.size} rows, expected the ${fx.expectedTs.size} hours of the range")
    parsed.collectFirst {
      case (ts, v) if fx.constantHours.contains(ts) &&
          !(math.abs(v.toDouble - fx.constantHours(ts) / 10.0) <= 1e-9) =>
        s"basin $basin at $ts reads $v, constant field is ${fx.constantHours(ts) / 10.0}"
    }
  }

  private def scalableCsv(out: Path, fx: Fixture): Option[String] = {
    if (!Files.exists(out.resolve("_SUCCESS"))) return Some("no _SUCCESS marker")
    val dirs = list(out).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("basinID="))
    if (dirs.size != fx.basins) return Some(s"${dirs.size} basin directories, expected ${fx.basins}")
    val ids = dirs.map(_.getFileName.toString.stripPrefix("basinID=").toInt).sorted
    if (ids != (1 to fx.basins)) return Some("basin directories are not basinID=1..n")
    val files = dirs.map { d =>
      d.getFileName.toString -> list(d)
        .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".csv")).map(lines)
    }
    files.collectFirst {
      case (name, per) if per.isEmpty || per.exists(ls => ls.isEmpty || ls.head != Header) =>
        s"$name: missing part file or header"
    }.orElse {
      val rows = files.map { case (name, per) => name -> per.flatMap(_.tail).sortBy(_.takeWhile(_ != ',')) }
      val total = rows.map(_._2.size.toLong).sum
      if (total != fx.expectedRows) Some(s"$total series rows, expected ${fx.expectedRows}")
      else rows.iterator.map { case (name, rs) => basinRows(name, rs, fx) }.collectFirst { case Some(e) => e }
    }
  }
}
