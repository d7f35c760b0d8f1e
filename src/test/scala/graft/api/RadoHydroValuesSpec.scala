package graft.api

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.TestSpark
import graft.geo.Geom
import graft.ingest.{Archives, StringAsciiGrid}

class NameDaysSpec extends AnyFunSuite {
  private def day(s: String) = LocalDate.parse(s)

  test("RADOLAN: 8 digits are a day, hourly members and daily archives alike") {
    assert(RadoHydro.nameDays("radolan", "RW-20191015.tar.gz") == Some((day("2019-10-15"), day("2019-10-15"))))
    assert(RadoHydro.nameDays("radolan", "RW_20191015_0050.asc") == Some((day("2019-10-15"), day("2019-10-15"))))
  }

  test("RADOLAN: 6 digits are a month, not a REGNIE yyMMdd day") {
    // read as yyMMdd, RW-200601 would be 2020-06-01
    assert(RadoHydro.nameDays("radolan", "RW-200601.tar") == Some((day("2006-01-01"), day("2006-01-31"))))
    assert(RadoHydro.nameDays("radolan", "RW-202002.tar") == Some((day("2020-02-01"), day("2020-02-29"))))
  }

  test("REGNIE: 6 digits are yyMMdd with the %y pivot") {
    assert(RadoHydro.nameDays("regnie", "ra990101.gz") == Some((day("1999-01-01"), day("1999-01-01"))))
    assert(RadoHydro.nameDays("regnie", "ra690101") == Some((day("1969-01-01"), day("1969-01-01"))))
    assert(RadoHydro.nameDays("regnie", "ra680101") == Some((day("2068-01-01"), day("2068-01-01"))))
  }

  test("names whose digits form no valid date carry no days") {
    assert(RadoHydro.nameDays("radolan", "RW-20191340.tar.gz").isEmpty)
    assert(RadoHydro.nameDays("radolan", "RW-20190230.tar.gz").isEmpty)
    assert(RadoHydro.nameDays("radolan", "RW-201913.tar").isEmpty)
    assert(RadoHydro.nameDays("radolan", "RW-2019.tar").isEmpty)
    assert(RadoHydro.nameDays("regnie", "ra991332.gz").isEmpty)
    assert(RadoHydro.nameDays("regnie", "readme.txt").isEmpty)
  }

  test("date pruning keeps overlapping and undated names, drops the rest") {
    val (s, e) = (Some(day("2006-01-02")), Some(day("2006-01-03")))
    assert(RadoHydro.nameInRange("radolan", "RW-200601.tar", s, e))
    assert(RadoHydro.nameInRange("radolan", "RW-20060103.tar.gz", s, e))
    assert(!RadoHydro.nameInRange("radolan", "RW-20060101.tar.gz", s, e))
    assert(!RadoHydro.nameInRange("radolan", "RW-200602.tar", s, e))
    assert(RadoHydro.nameInRange("radolan", "RW-20061340.tar.gz", s, e))
    assert(RadoHydro.nameInRange("radolan", "notes", s, e))
    assert(RadoHydro.nameInRange("radolan", "RW-20060101.tar.gz", None, None))
  }
}

/** `RadoHydro.run` at the values level on a generated RADOLAN directory: a
  * monthly plain tar of daily `.tar.gz`, daily `.tar.gz` at the top level, a
  * day that arrives twice, archives outside the date range and nodata cells,
  * with basins written by `ShpWriter`. The expected values come from every
  * generated member whose timestamp is in range, parsed with the String
  * parser, windowed, masked and deduplicated in plain Scala.
  */
class RadoHydroValuesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val (cols, rows) = (30, 24)
  private val (xll, yll) = (-200000.0, -4300000.0)
  private val uly = yll + rows * 1000.0

  private def value(d: LocalDate, hour: Int, r: Int, c: Int): Option[Int] =
    if ((r * 3 + c + hour) % 17 == 0) None else Some((r * 7 + c * 3 + d.getDayOfMonth * 11 + hour * 5) % 50)

  /** One hourly grid; line breaks, nodata and number spellings vary by day and hour. */
  private def grid(d: LocalDate, hour: Int): Array[Byte] = {
    val brk = if (d.getDayOfMonth % 2 == 0) "\r\n" else "\n"
    def token(v: Option[Int]): String = (v, hour % 2) match {
      case (None, 0) => "-1"
      case (None, _) => "-1.0"
      case (Some(x), 0) => x.toString
      case (Some(x), _) => "%.1f".formatLocal(java.util.Locale.ROOT, x / 10.0)
    }
    val header = Seq(s"ncols $cols", s"nrows $rows", s"xllcorner $xll", s"yllcorner $yll",
      "cellsize 1000", "NODATA_value -1")
    val data = (0 until rows).map(r => (0 until cols).map(c => token(value(d, hour, r, c))).mkString(" "))
    (header ++ data).mkString("", brk, brk).getBytes(US_ASCII)
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(b); out.close(); bos.toByteArray
  }

  private val hours = 0 until 3
  private def memberName(d: LocalDate, hour: Int) = f"RW_${d.toString.replace("-", "")}_$hour%02d50.asc"
  private def daily(d: LocalDate): Archives.Member =
    Archives.Member(s"RW-${d.toString.replace("-", "")}.tar.gz",
      gz(Archives.tar(hours.map(h => Archives.Member(memberName(d, h), grid(d, h))))))

  /** The fixture directory, the shapefile, and every hourly member written,
    * duplicates and out-of-range ones included.
    */
  private lazy val fixture: (Path, Path, Seq[(LocalDateTime, Array[Byte])]) = {
    val root = Files.createTempDirectory("rado_values")
    val grids = Files.createDirectories(root.resolve("grids"))
    def d(day: Int) = LocalDate.of(2006, 1, day)
    val monthly = Seq(d(1), d(2), d(10))
    val topLevel = Seq(d(2), d(3), d(5))
    // a glob metacharacter in a file name must not change what is read
    Files.write(grids.resolve("RW-200601[m].tar"), Archives.tar(monthly.map(daily)))
    topLevel.foreach { day =>
      val m = daily(day)
      Files.write(grids.resolve(m.name), m.bytes)
    }
    val written = for (day <- monthly ++ topLevel; h <- hours)
      yield (day.atTime(h, 50), grid(day, h))

    // two boxes and a pentagon, overlapping, inside the grid
    def box(c0: Double, r0: Double, c1: Double, r1: Double): Geom.Polygon =
      Array(Geom.boxRing(xll + c0 * 1000, uly - r1 * 1000, xll + c1 * 1000, uly - r0 * 1000))
    val pentagon: Geom.Polygon = Array((0 until 5).flatMap { k =>
      val a = 0.3 + k * 2 * math.Pi / 5
      Seq(xll + 15500 + 4200 * math.cos(a), uly - 12500 + 4200 * math.sin(a))
    }.toArray)
    val shp = root.resolve("basins.shp")
    graft.out.ShpWriter.write(shp.toString, Seq(box(8.3, 6.2, 14.7, 11.5), box(12.1, 9.4, 19.8, 15.9), pentagon),
      (1 to 3).map(i => Map[String, Any]("BASIN_NO" -> i.toLong)), Seq("BASIN_NO"))
    (grids, shp, written)
  }

  private def config(start: String, end: String) =
    RadoHydro.Config(shapeCrs = "radolan_m", startDate = Some(start), endDate = Some(end))

  test("values equal the String-parser oracle over all in-range members, deduplicated") {
    val (grids, shp, written) = fixture
    val res = RadoHydro.run(spark, grids.toString, shp.toString, config("20060101", "20060103"))
    val w = res.window
    val (from, to) = (LocalDate.of(2006, 1, 1).atStartOfDay, LocalDate.of(2006, 1, 3).atTime(23, 59))
    val expected = written.filter { case (t, _) => !t.isBefore(from) && !t.isAfter(to) }
      .flatMap { case (t, bytes) =>
        val ts = Timestamp.from(t.toInstant(ZoneOffset.UTC))
        val (h, cells) = StringAsciiGrid.parse(new String(bytes, US_ASCII),
          Some((w.rowLo, w.rowHi)), Some((w.colLo, w.colHi)))
        cells.map { c =>
          val v: java.lang.Double = if (c.value == h.nodata) null else java.lang.Double.valueOf(c.value)
          (ts, c.row - w.rowLo, c.col - w.colLo, v)
        }
      }.distinct
    val got = res.values.collect().toSeq.map { r =>
      (r.getTimestamp(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))
    }
    def counts[A](xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    assert(expected.size == 3 * hours.size * w.nrows * w.ncols)
    assert(expected.exists(_._4 == null), "fixture has nodata inside the window")
    assert(got.size == expected.size)
    assert(counts(got) == counts(expected))
    assert(res.series.select("ts").distinct().count() == 3 * hours.size)
  }

  test("a date range that prunes every archive gives an empty series") {
    val (grids, shp, _) = fixture
    val res = RadoHydro.run(spark, grids.toString, shp.toString, config("20070101", "20070131"))
    assert(res.values.count() == 0)
    assert(res.series.count() == 0)
  }
}
