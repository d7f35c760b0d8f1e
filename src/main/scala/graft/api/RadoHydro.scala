package graft.api

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, YearMonth}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cells, Grid, SpatialPipeline}
import graft.geo.{Crs, Geom}
import graft.ingest.{Archives, AsciiGrid, GeoTiff, Regnie, Shp}

/** The `radohydro()`-equivalent entry point (reference radohydro.py:503-546),
  * re-expressed as one lazy Spark plan:
  *
  *   binaryFile scan -> archive expand -> windowed raster parse (long rows)
  *     -> dedup (ts, row, col) -> broadcast-join basin/cell map -> NaN gate
  *     -> weights -> groupBy(basinID, ts) weighted sum -> sinks
  *
  * The clip window is computed once from the first grid's header + basin
  * bounds (reference X9/X1) and pushed into the parser as a row/col range.
  * Files, nested archives and members whose name-carried date is outside
  * the configured range are never inflated or parsed (the scan still reads
  * the bytes of an out-of-range top-level file). Each task inflates
  * its archive member by member; the parser skips rows outside the window
  * by scanning for line breaks and decodes only the tokens inside it, so no
  * full 900x900 grid of numbers is ever built. The basin dimension is read
  * driver-side (small shapefile), reprojected with closed-form CRS math, and
  * broadcast. Scale notes: the dedup of input readings (on by default)
  * shuffles the clipped window, never the raw raster; the other shuffles
  * carry aggregates: the NaN gate's per-cell counts and the final
  * (basinID, ts) aggregation, whose cardinality is |basins| x |timestamps|.
  */
object RadoHydro {

  final case class Config(
      datasource: String = "radolan",  // "radolan" | "regnie"
      startDate: Option[String] = None, // yyyyMMdd inclusive
      endDate: Option[String] = None,
      outCrs: String = "epsg:25833",
      shapeCrs: String = "epsg:25833",
      bufferCells: Int = 2,            // quirk Q7
      numerator: Double = 10.0,        // F7: 0.1 mm -> mm
      maskNodata: Boolean = true,      // false = faithful quirk Q1 (RADOLAN)
      dedupeInputs: Boolean = true)    // drop duplicate (ts,row,col) readings
                                       // (overlapping recent+historical archives
                                       // would otherwise double-count rainfall)

  final case class BasinInfo(basinID: Int, areaOut: Double, attrs: Map[String, Any],
      geomOut: Geom.Polygon)

  /** Grid metadata with independent x/y resolutions (REGNIE cells are
    * 1/60° x 1/120° — NOT square; ASCII grids are square by format).
    */
  final case class GridMeta(nrows: Int, ncols: Int, t: Grid.Transform, nodata: Double)

  final case class Result(series: DataFrame, basins: Seq[BasinInfo],
      window: Grid.Window, meta: GridMeta, attrOrder: Seq[String],
      cellMap: DataFrame, values: DataFrame)

  private def gridCrsNames(cfg: Config): (String, String, Double) = cfg.datasource match {
    // (CRS for windowing in raw units, CRS of cell/divided coords, divisor Q8)
    case "radolan" => ("radolan_m", "radolan_km", 1000.0)
    case "regnie"  => ("epsg:4326", "epsg:4326", 1.0)
    case other     => throw new IllegalArgumentException(s"unknown datasource $other")
  }

  private val radolanTsFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmm")

  /** LocalDateTime -> Timestamp pinned to UTC (Timestamp.valueOf would use
    * the JVM default zone and skew every label on non-UTC hosts — the
    * session timezone is UTC everywhere in this engine).
    */
  private def utcTs(ldt: LocalDateTime): Timestamp =
    Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))

  /** Python's %y pivot: 69-99 -> 19xx, 00-68 -> 20xx (radohydro.py:434).
    * Java's 'yy' (base 2000) would push 1999 data into 2099.
    */
  private def pivotYear(yy: Int): Int = if (yy >= 69) 1900 + yy else 2000 + yy

  private def digitsOf(name: String): String = name.replaceAll("[^0-9]", "")

  /** Digits-concat filename timestamp parse (reference radohydro.py:64-78).
    * REGNIE member names carry 2-digit years parsed with the %y pivot.
    */
  def parseMemberTs(datasource: String, name: String): Timestamp = {
    val digits = digitsOf(name)
    datasource match {
      case "radolan" =>
        utcTs(LocalDateTime.parse(digits.take(12), radolanTsFmt))
      case _ =>
        val d = LocalDate.of(pivotYear(digits.take(2).toInt),
          digits.slice(2, 4).toInt, digits.slice(4, 6).toInt)
        utcTs(d.atStartOfDay)
    }
  }

  /** The days, first to last, that a grid file or archive name covers, read
    * from the digits of the name (radohydro.py:64-78, 296-297).
    *
    *  - RADOLAN: 8 or more digits are the day `yyyyMMdd` (hourly members,
    *    daily archives); 6 or 7 are the month `yyyyMM` (monthly archives).
    *  - REGNIE: 6 or more digits are the day `yyMMdd`, with the %y pivot.
    *
    * None when the name carries no valid date; date pruning keeps such a name.
    */
  def nameDays(datasource: String, name: String): Option[(LocalDate, LocalDate)] = {
    val digits = digitsOf(name)
    def num(from: Int, until: Int): Int = digits.substring(from, until).toInt
    def month(year: Int, m: Int): Option[YearMonth] =
      if (m >= 1 && m <= 12) Some(YearMonth.of(year, m)) else None
    def day(year: Int, m: Int, d: Int): Option[(LocalDate, LocalDate)] =
      month(year, m).filter(ym => d >= 1 && d <= ym.lengthOfMonth)
        .map { ym => val day = ym.atDay(d); (day, day) }
    (datasource, digits.length) match {
      case ("radolan", n) if n >= 8 => day(num(0, 4), num(4, 6), num(6, 8))
      case ("radolan", n) if n >= 6 =>
        month(num(0, 4), num(4, 6)).map(ym => (ym.atDay(1), ym.atEndOfMonth))
      case ("regnie", n) if n >= 6 => day(pivotYear(num(0, 2)), num(2, 4), num(4, 6))
      case _ => None
    }
  }

  /** Whether a name can hold grids of [start, end] (inclusive days; None =
    * open): false only when its [[nameDays]] lie wholly outside the range.
    */
  def nameInRange(datasource: String, name: String,
      start: Option[LocalDate], end: Option[LocalDate]): Boolean =
    nameDays(datasource, name) match {
      case Some((first, last)) => start.forall(!last.isBefore(_)) && end.forall(!first.isAfter(_))
      case None => true // no date in the name: each member is checked by its own timestamp
    }

  /** Peek the first grid member in a directory (driver-side, reference X9:
    * the cell grid derives from the first grid only). Reads only as far as
    * the first member of the first file.
    */
  def peekFirstGrid(dir: String, datasource: String): GridMeta = {
    // regular files, without the hidden ones (`.`/`_` prefix) that Spark's
    // file listing skips
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    require(files.nonEmpty, s"no grid files in $dir")
    val bytes = java.nio.file.Files.readAllBytes(files.head.toPath)
    val members = Archives.expand(files.head.getName, bytes)
      .flatMap(m => Archives.expand(m.name, m.bytes))
    require(members.hasNext, s"no members in ${files.head}")
    val m = members.next()
    if (datasource == "regnie") {
      val text = new String(m.bytes, java.nio.charset.StandardCharsets.US_ASCII)
      // minus the discarded trailer line (radohydro.py:442)
      val lines = math.max(0, text.linesIterator.size - 1)
      GridMeta(lines, Regnie.ValuesPerLine,
        Grid.Transform(Regnie.ulx, Regnie.xres, Regnie.uly, Regnie.yres),
        Regnie.Nodata.toDouble)
    } else if (isTiff(m.name)) {
      val (t, _) = GeoTiff.parse(m.bytes, rowRange = Some((0, 0)))
      GridMeta(t.nrows, t.ncols, Grid.Transform(t.ulx, t.xres, t.uly, t.yres), t.nodata)
    } else {
      val h = AsciiGrid.parseBytes(m.bytes)._1
      GridMeta(h.nrows, h.ncols, Grid.Transform(h.ulx, h.xres, h.uly, h.yres), h.nodata)
    }
  }

  private def isTiff(name: String): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".tif") || n.endsWith(".tiff")
  }

  /** Run the pipeline. `gridDir` holds raster files (plain .asc, .tar,
    * .tar.gz or .gz members); `shpPath` the basin polygons.
    */
  def run(spark: SparkSession, gridDir: String, shpPath: String,
      cfg: Config = Config()): Result = {
    import spark.implicits._
    val (rawCrsName, cellCrsName, divisor) = gridCrsNames(cfg)
    val rawCrs = Crs.of(rawCrsName)
    val shapeCrs = Crs.of(cfg.shapeCrs)
    val outCrs = Crs.of(cfg.outCrs)

    // --- basin dimension (driver-side: small; broadcast below) -------------
    val layer = Shp.read(shpPath)
    val basinsRaw = layer.features.zipWithIndex.map { case (f, i) =>
      (i + 1, f.geom, f.attrs) // basinID in polygon order (geotools.py:213)
    }
    val basinInfos = basinsRaw.map { case (id, g, attrs) =>
      val gOut = Crs.reproject(g, shapeCrs, outCrs)
      BasinInfo(id, Geom.area(gOut), attrs, gOut) // Q10 area + output-CRS geometry
    }

    // --- window from first grid + basin bounds (X1/X9, Q6/Q7) --------------
    val meta = peekFirstGrid(gridDir, cfg.datasource)
    val t = meta.t
    val basinsRawCrs = basinsRaw.map { case (id, g, _) => (id, Crs.reproject(g, shapeCrs, rawCrs)) }
    val allBounds = {
      val bs = basinsRawCrs.map { case (_, g) => Geom.bbox(g) }
      (bs.map(_._1).min, bs.map(_._2).min, bs.map(_._3).max, bs.map(_._4).max)
    }
    val win = Grid.bufferedWindow(t, meta.nrows, meta.ncols, allBounds, cfg.bufferCells)
    val tShift = Grid.shifted(t, win)

    // --- basin -> cell map (grid-bucketed spatial join, J2) -----------------
    val basinsDf = basinsRawCrs.map { case (id, g) =>
      // cell coordinates are divided by `divisor` (Q8) — bring basins to the
      // same space: raw grid CRS coords / divisor == cellCrsName units
      (id, g.map(r => r.map(_ / divisor).toSeq).toSeq)
    }.toDF("basinID", "geom")
    val cellMap = SpatialPipeline.basinCellMap(
      basinsDf, tShift, win.nrows, win.ncols, divisor, cellCrsName, cfg.outCrs)

    // --- distributed raster scan with window pushdown -----------------------
    val ds = cfg.datasource
    val (rLo, rHi, cLo, cHi) = (win.rowLo, win.rowHi, win.colLo, win.colHi)
    val mask = cfg.maskNodata
    val (startDay, endDay) = (
      cfg.startDate.map(LocalDate.parse(_, DateTimeFormatter.BASIC_ISO_DATE)),
      cfg.endDate.map(LocalDate.parse(_, DateTimeFormatter.BASIC_ISO_DATE)))
    val (startTs, endTs) = (
      startDay.map(d => utcTs(d.atStartOfDay)), endDay.map(d => utcTs(d.atTime(23, 59))))
    val bin = spark.read.format("binaryFile").load(gridDir)
      .select("path", "content").as[(String, Array[Byte])]
    val values: Dataset[(Timestamp, Int, Int, java.lang.Double)] = bin.flatMap { case (path, bytes) =>
      val fname = path.substring(path.lastIndexOf('/') + 1)
      // P1 (radohydro.py:296-297): a file whose name-carried date is out of
      // range is not expanded
      if (!nameInRange(ds, fname, startDay, endDay)) Iterator.empty
      else Archives.expand(fname, bytes)
        // S4 inter-level pruning: a nested daily archive out of range is
        // skipped before it is inflated
        .filter(m => nameInRange(ds, m.name, startDay, endDay))
        .flatMap(m => Archives.expand(m.name, m.bytes))
        .flatMap { m =>
          val ts = parseMemberTs(ds, m.name)
          val inRange = startTs.forall(!ts.before(_)) && endTs.forall(!ts.after(_))
          if (!inRange) Iterator.empty
          else if (ds == "regnie") {
            val text = new String(m.bytes, java.nio.charset.StandardCharsets.US_ASCII)
            Regnie.parseFile(text, keepNodata = true,
                rowRange = Some((rLo, rHi))).flatMap { c =>
              if (c.col < cLo || c.col >= cHi) Iterator.empty
              else {
                val v: java.lang.Double =
                  if (c.value.isNaN) { if (mask) null else java.lang.Double.valueOf(Regnie.Nodata.toDouble) }
                  else java.lang.Double.valueOf(c.value)
                Iterator.single((ts, c.row - rLo, c.col - cLo, v))
              }
            }
          } else if (isTiff(m.name)) {
            val (t, cells) = GeoTiff.parse(m.bytes, Some((rLo, rHi)), Some((cLo, cHi)))
            cells.map { c =>
              val v: java.lang.Double =
                if (mask && c.value == t.nodata) null else java.lang.Double.valueOf(c.value)
              (ts, c.row - rLo, c.col - cLo, v)
            }
          } else {
            val (h, cells) = AsciiGrid.parseBytes(m.bytes, Some((rLo, rHi)), Some((cLo, cHi)))
            cells.map { c =>
              val v: java.lang.Double =
                if (mask && c.value == h.nodata) null else java.lang.Double.valueOf(c.value)
              (ts, c.row - rLo, c.col - cLo, v)
            }
          }
        }
    }
    // the values frame is already window-clipped, so this dedup shuffles only
    // the clipped working set, not the raw raster
    val valuesDf0 = values.toDF("ts", "row", "col", "v")
    val valuesDf =
      if (cfg.dedupeInputs) valuesDf0.dropDuplicates("ts", "row", "col") else valuesDf0

    // --- weighted aggregation (A2/A3/A4) ------------------------------------
    val series = SpatialPipeline.weightedSeries(valuesDf, cellMap, cfg.numerator)
    Result(series, basinInfos, win, meta, layer.fields.map(_._1), cellMap, valuesDf)
  }
}
