package graft.ingest

import java.nio.charset.StandardCharsets.US_ASCII

/** ESRI ASCII grid parser (SURVEY S6) — replaces the reference's
  * rasterio/GDAL decode (radohydro.py:211-222) with a dependency-free text
  * parser that supports **window pushdown**: callers pass the clip window
  * (row/col ranges) and rows outside it are skipped at parse time, mirroring
  * the reference's hand-rolled predicate pushdown (geotools.py:94, SURVEY X1).
  *
  * Header: `ncols nrows xllcorner yllcorner cellsize [nodata_value]`,
  * then `nrows` whitespace-separated data rows, row 0 = north.
  */
object AsciiGrid {

  /** Grid georeferencing: GDAL-style (ulx, xres, uly, yres), yres < 0. */
  final case class Header(
      ncols: Int, nrows: Int,
      xll: Double, yll: Double,
      cellsize: Double, nodata: Double) {
    def ulx: Double = xll
    def uly: Double = yll + nrows * cellsize
    def xres: Double = cellsize
    def yres: Double = -cellsize
  }

  final case class Cell(row: Int, col: Int, value: Double)

  /** Parse a grid straight from its bytes (tar members arrive as bytes),
    * optionally windowed, into (row, col, value) cells.
    *
    * Lines end at LF, CRLF or a lone CR; bytes <= 0x20 separate tokens; blank
    * lines are skipped. The header is the leading run of `key value` lines
    * whose key starts with a letter; further letter-led lines before the
    * first data row are skipped too. Data rows count from 0 (north) and may
    * be short: a row yields only the columns it has.
    *
    * The header is parsed eagerly, the cells lazily. Rows outside the window
    * are skipped by scanning for the line break; inside it, tokens left of
    * `c0` are skipped without number parsing and the row stops at `c1`.
    *
    * @param rowRange inclusive-exclusive [r0, r1) rows to keep (raster rows,
    *                 0 = north); None = [0, nrows).
    * @param colRange inclusive-exclusive [c0, c1) columns to keep;
    *                 None = [0, ncols).
    */
  def parseBytes(bytes: Array[Byte],
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None): (Header, Iterator[Cell]) = {
    val (h, dataStart) = header(bytes)
    val (r0, r1) = rowRange.getOrElse((0, h.nrows))
    val (c0, c1) = colRange.getOrElse((0, h.ncols))
    (h, new WindowCells(bytes, dataStart, r0, r1, math.max(c0, 0), c1))
  }

  private def isSpace(b: Byte): Boolean = (b & 0xff) <= 0x20
  private def isBreak(b: Byte): Boolean = b == '\n' || b == '\r'
  private def isLetter(b: Byte): Boolean = { val l = b | 0x20; l >= 'a' && l <= 'z' }

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && !isBreak(b(i))) i += 1
    i
  }

  /** First non-space byte at or after `from`, across line breaks. */
  private def skipSpace(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length && isSpace(b(i))) i += 1
    i
  }

  /** The header and the offset of the first data row. Only header lines are
    * decoded to strings.
    */
  private def header(b: Array[Byte]): (Header, Int) = {
    var ncols = -1; var nrows = -1
    var xll = Double.NaN; var yll = Double.NaN
    var xllCenter = Double.NaN; var yllCenter = Double.NaN
    var cs = Double.NaN; var nodata = Double.NaN
    var pos = 0
    var reading = true
    while (reading && pos < b.length) {
      val end = lineEnd(b, pos)
      val parts = new String(b, pos, end - pos, US_ASCII).trim.split("\\s+")
      if (parts.length == 2 && parts(0).headOption.exists(_.isLetter)) {
        parts(0).toLowerCase match {
          case "ncols"        => ncols = parts(1).toInt
          case "nrows"        => nrows = parts(1).toInt
          case "xllcorner"    => xll = parts(1).toDouble
          case "yllcorner"    => yll = parts(1).toDouble
          // legal ESRI variant: lower-left CELL CENTER instead of corner
          case "xllcenter"    => xllCenter = parts(1).toDouble
          case "yllcenter"    => yllCenter = parts(1).toDouble
          case "cellsize"     => cs = parts(1).toDouble
          case "nodata_value" => nodata = parts(1).toDouble
          case _              => ()
        }
        // CRLF is one line break: a blank line ends the header
        pos = if (end + 1 < b.length && b(end) == '\r' && b(end + 1) == '\n') end + 2 else end + 1
      } else reading = false
    }
    if (xll.isNaN && !xllCenter.isNaN) xll = xllCenter - cs / 2
    if (yll.isNaN && !yllCenter.isNaN) yll = yllCenter - cs / 2
    require(ncols > 0 && nrows > 0 && !cs.isNaN && !xll.isNaN && !yll.isNaN,
      s"bad ASCII grid header (ncols=$ncols nrows=$nrows cellsize=$cs xll=$xll yll=$yll)")
    // skip any further letter-led lines up to the first data row
    pos = skipSpace(b, math.min(pos, b.length))
    while (pos < b.length && isLetter(b(pos))) pos = skipSpace(b, lineEnd(b, pos))
    (Header(ncols, nrows, xll, yll, cs, nodata), pos)
  }

  /** 10^k for k <= 15, exact in binary64. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10)

  /** `Double.parseDouble` of b[s, e). Plain decimals of at most 15 digits
    * take the exact fast path (an exact integer divided by an exact power
    * of ten rounds once, as parseDouble does); anything else goes through
    * parseDouble itself.
    */
  private def toDouble(b: Array[Byte], s: Int, e: Int): Double = {
    var i = s
    val neg = b(i) == '-'
    if (neg) i += 1
    val intStart = i
    var m = 0L
    while (i < e && b(i) >= '0' && b(i) <= '9') { m = m * 10 + (b(i) - '0'); i += 1 }
    var digits = i - intStart
    var scale = 0
    if (digits > 0 && i < e && b(i) == '.') {
      i += 1
      val fracStart = i
      while (i < e && b(i) >= '0' && b(i) <= '9') { m = m * 10 + (b(i) - '0'); i += 1 }
      scale = i - fracStart
      digits += scale
    }
    if (i == e && digits > 0 && digits <= 15) {
      val v = m.toDouble / Pow10(scale)
      if (neg) -v else v
    } else java.lang.Double.parseDouble(new String(b, s, e - s, US_ASCII))
  }

  /** Cells of rows [r0, r1) x columns [c0, c1), from `start`, the first
    * byte of the first data row.
    */
  private final class WindowCells(b: Array[Byte], start: Int,
      r0: Int, r1: Int, c0: Int, c1: Int) extends Iterator[Cell] {
    private var pos = start // next unread byte
    private var row = 0     // data row at `pos`
    private var col = -1    // next column of the current row; -1 = between rows
    private var pending: Cell = null

    private def endRow(): Unit = {
      pos = skipSpace(b, lineEnd(b, pos))
      row += 1
      col = -1
    }

    private def advance(): Cell = {
      while (true) {
        if (col < 0) {
          if (pos >= b.length || row >= r1) return null
          if (row < r0) endRow() else col = 0
        } else if (col < c1 && pos < b.length && !isBreak(b(pos))) {
          val s = pos
          while (pos < b.length && !isSpace(b(pos))) pos += 1
          val c = col
          col += 1
          val cell = if (c >= c0) Cell(row, c, toDouble(b, s, pos)) else null
          while (pos < b.length && isSpace(b(pos)) && !isBreak(b(pos))) pos += 1
          if (cell != null) return cell
        } else endRow()
      }
      null
    }

    def hasNext: Boolean = {
      if (pending == null) pending = advance()
      pending != null
    }

    def next(): Cell = {
      if (!hasNext) throw new NoSuchElementException("no more cells")
      val c = pending
      pending = null
      c
    }
  }

  /** Render a grid to ASCII text (test fixtures + GeoTIFF-stub replacement). */
  def render(h: Header, values: Array[Array[Double]]): String = {
    val sb = new StringBuilder
    sb ++= s"ncols ${h.ncols}\nnrows ${h.nrows}\n"
    sb ++= s"xllcorner ${h.xll}\nyllcorner ${h.yll}\ncellsize ${h.cellsize}\n"
    sb ++= s"NODATA_value ${h.nodata}\n"
    values.foreach { row => sb ++= row.mkString(" "); sb += '\n' }
    sb.toString
  }
}
