package graft.ingest

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The String-based ASCII grid parser that `AsciiGrid.parseBytes` replaced,
  * kept as the reference the byte parser is checked against: split into
  * lines, trim, regex-split every in-window row.
  */
object StringAsciiGrid {

  def parseHeader(text: String): AsciiGrid.Header = {
    var ncols = -1; var nrows = -1
    var xll = Double.NaN; var yll = Double.NaN
    var xllCenter = Double.NaN; var yllCenter = Double.NaN
    var cs = Double.NaN; var nodata = Double.NaN
    val it = text.linesIterator
    var reading = true
    while (reading && it.hasNext) {
      val line = it.next().trim
      val parts = line.split("\\s+")
      if (parts.length == 2 && parts(0).headOption.exists(c => c.isLetter)) {
        parts(0).toLowerCase match {
          case "ncols"        => ncols = parts(1).toInt
          case "nrows"        => nrows = parts(1).toInt
          case "xllcorner"    => xll = parts(1).toDouble
          case "yllcorner"    => yll = parts(1).toDouble
          case "xllcenter"    => xllCenter = parts(1).toDouble
          case "yllcenter"    => yllCenter = parts(1).toDouble
          case "cellsize"     => cs = parts(1).toDouble
          case "nodata_value" => nodata = parts(1).toDouble
          case _              => ()
        }
      } else reading = false
    }
    if (xll.isNaN && !xllCenter.isNaN) xll = xllCenter - cs / 2
    if (yll.isNaN && !yllCenter.isNaN) yll = yllCenter - cs / 2
    require(ncols > 0 && nrows > 0 && !cs.isNaN && !xll.isNaN && !yll.isNaN,
      s"bad ASCII grid header (ncols=$ncols nrows=$nrows cellsize=$cs xll=$xll yll=$yll)")
    AsciiGrid.Header(ncols, nrows, xll, yll, cs, nodata)
  }

  def parse(text: String,
      rowRange: Option[(Int, Int)] = None,
      colRange: Option[(Int, Int)] = None): (AsciiGrid.Header, Iterator[AsciiGrid.Cell]) = {
    val h = parseHeader(text)
    val (r0, r1) = rowRange.getOrElse((0, h.nrows))
    val (c0, c1) = colRange.getOrElse((0, h.ncols))
    val dataLines = text.linesIterator.filter(_.trim.nonEmpty).dropWhile { l =>
      val t = l.trim
      t.nonEmpty && t.head.isLetter
    }
    val cells = dataLines.zipWithIndex.flatMap { case (line, row) =>
      if (row < r0 || row >= r1) Iterator.empty
      else {
        val toks = line.trim.split("\\s+")
        Iterator.range(math.max(c0, 0), math.min(c1, toks.length)).map { col =>
          AsciiGrid.Cell(row, col, toks(col).toDouble)
        }
      }
    }
    (h, cells)
  }
}

/** Differential check: the byte parser against the String parser on
  * generated grids with mixed line breaks, blank lines, tabs, header
  * variants, short rows, edge-overlapping windows, number spellings and
  * malformed tokens.
  */
class AsciiGridBytesSpec extends AnyFunSuite {

  private val breaks = Gen.oneOf("\n", "\r\n", "\r")
  private val seps = Gen.oneOf(" ", "  ", "\t", " \t ")
  private val pads = Gen.oneOf("", "", " ", "\t", "  \t")

  private val token: Gen[String] = Gen.frequency(
    60 -> Gen.choose(0, 999).map(_.toString),
    30 -> Gen.oneOf("-1", "-1.0", "-0", "-0.0"),
    30 -> Gen.choose(-99999, 99999).map(v => "%.2f".formatLocal(java.util.Locale.ROOT, v / 100.0)),
    10 -> Gen.oneOf("1e3", "-2.5E-1", "0.1234567890123456789", "12345678901234567", "007", "3."),
    10 -> Gen.choose(-1e6, 1e6).map(_.toString),
    // malformed: both parsers must fail, and only when the token is in the window
    1 -> Gen.oneOf("x", "1,5", "--1", "-"))

  /** (text, rowRange, colRange) */
  private val case_ : Gen[(String, Option[(Int, Int)], Option[(Int, Int)])] = for {
    ncols <- Gen.choose(1, 7)
    nrows <- Gen.choose(1, 6)
    center <- Gen.oneOf(false, true)
    nodata <- Gen.oneOf("-1", "-1.0", "-999")
    headerBreak <- breaks
    blankInHeader <- Gen.frequency(9 -> false, 1 -> true)
    rows <- Gen.listOfN(nrows, for {
      n <- Gen.frequency(4 -> Gen.const(ncols), 1 -> Gen.choose(1, ncols))
      toks <- Gen.listOfN(n, token)
      sepList <- Gen.listOfN(n, seps)
      lead <- pads
      trail <- pads
      brk <- breaks
      blanks <- Gen.frequency(5 -> Gen.const(Nil), 1 -> Gen.listOfN(2, Gen.oneOf("", " ", "\t ")))
    } yield blanks.map(_ + brk).mkString + lead + toks.zip(sepList).map { case (t, s) => t + s }
      .mkString.dropRight(sepList.last.length) + trail + brk)
    rowWin <- Gen.option(for (a <- Gen.choose(-2, nrows + 1); b <- Gen.choose(a - 1, nrows + 3)) yield (a, b))
    colWin <- Gen.option(for (a <- Gen.choose(-2, ncols + 1); b <- Gen.choose(a - 1, ncols + 3)) yield (a, b))
  } yield {
    val (xk, yk) = if (center) ("xllcenter", "yllcenter") else ("xllcorner", "yllcorner")
    val header = Seq(s"ncols $ncols", s"nrows $nrows", s"$xk 100.5", s"$yk -200", "cellsize 1000.0",
      s"NODATA_value $nodata")
    val headerText =
      if (blankInHeader) header.take(2).mkString(headerBreak) + headerBreak + headerBreak +
        header.drop(2).mkString(headerBreak) + headerBreak
      else header.mkString(headerBreak) + headerBreak
    (headerText + rows.mkString, rowWin, colWin)
  }

  private def bits(h: AsciiGrid.Header) =
    (h.ncols, h.nrows, Seq(h.xll, h.yll, h.cellsize, h.nodata).map(java.lang.Double.doubleToLongBits))

  private def outcome(p: => (AsciiGrid.Header, Iterator[AsciiGrid.Cell])) =
    Try {
      val (h, cells) = p
      (bits(h), cells.map(c => (c.row, c.col, java.lang.Double.doubleToLongBits(c.value))).toVector)
    }.toEither.left.map(_.getClass)

  test("parseBytes matches the String parser on generated grids") {
    val prop = Prop.forAll(case_) { case (text, rows, cols) =>
      val want = outcome(StringAsciiGrid.parse(text, rows, cols))
      val got = outcome(AsciiGrid.parseBytes(text.getBytes(US_ASCII), rows, cols))
      (got == want) :| s"text=${text.replace("\r", "\\r").replace("\n", "\\n\n")}\nrows=$rows cols=$cols\ngot=$got\nwant=$want"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(org.scalacheck.rng.Seed(20061017L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
