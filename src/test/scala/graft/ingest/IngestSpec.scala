package graft.ingest

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalatest.funsuite.AnyFunSuite
import graft.geo.Geom

class AsciiGridSpec extends AnyFunSuite {
  val fixture: String =
    """ncols 3
      |nrows 3
      |xllcorner 100.0
      |yllcorner 200.0
      |cellsize 10.0
      |NODATA_value -1
      |1 2 3
      |4 5 6
      |7 8 9
      |""".stripMargin

  test("header parse + derived transform") {
    val h = AsciiGrid.parseBytes(fixture.getBytes(US_ASCII))._1
    assert(h.ncols == 3 && h.nrows == 3)
    assert(h.ulx == 100.0 && h.uly == 230.0)
    assert(h.xres == 10.0 && h.yres == -10.0)
    assert(h.nodata == -1.0)
  }

  test("full parse row-major from north") {
    val (_, cells) = AsciiGrid.parseBytes(fixture.getBytes(US_ASCII))
    val m = cells.toSeq
    assert(m.size == 9)
    assert(m.head == AsciiGrid.Cell(0, 0, 1.0)) // north-west corner
    assert(m.last == AsciiGrid.Cell(2, 2, 9.0))
  }

  test("window pushdown prunes rows and cols at parse time") {
    val (_, cells) = AsciiGrid.parseBytes(fixture.getBytes(US_ASCII),
      rowRange = Some((1, 3)), colRange = Some((0, 2)))
    val m = cells.toSeq
    assert(m.map(_.value) == Seq(4.0, 5.0, 7.0, 8.0))
  }

  test("whitespace-only trailing line is ignored, not parsed as a data row") {
    val (_, cells) = AsciiGrid.parseBytes((fixture + "   \n").getBytes(US_ASCII))
    assert(cells.size == 9)
  }

  test("render round-trips") {
    val h = AsciiGrid.Header(3, 3, 100, 200, 10, -1)
    val txt = AsciiGrid.render(h, Array(Array(1, 2, 3), Array(4, 5, 6), Array(7, 8, 9)))
    val (h2, cells) = AsciiGrid.parseBytes(txt.getBytes(US_ASCII))
    assert(h2 == h)
    assert(cells.size == 9)
  }
}

class ArchivesSpec extends AnyFunSuite {
  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(b); out.close(); bos.toByteArray
  }

  /** A tar of `members` in which member `i`'s header says type `flag`. */
  private def tarWithType(members: Seq[Archives.Member], i: Int, flag: Char): Array[Byte] = {
    val t = Archives.tar(members)
    val off = members.take(i).map(m => 512 + (m.bytes.length + 511) / 512 * 512).sum
    t(off + 156) = flag.toByte
    t
  }

  test("tar round-trip with padding and multiple members") {
    val members = Seq(
      Archives.Member("a-20180101_0050.asc", "hello grid".getBytes),
      Archives.Member("b-20180101_0150.asc", Array.fill[Byte](513)(7)),
      Archives.Member("c.txt", Array.emptyByteArray),
      Archives.Member("d.asc", Array.tabulate[Byte](1024)(i => (i % 251).toByte)))
    val plain = Archives.tar(members)
    for (raw <- Seq(plain, gz(plain))) {
      val out = Archives.untar(raw).toSeq
      assert(out.map(_.name) == members.map(_.name))
      assert(out.zip(members).forall { case (a, b) => a.bytes.sameElements(b.bytes) })
    }
  }

  test("gzip detection and decode") {
    val raw = "regnie line data".getBytes
    val got = Archives.expand("ra180101.gz", gz(raw)).toSeq
    assert(got.size == 1 && got.head.name == "ra180101")
    assert(got.head.bytes.sameElements(raw))
  }

  test("truncated tar fails loudly instead of zero-padding member bytes") {
    val full = Archives.tar(Seq(
      Archives.Member("grid.asc", Array.fill[Byte](1024)(5))))
    val truncated = java.util.Arrays.copyOf(full, 700) // header + partial data
    // a size field larger than the archive can hold fails before allocating
    val oversized = Seq("7777777777 ", "77777777777").map { field => // 1 GiB - 1, 8 GiB - 1
      val bad = full.clone()
      System.arraycopy(field.getBytes("US-ASCII"), 0, bad, 124, 11)
      bad
    }
    for (raw <- Seq(truncated, gz(truncated))) {
      val e = intercept[IllegalArgumentException](Archives.untar(raw).toSeq)
      assert(e.getMessage.contains("truncated"))
    }
    for (raw <- oversized.flatMap(t => Seq(t, gz(t)))) {
      val e = intercept[IllegalArgumentException](Archives.untar(raw).toSeq)
      assert(e.getMessage.contains("more than the archive can hold"))
    }
  }

  test("corrupt gzip surfaces a zip exception, not garbage members") {
    val bad = Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4, 5, 6, 7, 8)
    intercept[java.util.zip.ZipException](Archives.expand("x.gz", bad).toSeq)
    // valid gzip header, corrupt deflate data
    val badData = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 3, 1, 2, 3, 4, 5, 6, 7, 8)
    intercept[java.util.zip.ZipException](Archives.expand("x.tar.gz", badData).toSeq)
    // a .tar.gz whose CRC32 trailer does not match, read to its end
    val good = gz(Archives.tar(Seq(Archives.Member("grid.asc", "1 2 3".getBytes))))
    assert(Archives.untar(good).map(_.name).toSeq == Seq("grid.asc"))
    val badCrc = good.clone()
    badCrc(badCrc.length - 8) = (badCrc(badCrc.length - 8) ^ 1).toByte
    intercept[java.util.zip.ZipException](Archives.expand("x.tar.gz", badCrc).toSeq)
  }

  test("non-regular tar entries are skipped, with or without data") {
    val members = Seq(
      Archives.Member("dir/", Array.emptyByteArray),
      Archives.Member("pax", Array.fill[Byte](700)(1)),
      Archives.Member("grid.asc", "1 2".getBytes))
    val both = tarWithType(members, 1, 'x')
    both(156) = '5'.toByte
    for (raw <- Seq(both, gz(both)))
      assert(Archives.untar(raw).map(_.name).toSeq == Seq("grid.asc"))
  }

  test("peekFirstGrid reads only the first member: a truncated second member does not fail it") {
    val h = AsciiGrid.Header(4, 3, 1000, 2000, 1000, -1)
    val first = AsciiGrid.render(h, Array.fill(3, 4)(1.0)).getBytes
    val full = Archives.tar(Seq(
      Archives.Member("RW_20060101_0050.asc", first),
      Archives.Member("RW_20060101_0150.asc", Array.fill[Byte](2048)('7'))))
    // the first member whole, the second header, and 100 of its 2048 bytes
    val cut = gz(java.util.Arrays.copyOf(full, 512 + (first.length + 511) / 512 * 512 + 512 + 100))
    intercept[IllegalArgumentException](Archives.untar(cut).toSeq)
    val dir = java.nio.file.Files.createTempDirectory("peek")
    java.nio.file.Files.write(dir.resolve("RW-20060101.tar.gz"), cut)
    val meta = graft.api.RadoHydro.peekFirstGrid(dir.toString, "radolan")
    assert((meta.nrows, meta.ncols, meta.nodata) == ((3, 4, -1.0)))
    assert(meta.t.ulx == 1000.0 && meta.t.uly == 5000.0)
  }

  test("nested tar (monthly of daily) expands with two passes") {
    val daily = Archives.tar(Seq(Archives.Member("h1.asc", "x".getBytes)))
    val monthly = Archives.tar(Seq(Archives.Member("d1.tar", daily)))
    val level1 = Archives.expand("m.tar", monthly).toSeq
    assert(level1.map(_.name) == Seq("d1.tar"))
    val level2 = level1.flatMap(m => Archives.expand(m.name, m.bytes))
    assert(level2.map(_.name) == Seq("h1.asc"))
    // the RADOLAN layout: a plain monthly tar of gzipped daily tars
    val dailies = (1 to 2).map(d => Archives.Member(s"RW-2006010$d.tar.gz", gz(Archives.tar(Seq(
      Archives.Member(s"RW_2006010${d}_0050.asc", s"day $d".getBytes),
      Archives.Member(s"RW_2006010${d}_0150.asc", Array.fill[Byte](512)(d.toByte)))))))
    val hourly = Archives.expand("RW-200601.tar", Archives.tar(dailies))
      .flatMap(m => Archives.expand(m.name, m.bytes)).toSeq
    assert(hourly.map(_.name) == Seq("RW_20060101_0050.asc", "RW_20060101_0150.asc",
      "RW_20060102_0050.asc", "RW_20060102_0150.asc"))
    assert(new String(hourly(2).bytes) == "day 2" && hourly(3).bytes.forall(_ == 2))
  }
}

class RegnieSpec extends AnyFunSuite {
  test("normal line: 4-char fixed width splits on whitespace, -999 nodata") {
    val line = (1 to 611).map(i => f"${i % 900}%4d").mkString("")
    val vals = Regnie.parseLine(line.grouped(4).mkString(" ")) // explicit spacing
    assert(vals.length == 611)
    assert(vals(0) == 1 && vals(610) == 611 % 900)
  }

  test("fixed-width line without explicit separators still splits (right-aligned values)") {
    // right-aligned 4-char values: "   1   2  33" style parses via whitespace
    val line = Seq(1, 22, 333, -999, 55).map(v => f"$v%4d").mkString("")
    val vals = Regnie.parseLine(line)
    assert(vals.toSeq == Seq(1, 22, 333, -999, 55))
  }

  test("repair: 8-char concatenation (mod 4 == 0) splits into 4-char chunks") {
    // 1234 concatenated with 5678: "12345678" -> 1234, 5678
    val vals = Regnie.parseLine("  11 12345678  22")
    assert(vals.toSeq == Seq(11, 1234, 5678, 22))
  }

  test("repair: 7-char with leading '1' emits trailing 3 digits first (reference order quirk)") {
    // "1234567" head '1' -> append "567" THEN chunks of "1234"
    val vals = Regnie.parseLine("  11 1234567  22")
    assert(vals.toSeq == Seq(11, 567, 1234, 22))
  }

  test("repair: 7-char with leading '9' takes first 3 digits as a value") {
    // "9994567" head '9' -> "999" then "4567"
    val vals = Regnie.parseLine("  11 9994567  22")
    assert(vals.toSeq == Seq(11, 999, 4567, 22))
  }

  test("repair: '-' starts a new token; -999 concatenated with 1000") {
    // "-9991000" tokenizes to "-9991000"? no: '-' inserts a space before,
    // giving token "-9991000" (8 chars, mod4==0) -> "-999", "1000"
    val vals = Regnie.parseLine(" 11 -9991000 22")
    assert(vals.toSeq == Seq(11, -999, 1000, 22))
  }

  test("parseFile: drops nodata, maps grid positions, discards the trailer line") {
    val l1 = Seq(10, -999, 30).map(v => f"$v%4d").mkString("")
    val l2 = Seq(-999, 50, -999).map(v => f"$v%4d").mkString("")
    // real REGNIE files end with a metadata trailer the reference discards
    val cells = Regnie.parseFile(l1 + "\n" + l2 + "\nTRAILER METADATA\n").toSeq
    assert(cells == Seq(Regnie.Cell(0, 0, 10), Regnie.Cell(0, 2, 30), Regnie.Cell(1, 1, 50)))
  }

  test("REGNIE georeferencing constants") {
    // first cell center: 6°E - 10' ; north edge per radohydro.py:393-394
    assert(math.abs(Regnie.ulx + Regnie.xres / 2 - (6.0 - 10.0 / 60.0)) < 1e-12)
    assert(math.abs(Regnie.uly + Regnie.yres / 2 - (55.0 + 10.0 / 120.0)) < 1e-12)
  }
}

class ShpSpec extends AnyFunSuite {
  val examplesDir = "/root/reference/Examples"

  def available: Boolean = java.nio.file.Files.exists(java.nio.file.Paths.get(s"$examplesDir/einzugsgebiet.shp"))

  test("einzugsgebiet: 5 basins, attributes and shoelace areas match dbf") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/einzugsgebiet.shp")
    assert(layer.features.size == 5)
    val gridcodes = layer.features.map(_.attrs("gridcode"))
    assert(gridcodes == Seq(2L, 6L, 1L, 3L, 7L))
    // shoelace area (outer CCW convention) must match the dbf Shape_Area field
    layer.features.foreach { f =>
      val expected = f.attrs("Shape_Area").asInstanceOf[Double]
      assert(math.abs(Geom.area(f.geom) - expected) / expected < 1e-6,
        s"area ${Geom.area(f.geom)} vs dbf $expected")
    }
  }

  test("einzugsgebiet bbox matches FIXTURES.md") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/einzugsgebiet.shp")
    val boxes = layer.features.map(f => Geom.bbox(f.geom))
    val xmin = boxes.map(_._1).min; val ymin = boxes.map(_._2).min
    val xmax = boxes.map(_._3).max; val ymax = boxes.map(_._4).max
    assert(math.abs(xmin - 414439.42) < 0.01 && math.abs(ymin - 5625369.23) < 0.01)
    assert(math.abs(xmax - 420400.70) < 0.01 && math.abs(ymax - 5635532.16) < 0.01)
  }

  test("debug1x3: three 1km boxes with UTM attribute coords") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/radohydro_debug1x3.shp")
    assert(layer.features.size == 3)
    assert(layer.features.map(_.attrs("OBJECTID")) == Seq(1L, 2L, 3L))
    assert(layer.features.map(_.attrs("left")).forall(_ == 406000.0))
    assert(layer.features.map(_.attrs("bottom")) == Seq(5617800.0, 5618800.0, 5619800.0))
  }

  test("Mueglitz: single polygon, area field ~213.6 km^2") {
    assume(available)
    val layer = Shp.read(s"$examplesDir/Mueglitz_Basin.shp")
    assert(layer.features.size == 1)
    val f = layer.features.head
    assert(math.abs(f.attrs("AREA_QKM").asInstanceOf[Double] - 213.578339679975642) < 1e-9)
    // geometry is in EPSG:25833 meters; shoelace area should approximate AREA_QM
    val areaQm = f.attrs("AREA_QM").asInstanceOf[Double]
    assert(math.abs(Geom.area(f.geom) - areaQm) / areaQm < 0.01,
      s"geom area ${Geom.area(f.geom)} vs dbf $areaQm")
  }
}
