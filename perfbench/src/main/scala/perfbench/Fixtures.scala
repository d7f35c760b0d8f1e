package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import graft.ingest.Archives

/** Shape of one pipeline workload's synthetic RADOLAN input.
  *
  * The season is `days` in-range days. A "historical" monthly tar of daily
  * archives holds `histBefore` days before the range plus the first
  * `histDays` days of it; "recent" daily archives hold the rest of the range,
  * starting `dupDays` days early (those days appear in both), plus
  * `recentAfter` days after it. Archives and members outside the range are
  * the ones the date range leaves out.
  */
final case class FixtureSpec(
    days: Int,
    histDays: Int,
    dupDays: Int,
    histBefore: Int,
    recentAfter: Int,
    basins: Int,
    regionKm: Int,
    radiusKm: (Double, Double),
    regionNodataFrac: Double)

/** What a generated fixture holds and what a correct run must produce. */
final case class Fixture(
    dir: Path,
    gridDir: Path,
    shpPath: Path,
    startDate: String,
    endDate: String,
    expectedTs: Seq[String],
    constantHours: Map[String, Int],
    sizes: Seq[(String, Long)]) {

  def expectedRows: Long = sizes.toMap.apply("expected_series_rows")
  def basins: Int = sizes.toMap.apply("basins").toInt
  def cellsInRange: Long = sizes.toMap.apply("cells_in_range")
}

/** Seeded generator of hourly 900x900 ESRI-ASCII RADOLAN grids in daily
  * `.tar.gz` archives, plus pentagon basins written through the program's
  * own shapefile writer. The same (spec, seed) always gives the same bytes.
  */
object Fixtures {
  val Rows = 900
  val Cols = 900
  val CellM = 1000.0
  // full RADOLAN extent in polar-stereographic metres (the raw ASCII header CRS)
  val XllM = -523462.0
  val YllM = -4658645.0
  val UlyM: Double = YllM + Rows * CellM
  val Nodata = -1

  private val Day = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val Month = DateTimeFormatter.ofPattern("yyyyMM")
  private val TsOut = DateTimeFormatter.ofPattern("yyMMdd")

  /** Cached per (workload, seed) under `root`; generation is not timed. */
  def ensure(root: Path, workload: String, spec: FixtureSpec, seed: Long): Fixture = {
    val key = s"$workload-seed$seed-${Integer.toHexString(spec.hashCode)}"
    val dir = root.resolve(key)
    val manifest = dir.resolve("manifest.tsv")
    if (!Files.exists(manifest)) {
      pruneCache(root, keep = 12)
      val tmp = root.resolve(s".$key.tmp")
      deleteTree(tmp)
      generate(tmp, spec, seed)
      deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    load(dir)
  }

  private def pruneCache(root: Path, keep: Int): Unit = if (Files.isDirectory(root)) {
    val olds = Files.list(root).toArray.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
    olds.drop(keep - 1).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def load(dir: Path): Fixture = {
    val lines = new String(Files.readAllBytes(dir.resolve("manifest.tsv")), "UTF-8").linesIterator.toSeq
    val kv = lines.map(_.split("\t", -1)).collect { case Array(k, v) => k -> v }
    val m = kv.toMap
    Fixture(dir, dir.resolve("grids"), dir.resolve("basins").resolve("basins.shp"),
      m("start_date"), m("end_date"),
      m("expected_ts").split(",").toSeq,
      m("constant_hours").split(",").filter(_.nonEmpty).map { e =>
        val Array(ts, k) = e.split("="); ts -> k.toInt }.toMap,
      kv.collect { case (k, v) if !textKeys(k) => k -> v.toLong })
  }

  private val textKeys = Set("start_date", "end_date", "expected_ts", "constant_hours")

  private final case class Basin(cx: Double, cy: Double, ring: Array[Double])

  private def generate(dir: Path, spec: FixtureSpec, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + spec.hashCode)
    Files.createDirectories(dir.resolve("grids"))
    Files.createDirectories(dir.resolve("basins"))

    // --- season dates -------------------------------------------------------
    val start = LocalDate.of(2019, 1, 1).plusDays(20 + rnd.nextInt(300))
    val inRange = (0 until spec.days).map(start.plusDays(_))
    val histDates = (-spec.histBefore until spec.histDays).map(start.plusDays(_))
    val recentDates = (spec.histDays - spec.dupDays until spec.days + spec.recentAfter)
      .map(start.plusDays(_))

    // --- basins inside a seeded region --------------------------------------
    val margin = 12
    val regionCol = margin + rnd.nextInt(Cols - spec.regionKm - 2 * margin)
    val regionRow = margin + rnd.nextInt(Rows - spec.regionKm - 2 * margin)
    val regionX0 = XllM + regionCol * CellM
    val regionY1 = UlyM - regionRow * CellM
    val (rMin, rMax) = spec.radiusKm
    val basins = (0 until spec.basins).map { _ =>
      val r = (rMin + rnd.nextDouble() * (rMax - rMin)) * CellM
      val cx = regionX0 + r + rnd.nextDouble() * (spec.regionKm * CellM - 2 * r)
      val cy = regionY1 - r - rnd.nextDouble() * (spec.regionKm * CellM - 2 * r)
      val theta0 = rnd.nextDouble() * 2 * math.Pi
      val ring = (0 until 5).flatMap { k =>
        val a = theta0 + k * 2 * math.Pi / 5
        val rk = r * (0.75 + 0.25 * rnd.nextDouble())
        Seq(cx + rk * math.cos(a), cy + rk * math.sin(a))
      }.toArray
      Basin(cx, cy, ring)
    }
    def writeBasins(path: Path, bs: Seq[Basin]): Unit =
      graft.out.ShpWriter.write(path.toString, bs.map(b => Array(b.ring)),
        bs.indices.map(i => Map[String, Any]("BASIN_NO" -> (i + 1).toLong)), Seq("BASIN_NO"))
    writeBasins(dir.resolve("basins").resolve("basins.shp"), basins)

    // --- static nodata mask: blocks in the basin region so the NaN gate
    // drops cells, the rest elsewhere, ~0.5% of the grid in total ----------
    val nodata = new java.util.BitSet(Rows * Cols)
    def block(r0: Int, c0: Int, h: Int, w: Int): Unit =
      for (r <- r0 until math.min(Rows, r0 + h); c <- c0 until math.min(Cols, c0 + w)) nodata.set(r * Cols + c)
    val regionCells = spec.regionKm * spec.regionKm
    while (nodata.cardinality < spec.regionNodataFrac * regionCells) {
      val s = 1 + rnd.nextInt(3)
      block(regionRow + rnd.nextInt(spec.regionKm), regionCol + rnd.nextInt(spec.regionKm), s, s)
    }
    while (nodata.cardinality < Rows * Cols / 200) {
      val s = 2 + rnd.nextInt(9)
      block(rnd.nextInt(Rows), rnd.nextInt(Cols), s, s)
    }
    // every basin keeps the cell under its centre, so no basin is all-nodata
    basins.foreach { b =>
      val c = ((b.cx - XllM) / CellM).toInt
      val r = ((UlyM - b.cy) / CellM).toInt
      nodata.clear(r * Cols + c)
    }

    // --- constant-field hours: duplicated days and every third day ----------
    val dupDates = recentDates.toSet.intersect(histDates.toSet)
    val constantHours: Map[(LocalDate, Int), Int] = inRange.zipWithIndex.flatMap { case (d, i) =>
      val hours = (if (dupDates(d)) Seq(5, 17) else Seq()) ++ (if (i % 3 == 0) Seq(11) else Seq())
      hours.map(h => (d, h) -> (1 + rnd.nextInt(99)))
    }.toMap
    val regionSeed = rnd.nextLong()

    // --- archives, rendered on a small pool ---------------------------------
    val header = s"ncols $Cols\nnrows $Rows\nxllcorner $XllM\nyllcorner $YllM\ncellsize $CellM\nNODATA_value $Nodata\n"
      .getBytes("US-ASCII")
    def dayMembers(d: LocalDate): Seq[Archives.Member] = (0 until 24).map { h =>
      val grid = constantHours.get((d, h)) match {
        case Some(k) => Array.fill(Rows * Cols)(k)
        case None => rainField(new SplittableRandom(seed ^ (d.toEpochDay * 131 + h) * 0x2545F4914F6CDD1DL),
          regionRow, regionCol, spec.regionKm, regionSeed)
      }
      Archives.Member(s"RW_${d.format(Day)}_${"%02d".format(h)}50.asc", render(header, grid, nodata))
    }
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(b.length / 8)
      val gz = new GZIPOutputStream(bos, 1 << 16)
      gz.write(b); gz.close(); bos.toByteArray
    }
    val allDays = (histDates ++ recentDates).distinct.sortBy(_.toEpochDay)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rawBytes = new java.util.concurrent.ConcurrentHashMap[LocalDate, Long]()
    val dailies: Map[LocalDate, Array[Byte]] = try {
      val futures = allDays.map { d =>
        d -> pool.submit(new java.util.concurrent.Callable[Array[Byte]] {
          def call(): Array[Byte] = {
            val ms = dayMembers(d)
            rawBytes.put(d, ms.map(_.bytes.length.toLong).sum)
            gzip(Archives.tar(ms))
          }
        })
      }
      futures.map { case (d, f) => d -> f.get() }.toMap
    } finally pool.shutdown()
    val grids = dir.resolve("grids")
    recentDates.foreach(d => Files.write(grids.resolve(s"RW-${d.format(Day)}.tar.gz"), dailies(d)))

    histDates.groupBy(d => d.format(Month)).foreach { case (month, ds) =>
      val members = ds.sortBy(_.toEpochDay).map(d => Archives.Member(s"RW-${d.format(Day)}.tar.gz", dailies(d)))
      Files.write(grids.resolve(s"RW-$month.tar"), Archives.tar(members))
    }

    // --- manifest: expectations and sizes -----------------------------------
    val expectedTs = for (d <- inRange; h <- 0 until 24) yield s"${d.format(TsOut)}${"%02d".format(h)}50"
    val archives = Files.list(grids).toArray.map(_.asInstanceOf[Path])
    val membersInRange = (histDates.count(inRange.contains) + recentDates.count(inRange.contains)) * 24
    val sizes = Seq(
      "archives" -> archives.length.toLong,
      "members" -> ((histDates.size + recentDates.size) * 24).toLong,
      "members_in_range" -> membersInRange.toLong,
      "cells_in_range" -> membersInRange.toLong * Rows * Cols,
      "compressed_bytes" -> archives.map(Files.size).sum,
      "raw_bytes" -> (histDates ++ recentDates).map(rawBytes.get).sum,
      "basins" -> basins.size.toLong,
      "nodata_cells" -> nodata.cardinality.toLong,
      "expected_series_rows" -> basins.size.toLong * expectedTs.size)
    val lines = Seq(
      "start_date" -> inRange.head.format(Day),
      "end_date" -> inRange.last.format(Day),
      "expected_ts" -> expectedTs.mkString(","),
      "constant_hours" -> constantHours.toSeq.sortBy(e => (e._1._1.toEpochDay, e._1._2))
        .map { case ((d, h), k) => s"${d.format(TsOut)}${"%02d".format(h)}50=$k" }.mkString(",")) ++
      sizes.map { case (k, v) => k -> v.toString }
    Files.write(dir.resolve("manifest.tsv"), lines.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Mostly-zero hourly field with seeded rain patches (0.1 mm units): a
    * few dozen cells anywhere on the grid, and usually one over the basin
    * region so basins see rain.
    */
  private def rainField(rnd: SplittableRandom, regionRow: Int, regionCol: Int, regionKm: Int,
      regionSeed: Long): Array[Int] = {
    val g = new Array[Int](Rows * Cols)
    def patch(cr: Int, cc: Int, radius: Int, peak: Int): Unit = {
      val r2 = radius.toDouble * radius
      var r = math.max(0, cr - radius)
      while (r <= math.min(Rows - 1, cr + radius)) {
        var c = math.max(0, cc - radius)
        while (c <= math.min(Cols - 1, cc + radius)) {
          val d2 = (r - cr).toDouble * (r - cr) + (c - cc).toDouble * (c - cc)
          if (d2 < r2) {
            val v = (peak * (1.0 - d2 / r2)).toInt
            val i = r * Cols + c
            if (v > g(i)) g(i) = v
          }
          c += 1
        }
        r += 1
      }
    }
    val n = 10 + rnd.nextInt(20)
    for (_ <- 0 until n) patch(rnd.nextInt(Rows), rnd.nextInt(Cols), 4 + rnd.nextInt(30), 5 + rnd.nextInt(300))
    if (rnd.nextInt(10) < 7) {
      val half = regionKm / 2
      patch(regionRow + rnd.nextInt(regionKm), regionCol + rnd.nextInt(regionKm),
        3 + rnd.nextInt(math.max(1, half)), 5 + rnd.nextInt(200))
    }
    g
  }

  private def render(header: Array[Byte], grid: Array[Int], nodata: java.util.BitSet): Array[Byte] = {
    val out = new Array[Byte](header.length + Rows * Cols * 5)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    val digits = new Array[Byte](12)
    var r = 0
    while (r < Rows) {
      var c = 0
      while (c < Cols) {
        val i = r * Cols + c
        var v = if (nodata.get(i)) Nodata else grid(i)
        if (v < 0) { out(p) = '-'; p += 1; v = -v }
        if (v == 0) { out(p) = '0'; p += 1 }
        else {
          var n = 0
          while (v > 0) { digits(n) = ('0' + v % 10).toByte; v /= 10; n += 1 }
          while (n > 0) { n -= 1; out(p) = digits(n); p += 1 }
        }
        out(p) = (if (c == Cols - 1) '\n' else ' ').toByte
        p += 1
        c += 1
      }
      r += 1
    }
    java.util.Arrays.copyOf(out, p)
  }
}
