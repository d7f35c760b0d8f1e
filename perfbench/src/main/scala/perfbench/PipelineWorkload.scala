package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.api.RadoHydro
import graft.core.SpatialPipeline
import graft.ingest.{Archives, AsciiGrid}
import graft.out.CsvSink

/** The paper's pipeline, `RadoHydro.run` followed by the default
  * `CsvSink.writeScalable` write, one call at a time (closed loop, one
  * client), on the basins_dense input: two days of hourly 900x900 grids
  * (plus a day that arrives twice and archives outside the date range)
  * against 80 overlapping pentagon basins in a 50x50 km region. The clip
  * window is ~2.8k of the 810k cells, so every layer does real work: ingest
  * (gunzip, untar, skipping rows outside the window), the dedup shuffle, the
  * cell map, join, NaN gate, weights and (basinID, ts) aggregation, and a
  * sink that writes one directory per basin.
  */
object PipelineWorkload {

  val Spec: FixtureSpec = FixtureSpec(days = 2, histDays = 1, dupDays = 1, histBefore = 1,
    recentAfter = 1, basins = 80, regionKm = 50, radiusKm = (3.0, 6.0), regionNodataFrac = 0.02)

  def run(ctx: Main.Ctx, workload: String): SparkSession = {
    val report = ctx.report
    val t0 = System.nanoTime()
    val fx = Fixtures.ensure(ctx.work.resolve("fixtures"), workload, Spec, ctx.seed)
    report.note("fixture_s", (System.nanoTime() - t0) / 1e9)
    ctx.log(s"fixture ready: ${fx.dir}")
    report.note("sizes", fx.sizes.toMap)
    report.note("date_range", Seq(fx.startDate, fx.endDate))

    val cfg = RadoHydro.Config(shapeCrs = "radolan_m",
      startDate = Some(fx.startDate), endDate = Some(fx.endDate))
    val outRoot = ctx.work.resolve("out")
    var outN = 0
    def freshOut(): Path = { outN += 1; outRoot.resolve(s"$workload-$outN") }

    /** One operation: the pipeline call with its sink write. */
    def call(spark: SparkSession, out: Path): (RadoHydro.Result, Main.Timing) = ctx.timed {
      val res = RadoHydro.run(spark, fx.gridDir.toString, fx.shpPath.toString, cfg)
      CsvSink.writeScalable(res.series, out.toString)
      res
    }

    /** Times one call and checks its output (not timed). None if the call
      * threw; a call whose output fails the check keeps its timing and
      * counts as failed.
      */
    def measuredCall(spark: SparkSession): Option[(RadoHydro.Result, Main.Timing)] = {
      val out = freshOut()
      val outcome = try Right(call(spark, out)) catch { case e: Exception => Left(e.toString) }
      val error = outcome.fold(Some(_), _ => Checks.output(out, fx))
      report.op("pipeline call", error)
      Fixtures.deleteTree(out)
      ctx.log(outcome.fold(_ => "call threw",
        r => f"call ${r._2.wall}%.3f s wall, ${r._2.cpu}%.3f s cpu") + error.map(" FAILED: " + _).getOrElse(""))
      outcome.toOption
    }

    Fixtures.deleteTree(outRoot)
    // warm-up: one full call, untimed
    val spark = ctx.setUp { () =>
      val s = ctx.newSession()
      val out = freshOut()
      call(s, out)
      Fixtures.deleteTree(out)
      s
    }

    if (!ctx.traced) {
      val samples = scala.collection.mutable.ArrayBuffer.empty[Main.Timing]
      var last: Option[RadoHydro.Result] = None
      var attempts = 0
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      // at least 4 calls, so every run's figures come from the same stage of
      // JIT warm-up whatever the machine's speed
      while (attempts < 4 || System.nanoTime() < deadline) {
        attempts += 1
        measuredCall(spark).foreach { case (res, t) => samples += t; last = Some(res) }
      }
      if (samples.nonEmpty) {
        ctx.opTimes(samples.toSeq)
        val pipelineS = Stats.median(samples.map(_.wall).toSeq)
        report.metric("pipeline_s", pipelineS, "s")
        report.metric("cells_per_s", fx.cellsInRange / pipelineS, "cells/s")
      }
      last.foreach { res =>
        report.note("window_cells", res.window.nrows.toLong * res.window.ncols)
        report.note("cellmap_pairs", res.cellMap.count())
      }
    } else layers(ctx, workload, spark, fx, cfg, measuredCall, freshOut)
    Fixtures.deleteTree(outRoot)
    spark
  }

  /** The traced run: each layer through its public function, in its own
    * job group, then tracing overhead from alternating untraced and traced
    * calls.
    */
  private def layers(ctx: Main.Ctx, workload: String, spark: SparkSession, fx: Fixture,
      cfg: RadoHydro.Config, measuredCall: SparkSession => Option[(RadoHydro.Result, Main.Timing)],
      freshOut: () => Path): Unit = {
    val report = ctx.report
    val tracer = new Tracer(spark)
    def noop(df: DataFrame): Long = DigestSink.write(df, "layer").rows
    def mb(bytes: Long): Double = bytes / 1e6

    val (res, runS) = tracer.layer("api.RadoHydro.run") {
      RadoHydro.run(spark, fx.gridDir.toString, fx.shpPath.toString, cfg)
    }
    report.metric("api.RadoHydro.run_s", runS, "s")
    report.note("window_cells", res.window.nrows.toLong * res.window.ncols)

    val (scanRows, scanS) = tracer.layer("ingest.scan")(noop(res.values))
    val scan = tracer.groups.get("ingest.scan")
    report.metric("ingest.scan_s", scanS, "s")
    report.metric("ingest.scan.input_mb", mb(scan.inputBytes), "MB")
    report.metric("ingest.scan.rows", scanRows.toDouble, "count")
    report.metric("ingest.dedup.shuffle_mb", mb(scan.shuffleWriteBytes), "MB")

    val raw = RadoHydro.run(spark, fx.gridDir.toString, fx.shpPath.toString, cfg.copy(dedupeInputs = false))
    val (rawRows, _) = tracer.layer("ingest.scan.nodedup")(noop(raw.values))
    report.metric("ingest.dedup.dropped_rows", (rawRows - scanRows).toDouble, "count")
    report.metric("ingest.scan.window_ratio",
      rawRows.toDouble / fx.cellsInRange, "ratio")

    val (pairs, cellmapS) = tracer.layer("core.cellmap")(noop(res.cellMap))
    report.metric("core.cellmap_s", cellmapS, "s")
    report.metric("core.cellmap.pairs", pairs.toDouble, "count")

    // series over inputs the benchmark materialized first, so the layer is
    // timed without the raster scan under it
    val (inputs, _) = tracer.layer("bench.materialize") {
      val v = res.values.persist(StorageLevel.MEMORY_AND_DISK)
      val c = res.cellMap.persist(StorageLevel.MEMORY_AND_DISK)
      v.count(); c.count()
      (v, c)
    }
    val before = Trace.storageBytes(spark)
    val (series, seriesS) = tracer.layer("core.series") {
      val s = SpatialPipeline.weightedSeries(inputs._1, inputs._2, cfg.numerator)
      noop(s)
      s
    }
    val ser = tracer.groups.get("core.series")
    report.metric("core.series_s", seriesS, "s")
    report.metric("core.series.shuffle_mb", mb(ser.shuffleWriteBytes), "MB")
    report.metric("core.series.spill_mb", mb(ser.spillDiskBytes), "MB")
    report.metric("core.series.persist_mb", mb(Trace.storageBytes(spark) - before), "MB")

    val (materialized, _) = tracer.layer("bench.materialize") {
      val s = series.persist(StorageLevel.MEMORY_AND_DISK)
      s.count()
      s
    }
    val out = freshOut()
    val (_, sinkS) = tracer.layer("out.sink")(CsvSink.writeScalable(materialized, out.toString))
    report.metric("out.sink_s", sinkS, "s")
    val written = Files.walk(out).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    report.metric("out.sink.files", written.size.toDouble, "count")
    report.metric("out.sink.mb", mb(written.map(Files.size).sum), "MB")
    report.op("layered sink", Checks.output(out, fx))
    Fixtures.deleteTree(out)
    // only the benchmark's own materializations; the program's persists stay
    Seq(inputs._1, inputs._2, materialized).foreach(_.unpersist(blocking = true))

    for (l <- Seq("ingest.scan", "core.cellmap", "core.series", "out.sink")) {
      val g = tracer.groups.get(l)
      val wall = tracer.spanList.filter(_.name == l).map(s => (s.endNs - s.startNs) / 1e9).sum
      report.metric(s"$l.cpu_s", g.cpuNs / 1e9, "s")
      report.metric(s"$l.gc_s", g.gcMs / 1e3, "s")
      report.metric(s"$l.core_util", g.cpuNs / 1e9 / (wall * Main.Cores), "ratio")
    }

    kernels(report, fx, res)

    // tracing overhead: alternate untraced and traced calls
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedCalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    tracer.detach()
    for (on <- Seq(false, true, true, false)) {
      if (on) {
        tracer.attach()
        tracedCalls ++= tracer.layer("pipeline.call")(measuredCall(spark))._1.map(_._2.wall)
        tracer.detach()
      } else untraced ++= measuredCall(spark).map(_._2.wall)
    }
    report.metric("trace.overhead_frac", Stats.median(tracedCalls.toSeq) / Stats.median(untraced.toSeq) - 1, "ratio")
    report.note("overhead_samples_s", Map("untraced" -> untraced.toSeq, "traced" -> tracedCalls.toSeq))
    ctx.writeSpans(tracer, workload)
  }

  /** Single-threaded kernels, in the benchmark's own thread, on one in-range daily archive:
    * archive expansion, then the ASCII parse over the workload's window and
    * over the full grid.
    */
  private def kernels(report: Report, fx: Fixture, res: RadoHydro.Result): Unit = {
    val archive = Files.list(fx.gridDir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".tar.gz")).toSeq.sortBy(_.getFileName.toString).head
    val bytes = Files.readAllBytes(archive)
    val name = archive.getFileName.toString
    val expandTimes = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = Archives.expand(name, bytes).map(_.bytes.length.toLong).sum
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val rawBytes = expandTimes.head._1
    report.metric("ingest.kernel.gunzip_mb_per_s", rawBytes / 1e6 / Stats.median(expandTimes.map(_._2)), "MB/s")
    report.metric("ingest.kernel.raw_mb", rawBytes / 1e6, "MB")
    val members = Archives.expand(name, bytes).take(6).toSeq
    val w = res.window
    def parseAll(window: Boolean): (Long, Double) = {
      val t0 = System.nanoTime()
      val cells = members.map { m =>
        val (_, it) =
          if (window) AsciiGrid.parseBytes(m.bytes, Some((w.rowLo, w.rowHi)), Some((w.colLo, w.colHi)))
          else AsciiGrid.parseBytes(m.bytes)
        it.size.toLong
      }.sum
      (cells, (System.nanoTime() - t0) / 1e9)
    }
    val gridCells = members.size.toLong * Fixtures.Rows * Fixtures.Cols
    val (_, windowS) = parseAll(window = true)
    val (fullCells, fullS) = parseAll(window = false)
    report.metric("ingest.kernel.parse_window_cells_per_s", gridCells / windowS, "cells/s")
    report.metric("ingest.kernel.parse_full_cells_per_s", fullCells / fullS, "cells/s")
    report.metric("ingest.kernel.cells_parsed", fullCells.toDouble, "count")
    report.note("kernel_archive", name)
    report.note("kernel_members", members.size)
  }
}
