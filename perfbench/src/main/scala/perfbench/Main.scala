package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs the benchmark once: one workload, one seed, one mode.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --home <benchmark dir> --work <scratch dir> [--git-sha <sha>] [--source-sha <sha>]
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per metric, a `record`
  * line with the run record, and last a `PERFBENCH_RESULT` line with every
  * metric, the operation tally and whether every output check passed.
  */
object Main {
  val Cores = 4

  /** One timed step: wall seconds, CPU seconds of the whole JVM, and the
    * machine's steal share meanwhile (steal ÷ (busy + steal)).
    */
  final case class Timing(wall: Double, cpu: Double, steal: Double)

  /** Everything a workload needs from the run. */
  final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean,
      val home: Path, val work: Path, val report: Report) {

    private val t0 = System.nanoTime()

    /** Progress on stderr, stamped with seconds since the run started. */
    def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")

    /** A fresh local[4] session; stops the previous one first. */
    def newSession(): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
      val spark = SparkSession.builder()
        .master(s"local[$Cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

    /** Repeats `once` (session start plus warm-up) three times and records
      * the median as `setup_s`; returns the last, live session.
      */
    def setUp(once: () => SparkSession): SparkSession = {
      var spark: SparkSession = null
      val times = (1 to 3).map { _ =>
        val (s, t) = timed(once())
        spark = s
        log(f"set-up ${t.wall}%.2f s wall, ${t.cpu}%.2f s cpu, steal ${t.steal}%.2f")
        t
      }
      report.metric("setup_s", Stats.median(times.map(_.cpu)), "s")
      report.metric("setup_wall_s", Stats.median(times.map(_.wall)), "s")
      report.note("setup_cpu_s", times.map(_.cpu))
      report.note("setup_wall_s", times.map(_.wall))
      report.note("setup_steal_share", times.map(_.steal))
      report.note("calib_s", calib(spark))
      spark
    }

    /** Fixed 10M-row codegen aggregation (graft.Bench's calibration): its
      * idle time is data-independent, so contention shows in the record.
      */
    def calib(spark: SparkSession): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(10000000L).selectExpr("sum(id * 2 + 1) AS s").write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      once()
    }

    /** Writes the traced run's spans as JSON lines next to its record. */
    def writeSpans(tracer: Tracer, workload: String): Unit = {
      val p = work.resolve("runs").resolve(s"$workload-seed$seed-spans.jsonl")
      Files.createDirectories(p.getParent)
      Files.writeString(p, tracer.spansJson.mkString("", "\n", "\n"))
      report.note("spans", tracer.spanList.size)
      report.note("spans_file", work.getParent.getParent.relativize(p).toString)
    }

    /** Runs `body`; returns its result and its [[Timing]]. */
    def timed[T](body: => T): (T, Timing) = {
      val c0 = cpuTicks()
      val p0 = processCpuNs()
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - p0) / 1e9
      val share = (for ((b0, s0) <- c0; (b1, s1) <- cpuTicks())
        yield (s1 - s0).toDouble / math.max(1L, b1 - b0 + s1 - s0)).getOrElse(0.0)
      (r, Timing(wall, cpu, share))
    }

    /** Per-operation timings -> the end-to-end timing metrics, in CPU
      * seconds of the JVM, and their wall-time counterparts.
      */
    def opTimes(samples: Seq[Timing]): Unit = {
      val cpu = samples.map(_.cpu)
      val wall = samples.map(_.wall)
      report.metric("op_cpu_p50_s", Stats.median(cpu), "s")
      report.metric("op_cpu_mean_s", Stats.mean(cpu), "s")
      report.metric("op_cpu_p90_s", Stats.quantile(cpu, 0.9), "s")
      report.metric("op_p50_wall_s", Stats.median(wall), "s")
      report.metric("op_mean_wall_s", Stats.mean(wall), "s")
      report.metric("op_p90_wall_s", Stats.quantile(wall, 0.9), "s")
      report.note("op_cpu_s", cpu)
      report.note("op_wall_s", wall)
      report.note("op_steal_share", samples.map(_.steal))
      report.note("op_samples", samples.size)
    }
  }

  /** Per-layer metric names, in BENCHMARK.json order. A traced run reports
    * each one; a layer the workload does not exercise reads 0.
    */
  val PipelineLayers: Seq[(String, String)] = Seq(
    "api.RadoHydro.run_s" -> "s",
    "ingest.scan_s" -> "s",
    "ingest.scan.input_mb" -> "MB",
    "ingest.scan.rows" -> "count",
    "ingest.scan.window_ratio" -> "ratio",
    "ingest.dedup.shuffle_mb" -> "MB",
    "ingest.dedup.dropped_rows" -> "count",
    "ingest.kernel.gunzip_mb_per_s" -> "MB/s",
    "ingest.kernel.parse_window_cells_per_s" -> "cells/s",
    "ingest.kernel.parse_full_cells_per_s" -> "cells/s",
    "ingest.kernel.raw_mb" -> "MB",
    "ingest.kernel.cells_parsed" -> "count",
    "core.cellmap_s" -> "s",
    "core.cellmap.pairs" -> "count",
    "core.series_s" -> "s",
    "core.series.shuffle_mb" -> "MB",
    "core.series.spill_mb" -> "MB",
    "core.series.persist_mb" -> "MB",
    "out.sink_s" -> "s",
    "out.sink.files" -> "count",
    "out.sink.mb" -> "MB") ++
    Seq("ingest.scan", "core.cellmap", "core.series", "out.sink").flatMap { l =>
      Seq(s"$l.cpu_s" -> "s", s"$l.gc_s" -> "s", s"$l.core_util" -> "ratio")
    }

  val OperatorModules: Seq[String] = Seq("RelationalOps", "TextOps", "Dedup", "Similarity",
    "Clustering", "Multimodal", "StreamingOps", "AnalyticOps", "CurationOps", "GraphOps")

  val QueryLayers: Seq[(String, String)] =
    OperatorModules.flatMap { m =>
      Seq(s"operators.$m.plan_s" -> "s", s"operators.$m.exec_s" -> "s",
        s"operators.$m.shuffle_mb" -> "MB", s"operators.$m.spill_mb" -> "MB",
        s"operators.$m.jobs" -> "count")
    } ++ Seq(
      "operators.ArtifactCache.builds" -> "count",
      "operators.ArtifactCache.hits" -> "count",
      "operators.ArtifactCache.build_s" -> "s",
      "Tables.scan_mb" -> "MB")

  val CommonLayers: Seq[(String, String)] = Seq(
    "trace.overhead_frac" -> "ratio",
    "storage_left_mb" -> "MB",
    "failed_frac" -> "ratio")

  val AllLayers: Seq[(String, String)] = PipelineLayers ++ QueryLayers ++ CommonLayers

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val cpuStart = cpuTicks()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case other => sys.error(s"--trace must be 0 or 1, got $other")
    }
    val report = new Report
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val ctx = new Ctx(opt("seed").toLong, opt("seconds").toDouble, traced,
      Paths.get(opt("home")).toAbsolutePath, work, report)

    report.note("workload", workload)
    report.note("seed", ctx.seed)
    report.note("seconds", ctx.seconds)
    report.note("traced", traced)
    report.note("load_start", loadStart)
    report.note("contended", loadStart > 2.0)
    report.note("cpus", Cores)
    report.note("nproc", Runtime.getRuntime.availableProcessors)
    report.note("heap_max_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    report.note("jvm_args", java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(a => a.startsWith("-X")).toSeq)
    report.note("spark_version", org.apache.spark.SPARK_VERSION)
    report.note("java_version", System.getProperty("java.version"))
    report.note("git_sha", opts.get("git-sha").filter(_.nonEmpty))
    report.note("source_sha256", opts.get("source-sha").filter(_.nonEmpty))

    val spark = workload match {
      case "basins_dense" => PipelineWorkload.run(ctx, workload)
      case "query_suite" => QuerySuite.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    report.metric("storage_left_mb", Trace.storageBytes(spark) / 1e6, "MB")
    report.metric("failed_frac", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    report.note("calib_end_s", ctx.calib(spark))
    report.note("load_end", loadAvg())
    for ((busy0, steal0) <- cpuStart; (busy1, steal1) <- cpuTicks())
      report.note("steal_frac", (steal1 - steal0).toDouble / math.max(1L, busy1 - busy0 + steal1 - steal0))
    report.note("failures", report.failures.take(20))
    spark.stop()

    if (traced) AllLayers.foreach { case (n, u) =>
      if (!report.metrics.contains(n)) report.metric(n, 0.0, u)
    }
    report.metrics.foreach { case (n, (v, u)) => println(s"metric $n $v $u") }
    val record = report.record.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"record $record")
    val runs = work.resolve("runs")
    Files.createDirectories(runs)
    Files.writeString(runs.resolve(s"$workload-seed${ctx.seed}-trace${if (traced) 1 else 0}.json"), record + "\n")
    val metrics = report.metrics.map { case (n, (v, u)) =>
      s"${Report.json(n)}:{\"value\":${Report.json(v)},\"unit\":${Report.json(u)}}"
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${report.failed == 0},"attempted":${report.attempted},""" +
      s""""failed":${report.failed},"metrics":$metrics}""")
  }

  /** CPU nanoseconds of this JVM: every thread, the JIT compiler and the
    * garbage collector included.
    */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (busy, steal) jiffies of the machine from /proc/stat, where it
    * exists. Steal is time a virtual CPU wanted to run and the hypervisor
    * ran something else; busy is user, nice, system, irq and softirq.
    */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "US-ASCII")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((f(0) + f(1) + f(2) + f(5) + f(6), f(7)))
    } catch { case _: Exception => None }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
