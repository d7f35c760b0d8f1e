package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.ArtifactCache

/** The query suite: a fixed list of `SparkEntry.queries` names over the
  * committed sf0.01 corpus, once per iteration in a seed-permuted order,
  * each written through [[DigestSink]] (a noop sink that also digests the
  * rows) and checked against its committed digest.
  *
  * Every query is timed on its first execution in a warmed session: the JVM,
  * the session and the table scans are warm, the query's own plans and
  * generated code are not, as for a user running a batch of distinct
  * queries. A name `SparkEntry` no longer declares counts as a failed
  * operation, so a smaller surface never reads as a speed-up.
  */
object QuerySuite {

  final case class Entry(name: String, module: String, digest: String)

  private val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  def run(ctx: Main.Ctx): SparkSession = {
    val report = ctx.report
    val dataDir = ctx.home.resolve("data").resolve("sf0.01").toString
    val suite = Files.readAllLines(ctx.home.resolve("query_suite.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map { case Array(n, m, d) => Entry(n, m, d) }
    val rnd = new scala.util.Random(ctx.seed)
    val order = rnd.shuffle(suite)
    report.note("queries", suite.size)
    report.note("data", "perfbench/data/sf0.01")
    report.note("first_queries", order.take(5).map(_.name))

    val spark = ctx.setUp { () =>
      val s = ctx.newSession()
      Tables.foreach(t => noop(graft.Tables.table(s, dataDir, t)))
      noop(graft.Tables.events(s, dataDir))
      warmUp(s, dataDir)
      s
    }
    val declared = graft.SparkEntry.queries

    /** One operation: build the query, write it through the digest sink.
      * Returns its timing, or None if it is not declared or threw; a query
      * whose digest differs keeps its timing and counts as failed.
      */
    def runQuery(e: Entry): Option[Main.Timing] = {
      val (written, t) = ctx.timed(try {
        declared.get(e.name).toRight("not declared by SparkEntry")
          .map(fn => DigestSink.write(fn(spark, dataDir), e.name).digest)
      } catch { case x: Exception => Left(x.toString) })
      val error = written.fold(Some(_),
        got => if (got == e.digest) None else Some(s"digest $got, expected ${e.digest}"))
      report.op(e.name, error)
      written.toOption.map(_ => t)
    }

    if (!ctx.traced) {
      val samples = scala.collection.mutable.ArrayBuffer.empty[Main.Timing]
      val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      while (passes.isEmpty || System.nanoTime() < deadline) {
        val times = order.flatMap(runQuery)
        samples ++= times
        passes += times.map(_.wall).sum
      }
      report.note("passes", passes.size)
      if (samples.nonEmpty) {
        ctx.opTimes(samples.toSeq)
        report.metric("suite_s", Stats.median(passes.toSeq), "s")
        report.metric("query_p50_s", Stats.median(samples.map(_.wall).toSeq), "s")
        report.metric("query_p90_s", Stats.quantile(samples.map(_.wall).toSeq, 0.9), "s")
      }
    } else traced(ctx, spark, order, runQuery)
    spark
  }

  /** JIT warm-up for the planner, code generator, shuffle, sort and window
    * paths, with SQL of its own (no suite query, no artifact), so the first
    * queries of the seed-permuted order do not pay the JVM's warm-up.
    */
  private def warmUp(spark: SparkSession, dataDir: String): Unit = {
    Seq("lineitem", "orders", "customer", "documents", "nation").foreach { t =>
      graft.Tables.table(spark, dataDir, t).createOrReplaceTempView(s"warm_$t")
    }
    Seq(
      """SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev,
        |  avg(l.l_quantity) AS q FROM warm_lineitem l JOIN warm_orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate >= DATE '1995-01-01' GROUP BY o.o_orderpriority ORDER BY rev DESC""",
      """SELECT c_nationkey, c_custkey, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS r,
        |  sum(c_acctbal) OVER (PARTITION BY c_nationkey) AS t FROM warm_customer""",
      """SELECT w, count(*) AS n FROM (SELECT explode(split(lower(regexp_replace(text, '[^A-Za-z ]', ' ')), ' +')) AS w
        |  FROM warm_documents) GROUP BY w HAVING count(*) > 1 ORDER BY n DESC LIMIT 50""",
      """SELECT n.n_name, count(DISTINCT c.c_custkey) AS k, percentile_approx(c.c_acctbal, 0.5) AS m
        |  FROM warm_customer c JOIN warm_nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name"""
    ).foreach(q => noop(spark.sql(q.stripMargin)))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One traced pass, each query in its own job group, summed per module;
    * then tracing overhead from a warm sample run untraced and traced.
    */
  private def traced(ctx: Main.Ctx, spark: SparkSession, order: Seq[Entry],
      runQuery: Entry => Option[Main.Timing]): Unit = {
    val report = ctx.report
    val tracer = new Tracer(spark)
    val artifactsBefore = ArtifactCache.statsSnapshot
    final class ModuleTotals { var plan, exec, shuffle, spill, jobs = 0.0 }
    val modules = Main.OperatorModules.map(_ -> new ModuleTotals).toMap
    var scanBytes = 0L
    tracer.layer("query_suite.pass") {
      order.foreach { e =>
        val group = s"operators.${e.module}.${e.name}"
        tracer.plans.take()
        val (_, wall) = tracer.layer(group)(runQuery(e))
        val plan = tracer.plans.take()
        val g = tracer.groups.get(group)
        val m = modules(e.module)
        m.plan += plan
        m.exec += wall - plan
        m.shuffle += g.shuffleWriteBytes / 1e6
        m.spill += g.spillDiskBytes / 1e6
        m.jobs += g.jobs
        scanBytes += g.inputBytes
      }
    }
    modules.foreach { case (name, m) =>
      report.metric(s"operators.$name.plan_s", m.plan, "s")
      report.metric(s"operators.$name.exec_s", m.exec, "s")
      report.metric(s"operators.$name.shuffle_mb", m.shuffle, "MB")
      report.metric(s"operators.$name.spill_mb", m.spill, "MB")
      report.metric(s"operators.$name.jobs", m.jobs, "count")
    }
    val after = ArtifactCache.statsSnapshot
    def delta(f: ArtifactCache.ArtifactStats => Long): Double =
      after.map { case (k, a) => f(a) - artifactsBefore.get(k).map(f).getOrElse(0L) }.sum.toDouble
    report.metric("operators.ArtifactCache.builds", delta(_.builds), "count")
    report.metric("operators.ArtifactCache.hits", delta(_.hits), "count")
    report.metric("operators.ArtifactCache.build_s", delta(_.selfMillis) / 1e3, "s")
    report.metric("Tables.scan_mb", scanBytes / 1e6, "MB")

    // tracing overhead on a seeded sample of warm queries, in alternating order
    val sample = new scala.util.Random(ctx.seed + 1).shuffle(order).take(8)
    var untraced, tracedS = 0.0
    tracer.detach()
    for (on <- Seq(false, true, true, false)) {
      if (on) {
        tracer.attach()
        tracedS += sample.map(e => tracer.layer(s"overhead.${e.name}")(runQuery(e))._2).sum
        tracer.detach()
      } else untraced += sample.map(e => timed(runQuery(e))).sum
    }
    report.metric("trace.overhead_frac", tracedS / untraced - 1, "ratio")
    report.note("overhead_sample_s", Map("untraced" -> untraced, "traced" -> tracedS))
    ctx.writeSpans(tracer, "query_suite")
  }
}
