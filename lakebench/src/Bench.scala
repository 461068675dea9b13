package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark client: one process, one closed-loop client, the
  * engine's layer calls made directly. Prints one JSON result line last.
  *
  * {{{
  *   lakebench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--scale <sf>] [--inject-mismatch 1]
  * }}}
  */
object Bench {
  val Database = "lakebench"
  /** Pipeline settings cleaner_commits_retained and keep_timeline_commits:
    * 3 retained commits are reached within the minimum window, where
    * space_amp is taken. */
  val CleanerCommitsRetained = 3
  val KeepTimelineCommits = 10
  val SetupRounds = 2
  /** Extra bulk loads of the last round's raw zone into throwaway tables,
    * so full_load_s is a median of four warm loads. */
  val RepeatLoads = 3
  val DefaultScale = 0.005
  /** Two task threads leave the other cores to the JVM's GC, JIT and
    * Spark's own threads, so a busy host stalls fewer stages. */
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.all.getOrElse(opts.getOrElse("workload", ""), {
      System.err.println(s"unknown workload; one of ${Workloads.all.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val sf = opts.get("scale").fold(DefaultScale)(_.toDouble)
    val work = Paths.get(opts("work")).toAbsolutePath
    Util.deleteTree(work)
    Files.createDirectories(work)
    val loadStart = Host.loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ok = try {
      val result = new Measure(spark, wl, sf, seed, seconds, traced, work,
        opts.get("inject-mismatch").contains("1")).run(sessionS)
      val host = Host.context(spark, sf, seed, loadStart)
      println(s"""{"detail":{"workload":"${wl.name}","traced":$traced,$host,${result.detail}}}""")
      println(result.json)
      result.correct
    } finally {
      spark.stop()
      Util.deleteTree(work)
    }
    if (!ok) sys.exit(1)
  }
}

case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], detail: String) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Host.num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Set-up, the timed window, the correctness gate and the metrics. */
final class Measure(spark: SparkSession, wl: Workload, sf: Double, seed: Long,
    seconds: Double, traced: Boolean, work: Path, injectMismatch: Boolean) {
  private val sc = spark.sparkContext
  private val stats = new Stats
  private def now = System.nanoTime()
  private def since(t0: Long) = (now - t0) / 1e9
  private val cdc = wl.writeCycles.isEmpty

  def run(sessionS: Double): Result = {
    val period = math.max(1, wl.tables.map(_.compactEvery).max)
    val minCycles = math.max(2, period)
    // set-up rounds: land the full load and bulk-load it. Round 1 also runs
    // write cycles and their reads, unmeasured, so later rounds and the
    // window run on warm code: on cdc_* one compaction period, which takes
    // the compaction path through the JIT too. Its cold bulk load is not a
    // full_load_s sample. The last round's tables are the measured ones.
    val landS = mutable.ArrayBuffer[Double]()
    var warmS = 0.0
    var r: Run = null
    (1 to Bench.SetupRounds).foreach { i =>
      if (r != null) Util.deleteTree(work.resolve(s"r${i - 1}"))
      r = new Run(spark, wl, sf, seed, work.resolve(s"r$i"), if (i == 1) new Stats else stats)
      val t0 = now
      r.landFullLoad()
      landS += since(t0)
      if (traced && i == Bench.SetupRounds) Trace.start(sc)
      if (i == Bench.SetupRounds) (1 to Bench.RepeatLoads).foreach { k =>
        stats.attempted += wl.tables.size
        stats.fullLoads += r.bulkLoad(s"repeat$k")
        Util.deleteTree(work.resolve(s"r$i").resolve(s"repeat$k"))
      }
      stats.attempted += wl.tables.size
      val load = r.bulkLoad()
      if (i > 1) stats.fullLoads += load
      if (i == 1) {
        val tWarm = now
        if (cdc) (1 to period).foreach(k => r.burst(r.writeCycle(k).head))
        else {
          r.writeCycle(0)
          r.queryList().foreach { case (k, q) => r.query(k, q, 0) }
        }
        warmS = since(tWarm)
      }
    }
    val run = r
    val setupS = sessionS + Util.median(landS.toSeq) + warmS

    // write cycles: the timed window on cdc_*, a fixed build on lake_query.
    // The window ends on the end of a whole compaction period (any cycle
    // on COW) that lies nearest to `seconds`, after at least two cycles.
    // Write and space amplification are taken at the end of the minimum
    // window, so they cover the same commits however fast the host runs
    // (on cdc_recent_mor, write_amp read 5.1 after 6 cycles, 6.2 after 3).
    var c = 0
    val ampCycles = if (cdc) minCycles else wl.writeCycles.get
    var writeAmp = 0.0
    var spaceAmp = 0.0
    val tWindow = now
    def windowOpen: Boolean = c < minCycles || c % period != 0 || {
      val elapsed = since(tWindow)
      elapsed + elapsed / (c / period) / 2 < seconds
    }
    while (if (cdc) windowOpen else c < wl.writeCycles.get) {
      c += 1
      Trace.cycle = c
      val fs = run.writeCycle(c)
      if (cdc) run.burst(fs.head)
      if (c == ampCycles) {
        writeAmp = stats.committedBytes.toDouble / math.max(1L, stats.changeBytes)
        spaceAmp = run.spaceAmp()
      }
    }

    var passes = 0
    if (!cdc) {
      Trace.stop(sc)
      wl.tables.foreach(t => run.reference(t).createOrReplaceTempView(s"ref_${t.name}"))
      val list = run.queryList()
      val expected = list.map { case (_, q) =>
        q -> Reference.rowsHash(spark.sql(q.replace("graft.", "ref_")).collect())
      }.toMap
      if (traced) Trace.start(sc)
      val qDeadline = now + (seconds * 1e9).toLong
      while (passes < 2 || now < qDeadline) {
        passes += 1
        Trace.cycle = c + passes
        list.foreach { case (k, q) => run.query(k, q, expected(q)) }
      }
    }
    Trace.stop(sc)
    val windowS = since(tWindow)

    val tGate = now
    run.gate(injectMismatch)
    val meta = run.metaBytesFiles()
    val gateS = since(tGate)

    val applyS = stats.apply.map(_._2).toSeq
    // each table's steps are one population; pooling tables of different
    // cost would make the median jump between them from run to run
    val applyP50 = Util.mean(
      stats.apply.groupBy(_._1).values.map(s => Util.median(s.map(_._2).toSeq)).toSeq)
    val (applyTail, applyPct, applyN) = Util.tail(applyS, applyP50)
    val lookupS = stats.lookups.toSeq
    val (lookupTail, lookupPct, lookupN) = Util.tail(lookupS, Util.median(lookupS))
    val analyticS = stats.analytics.toSeq
    val (analyticTail, analyticPct, analyticN) = Util.tail(analyticS, Util.median(analyticS))
    val bad = stats.failed + stats.mismatches
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("full_load_s", Util.median(stats.fullLoads.toSeq), "s"),
      ("apply_p50_s", applyP50, "s"),
      ("apply_tail_s", applyTail, "s"),
      ("change_rows_per_s", stats.changeRows / math.max(1e-9, applyS.sum), "rows/s"),
      ("write_amp", writeAmp, "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("lookup_p50_s", Util.median(lookupS), "s"),
      ("lookup_tail_s", lookupTail, "s"),
      ("analytic_p50_s", Util.median(analyticS), "s"),
      ("analytic_tail_s", analyticTail, "s"),
      ("ops_ok_ratio", (stats.attempted - bad).toDouble / math.max(1, stats.attempted), "ratio"))
    val metrics =
      if (traced) Layers.metrics(sc, meta, applyP50, work, s"${wl.name}-$seed") else endToEnd
    val detail =
      s""""session_s":${sessionS},"warmup_s":$warmS,"window_s":$windowS,"gate_s":$gateS,"land_s":[${landS.mkString(",")}],""" +
      s""""full_load_s":[${stats.fullLoads.mkString(",")}],"write_cycles":$c,"amp_cycles":$ampCycles,"query_passes":$passes,""" +
      s""""apply":{"n":$applyN,"tail_pct":$applyPct,"s":[${applyS.mkString(",")}]},"lookup":{"n":$lookupN,"tail_pct":$lookupPct,"s":[${lookupS.mkString(",")}]},""" +
      s""""analytic":{"n":$analyticN,"tail_pct":$analyticPct,"s":[${analyticS.mkString(",")}]},"compactions":${stats.compactions},""" +
      s""""change_rows":${stats.changeRows},"change_bytes":${stats.changeBytes},""" +
      s""""committed_bytes":${stats.committedBytes},"mismatches":${stats.mismatches},""" +
      s""""failed":${stats.failed},"attempted":${stats.attempted}"""
    Result(stats.failed == 0 && stats.mismatches == 0, stats.attempted, bad, metrics, detail)
  }
}

/** Per-layer metrics from the traced cycles: medians per call. */
object Layers {
  def metrics(sc: org.apache.spark.SparkContext, meta: (Long, Long), applyP50: Double,
      work: Path, name: String): Seq[(String, Double, String)] = {
    val totals = Trace.sparkTotals(sc)
    Trace.dump(work.getParent.resolve(s"trace-$name.jsonl"), totals)
    def calls(name: String) = Trace.spans.filter(_.name == name).toSeq
    def children(s: Span) = Trace.spans.filter(_.parent.contains(s))
    def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree).toSeq
    def spark(s: Span, f: SparkEvent => Long): Double =
      subtree(s).map(x => totals.get(x.id).fold(0L)(f)).sum.toDouble
    def med(name: String)(f: Span => Double) = Util.median(calls(name).map(f))
    def self(name: String) = med(name)(Trace.selfSeconds)
    def counted(name: String, key: String) = med(name)(_.counts.getOrElse(key, 0.0))
    val upserts = calls("operators.upsert")
    val compacting = upserts.filter(_.counts.getOrElse("compactions", 0.0) > 0)
    val cleans = calls("operators.clean")
    val timedOps = calls("step") ++ calls("sql.lookup") ++ calls("sql.analytic")
    Seq(
      ("sources.read_incremental.s", self("sources.read_incremental"), "s"),
      ("sources.files_listed", counted("sources.read_incremental", "files_listed"), "count"),
      ("transform.sql.s", self("transform.sql"), "s"),
      ("model.open.s", self("model.open"), "s"),
      ("model.meta_bytes", meta._1.toDouble, "bytes"),
      ("model.meta_files", meta._2.toDouble, "count"),
      ("operators.upsert.s", self("operators.upsert"), "s"),
      ("operators.upsert.jobs", med("operators.upsert")(spark(_, _.jobs)), "count"),
      ("operators.upsert.tasks", med("operators.upsert")(spark(_, _.tasks)), "count"),
      ("operators.upsert.input_bytes", med("operators.upsert")(spark(_, _.inputBytes)), "bytes"),
      ("operators.upsert.shuffle_bytes", med("operators.upsert")(spark(_, _.shuffleBytes)), "bytes"),
      ("operators.upsert.driver_bytes", med("operators.upsert")(spark(_, _.resultBytes)), "bytes"),
      ("operators.upsert.bytes_written", counted("operators.upsert", "bytes_written"), "bytes"),
      ("operators.upsert.files_rewritten_ratio",
        counted("operators.upsert", "files_rewritten_ratio"), "ratio"),
      ("operators.upsert.rows_written_per_change",
        counted("operators.upsert", "rows_written_per_change"), "ratio"),
      ("operators.compact.count", compacting.size.toDouble, "count"),
      ("operators.upsert_compacting.s", Util.median(compacting.map(_.seconds)), "s"),
      ("operators.clean.s", self("operators.clean"), "s"),
      ("operators.clean.files_deleted",
        cleans.map(_.counts.getOrElse("files_deleted", 0.0)).sum / math.max(1, cleans.size), "count"),
      ("operators.archive.s", self("operators.archive"), "s"),
      ("operators.bulk_insert.s", self("operators.bulk_insert"), "s"),
      ("operators.bulk_insert.jobs", med("operators.bulk_insert")(spark(_, _.jobs)), "count"),
      ("operators.bulk_insert.bytes_written", counted("operators.bulk_insert", "bytes_written"), "bytes"),
      ("sync.catalog_sync.s", self("sync.catalog_sync"), "s"),
      ("sql.lookup.plan_s", self("sql.lookup.plan"), "s"),
      ("sql.lookup.exec_s", self("sql.lookup.exec"), "s"),
      ("sql.lookup.files_admitted_ratio", counted("sql.lookup", "files_admitted_ratio"), "ratio"),
      ("sql.lookup.jobs", med("sql.lookup")(spark(_, _.jobs)), "count"),
      ("sql.analytic.plan_s", self("sql.analytic.plan"), "s"),
      ("sql.analytic.exec_s", self("sql.analytic.exec"), "s"),
      ("sql.analytic.input_bytes", med("sql.analytic")(spark(_, _.inputBytes)), "bytes"),
      ("sql.analytic.jobs", med("sql.analytic")(spark(_, _.jobs)), "count"),
      ("jvm.gc_s", Util.median(timedOps.map(_.gcMs / 1e3)), "s"),
      // apply_p50_s measured with tracing on: minus an untraced run's
      // apply_p50_s on the same seed, it is the tracing overhead
      ("trace.apply_p50_s", applyP50, "s"))
  }
}

/** Host context recorded with every result. */
object Host {
  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def read(p: String): String =
    try Files.readString(Paths.get(p)).trim catch { case _: Exception => "unavailable" }

  def context(spark: SparkSession, sf: Double, seed: Long, loadStart: Double): String =
    s""""nproc":${Runtime.getRuntime.availableProcessors},"local_cores":${Bench.cores},""" +
      s""""cgroup_cpu_max":"${read("/sys/fs/cgroup/cpu.max")}","loadavg_start":$loadStart,""" +
      s""""loadavg_end":${loadavg()},"jdk":"${System.getProperty("java.version")}",""" +
      s""""spark":"${spark.version}","scale_factor":$sf,"seed":$seed"""

  /** A JSON number with all its digits (JSON has no NaN). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}
