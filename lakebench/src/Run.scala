package lakebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.operators.GraftTable
import graft.sources.CdcSource
import graft.sync.CatalogSync
import graft.transform.Transform

/** One curated table: its key, storage type, transformer, stats columns
  * and the shape of the change files it receives. */
case class TableSpec(name: String, keys: Seq[String], tableType: String,
    compactEvery: Int = 0, transformer: Option[String] = None,
    statsColumns: Seq[String] = Seq.empty, shape: FlushShape)

/** `writeCycles` None: the write cycles are the timed window. Some(k): k
  * write cycles build the tables, then the query list is the window.
  * Each cdc cycle's read burst makes `burstLookups` lookups and
  * `burstAggregates` aggregates. */
case class Workload(name: String, tables: Seq[TableSpec], writeCycles: Option[Int],
    burstLookups: Int = 4, burstAggregates: Int = 3)

object Workloads {
  private val cow = GraftTable.CopyOnWrite
  private val mor = GraftTable.MergeOnRead
  private val ordersKey = Seq("o_orderkey")
  private val lineKey = Seq("l_orderkey", "l_linenumber")
  private val lineTransformer = Some(Reference.LineitemTransformer)

  val all: Map[String, Workload] = Seq(
    // every file touched: scan, latest-wins resolve and file write dominate
    Workload("cdc_uniform_cow", Seq(
      TableSpec("orders", ordersKey, cow, shape = FlushShape(0.01, recent = false)),
      TableSpec("lineitem", lineKey, cow, transformer = lineTransformer,
        shape = FlushShape(0.01, recent = false))), None,
      // COW cycles are slow, so each burst reads more to give the query
      // medians about as many samples as cdc_recent_mor's
      burstLookups = 6, burstAggregates = 4),
    // pruning leaves one file: per-commit fixed cost and compaction spikes
    Workload("cdc_recent_mor", Seq(
      TableSpec("orders", ordersKey, mor, compactEvery = 3,
        shape = FlushShape(0.005, recent = true)),
      TableSpec("customer", Seq("c_custkey"), mor, compactEvery = 3,
        shape = FlushShape(0.005, recent = true))), None),
    // read path only: MOR with outstanding logs, fragmented COW with stats
    Workload("lake_query", Seq(
      TableSpec("orders", ordersKey, mor, shape = FlushShape(0.005, recent = true)),
      TableSpec("customer", Seq("c_custkey"), cow, statsColumns = Seq("c_since"),
        shape = FlushShape(0.01, recent = true)),
      TableSpec("lineitem", lineKey, cow, transformer = lineTransformer,
        statsColumns = Seq("l_shipdate", "l_receiptdate"),
        shape = FlushShape(0.005, recent = true))), Some(1))
  ).map(w => w.name -> w).toMap
}

/** What a run measured, across all phases. */
final class Stats {
  val apply = mutable.ArrayBuffer[(String, Double)]()   // (table, seconds)
  val lookups = mutable.ArrayBuffer[Double]()
  val analytics = mutable.ArrayBuffer[Double]()
  val fullLoads = mutable.ArrayBuffer[Double]()
  var changeRows = 0L
  var changeBytes = 0L
  var committedBytes = 0L
  var attempted = 0
  var failed = 0
  var mismatches = 0
  var compactions = 0

  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"[lakebench] $what failed: $e")
      None
    }
  }

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      mismatches += 1
      System.err.println(s"[lakebench] MISMATCH: $what")
    }
  }
}

/** One copy of a workload's raw zone and tables under `dir`. */
final class Run(spark: SparkSession, wl: Workload, sf: Double, seed: Long,
    dir: Path, stats: Stats) {
  val customers: Long = math.max(10L, (150000 * sf).toLong)
  val orders: Long = math.max(20L, (1500000 * sf).toLong)
  /** File size scaled with the data so every table keeps the file count
    * it would have at sf0.1 with 1 MB files (orders: about 13). */
  val targetFileBytes: Long = math.max(16L << 10, ((1L << 20) * sf / 0.1).toLong)
  val zone = new RawZone(spark, dir.resolve("raw"), dir.resolve("staging"), seed)
  val states: Map[String, KeyState] =
    wl.tables.map(t => t.name -> new KeyState(t.name, seed, customers)).toMap
  private val rnd = new java.util.Random(Rows.mix(seed, 77))

  def root(t: TableSpec, tables: String = "tables"): String =
    dir.resolve(tables).resolve(t.name).toString

  def open(t: TableSpec, at: String): GraftTable =
    new GraftTable(spark, at, keyFields = t.keys, tableType = t.tableType,
      compactEvery = t.compactEvery, statsColumns = t.statsColumns,
      targetFileBytes = targetFileBytes)

  def landFullLoad(): Unit = wl.tables.foreach { t =>
    zone.fullLoad(states(t.name), if (t.name == "customer") customers else orders, customers)
  }

  /** The bulk-insert half of a pipeline run, as IngestJob does it; returns
    * the seconds spent in the bulk inserts. Tables loaded under any other
    * directory than "tables" are throwaway repeats, not synced. */
  def bulkLoad(tables: String = "tables"): Double = wl.tables.map { t =>
    val table = open(t, root(t, tables))
    val files = CdcSource.listDataFiles(spark, zone.dirOf(t.name))
    val df = graft.util.TsNorm.normalize(spark.read.parquet(files.map(_._2): _*))
    val batch = t.transformer.fold(df)(Transform.sql(spark, df, _))
    val t0 = System.nanoTime()
    Trace.span("operators.bulk_insert") {
      val c = table.bulkInsert(batch, Some(CdcSource.advanceWatermark(None, files)))
      Trace.count("bytes_written", c.extra.getOrElse("bytes_written", "0").toDouble)
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (tables == "tables") {
      CatalogSync.sync(spark, Bench.Database, t.name, table)
      graft.sql.GraftSql.register(spark, t.name, table)
    }
    s
  }.sum

  /** One table step, the call sequence of IngestJob.run for a delta run. */
  def step(t: TableSpec, flush: Flush, cycle: Int): Unit = {
    val t0 = System.nanoTime()
    val done = stats.attempt(s"${t.name} step in cycle $cycle") {
      Trace.span("step") {
        val (table, prevSeq) = Trace.span("model.open") {
          val g = open(t, root(t))
          (g, g.latestCommit().map(_.seq).getOrElse(-1L))
        }
        val (df, watermark) = Trace.span("sources.read_incremental") {
          Trace.count("files_listed", zone.filesPerTable(t.name))
          CdcSource.readIncremental(spark, zone.dirOf(t.name), table.latestCheckpoint())
            .getOrElse(throw new IllegalStateException("landed flush not listed"))
        }
        val batch = t.transformer.fold(df)(sql =>
          Trace.span("transform.sql")(Transform.sql(spark, df, sql)))
        Trace.span("operators.upsert")(table.upsert(batch, Some(watermark)))
        Trace.span("operators.clean") {
          Trace.count("files_deleted", table.clean(Bench.CleanerCommitsRetained))
        }
        Trace.span("operators.archive")(table.archive(Bench.KeepTimelineCommits))
        Trace.span("sync.catalog_sync")(CatalogSync.sync(spark, Bench.Database, t.name, table))
        (table, prevSeq)
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    done.foreach { case (table, prevSeq) =>
      stats.apply += ((t.name, seconds))
      stats.changeRows += flush.rows
      stats.changeBytes += flush.bytes
      // commit accounting, outside the timed step
      val commits = table.history(prevSeq, table.latestCommit().get.seq)
      def sumExtra(k: String) = commits.map(_.extra.getOrElse(k, "0").toDouble).sum
      val compacts = commits.count(_.action == "compact")
      stats.committedBytes += sumExtra("bytes_written").toLong
      stats.compactions += compacts
      Trace.lastSpan("operators.upsert").foreach { s =>
        val rewritten = sumExtra("files_rewritten")
        val considered = rewritten + sumExtra("files_carried")
        s.counts ++= Seq("bytes_written" -> sumExtra("bytes_written"),
          "files_rewritten_ratio" -> (if (considered > 0) rewritten / considered else 0.0),
          "rows_written_per_change" -> sumExtra("rows_written") / flush.rows,
          "compactions" -> compacts.toDouble)
      }
    }
  }

  /** Lands one flush per table and applies each; returns the flushes. */
  def writeCycle(cycle: Int): Seq[Flush] = wl.tables.map { t =>
    val f = zone.flush(states(t.name), t.shape, cycle)
    step(t, f, cycle)
    f
  }

  /** Times one catalog query and checks its rows against `expected`. */
  def query(kind: String, sql: String, expected: Int): Unit = {
    val t0 = System.nanoTime()
    val rows = stats.attempt(s"$kind query: $sql") {
      Trace.span(s"sql.$kind") {
        val df = Trace.span(s"sql.$kind.plan") {
          val d = spark.sql(sql)
          d.queryExecution.executedPlan
          d
        }
        Trace.span(s"sql.$kind.exec")(df.collect())
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    rows.foreach { rs =>
      (if (kind == "lookup") stats.lookups else stats.analytics) += seconds
      stats.check(s"$kind query result: $sql", Reference.rowsHash(rs) == expected)
      if (kind == "lookup")
        graft.sql.GraftScanMetrics.lastScan(s"graft.${tableOf(sql)}").foreach {
          case (admitted, total) =>
            Trace.lastSpan("sql.lookup").foreach(_.counts("files_admitted_ratio") =
              admitted.toDouble / math.max(1, total))
        }
    }
  }
  private def tableOf(sql: String): String = "graft\\.(\\w+)".r.findFirstMatchIn(sql).get.group(1)

  private def selectAll(st: KeyState) = st.schema.fieldNames.mkString(", ")

  /** The read burst after a write cycle: lookups of keys the cycle just
    * changed (deleted ones must come back empty) and three aggregates, all
    * checked against the generator's own model of the table. */
  def burst(flush: Flush): Unit = {
    val st = states(flush.table)
    val keyCol = st.schema.fieldNames.head
    (0 until wl.burstLookups).foreach { _ =>
      val k = flush.changedKeys(rnd.nextInt(flush.changedKeys.size))
      query("lookup", s"SELECT ${selectAll(st)} FROM graft.${st.name} WHERE $keyCol = $k",
        Reference.rowsHash(st.expected(k)))
    }
    // grouped count and sum, recomputed from the model (fields 2, 5, 4 and
    // 1 are o_orderstatus, o_orderpriority, o_orderdate and o_custkey; 3 is
    // o_totalprice). Spark's dayofweek counts from Sunday = 1.
    Seq[(String, Row => Any)](
      "o_orderstatus" -> (_.getString(2)),
      "o_orderpriority" -> (_.getString(5)),
      "year(o_orderdate)" -> (_.getDate(4).toLocalDate.getYear),
      "month(o_orderdate)" -> (_.getDate(4).toLocalDate.getMonthValue),
      "o_custkey % 10" -> (_.getLong(1) % 10),
      "dayofweek(o_orderdate)" -> (_.getDate(4).toLocalDate.getDayOfWeek.getValue % 7 + 1)
    ).take(wl.burstAggregates).foreach { case (group, key) =>
      val groups = mutable.HashMap[Any, (Long, java.math.BigDecimal)]()
      st.liveKeys.foreach { k =>
        val r = st.expected(k).get
        val (n, s) = groups.getOrElse(key(r), (0L, java.math.BigDecimal.ZERO))
        groups(key(r)) = (n + 1, s.add(r.getDecimal(3)))
      }
      query("analytic", s"SELECT $group, count(*), sum(o_totalprice) FROM graft.orders " +
        s"GROUP BY $group",
        Reference.rowsHash(groups.map { case (g, (n, s)) => Row(g, n, s) }))
    }
  }

  /** The read-only query list: seeded keys and ranges, fixed for the run. */
  def queryList(): Seq[(String, String)] = {
    val r = new java.util.Random(Rows.mix(seed, 91))
    def key(n: Long) = 1 + (r.nextDouble() * n).toLong
    def day(): String = java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2300)).toString
    val o = states("orders").maxKey
    val c = states("customer").maxKey
    val li = states("lineitem")
    val lookups = Seq.fill(3)(s"SELECT ${selectAll(states("orders"))} FROM graft.orders " +
      s"WHERE o_orderkey = ${key(o)}") ++
      Seq.fill(2)(s"SELECT * FROM graft.customer WHERE c_custkey = ${key(c)}") ++
      Seq.fill(2) { val ok = key(li.maxKey)
        s"SELECT * FROM graft.lineitem WHERE l_orderkey = $ok AND l_linenumber = 1" } ++
      Seq.fill(2) { val a = key(o)
        s"SELECT o_orderkey, o_totalprice, trx_seq FROM graft.orders " +
          s"WHERE o_orderkey BETWEEN $a AND ${a + 200}" } ++
      Seq { val a = key(li.maxKey)
        s"SELECT l_orderkey, l_linenumber, l_quantity FROM graft.lineitem " +
          s"WHERE l_orderkey BETWEEN $a AND ${a + 50}" } ++
      Seq { val d = day()
        s"SELECT l_orderkey, l_linenumber, l_net_price FROM graft.lineitem " +
          s"WHERE l_shipdate BETWEEN DATE'$d' AND DATE'$d' + INTERVAL 2 DAYS" } ++
      Seq { val d = day()
        s"SELECT c_custkey, c_acctbal FROM graft.customer " +
          s"WHERE c_since BETWEEN DATE'$d' AND DATE'$d' + INTERVAL 5 DAYS" }
    val analytics = Seq(
      "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM graft.orders GROUP BY o_orderstatus",
      "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), sum(l_extendedprice), " +
        "sum(l_net_price) FROM graft.lineitem GROUP BY l_returnflag, l_linestatus",
      "SELECT c_mktsegment, count(*), sum(c_acctbal) FROM graft.customer GROUP BY c_mktsegment",
      "SELECT c_mktsegment, count(*), sum(o_totalprice) FROM graft.orders o " +
        "JOIN graft.customer c ON o.o_custkey = c.c_custkey GROUP BY c_mktsegment",
      s"SELECT o_orderpriority, count(*), sum(l_extendedprice) FROM graft.lineitem l " +
        s"JOIN graft.orders o ON l.l_orderkey = o.o_orderkey WHERE l_shipdate >= DATE'${day()}' " +
        "GROUP BY o_orderpriority")
    lookups.map("lookup" -> _) ++ analytics.map("analytic" -> _)
  }

  private val references = mutable.HashMap[String, DataFrame]()

  /** Plain-Spark latest-wins over the raw zone, per table, cached: call it
    * only once every flush has landed. */
  def reference(t: TableSpec): DataFrame = references.getOrElseUpdate(t.name,
    Reference.latestWins(spark, zone.dirOf(t.name), t.keys,
      if (t.transformer.isDefined) Reference.lineitemDerived else identity).cache())

  /** Each table's snapshot against the reference, as row-multiset hashes. */
  def gate(injectMismatch: Boolean): Unit = wl.tables.foreach { t =>
    val ref0 = reference(t)
    val ref = if (injectMismatch) ref0.union(ref0.limit(1)) else ref0
    val cols = ref.columns.toSeq
    stats.attempt(s"${t.name} gate") {
      val eng = open(t, root(t)).readUser()
      stats.check(s"${t.name} snapshot vs latest-wins reference",
        Reference.tableHash(eng.select(cols.map(org.apache.spark.sql.functions.col): _*), cols) ==
          Reference.tableHash(ref, cols))
    }
  }

  /** Bytes under the table roots ÷ bytes of the same snapshots
    * bulk-loaded into fresh tables. */
  def spaceAmp(): Double = {
    val fresh = wl.tables.map { t =>
      val at = dir.resolve("fresh").resolve(t.name).toString
      open(t, at).bulkInsert(open(t, root(t)).readUser())
      Util.du(Paths.get(at))
    }.sum
    wl.tables.map(t => Util.du(Paths.get(root(t)))).sum.toDouble / fresh
  }

  def metaBytesFiles(): (Long, Long) = {
    val dirs = wl.tables.map(t => Paths.get(root(t), "_graft"))
    (dirs.map(Util.du).sum, dirs.map(Util.files).sum)
  }
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
    finally s.close()
  }
  private def regular(p: Path): Seq[Path] = if (!Files.exists(p)) Seq.empty else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }
  def du(p: Path): Long = regular(p).map(Files.size).sum
  def files(p: Path): Long = regular(p).size.toLong

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, samples). Below 21 samples no percentile above
    * the median qualifies, and the tail is the given `p50`. */
  def tail(xs: Seq[Double], p50: Double): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 21) (p50, 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
