package lakebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDate, ZoneOffset}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** TPC-H-shaped rows as a pure function of (seed, table, key, version):
  * the full load, every change file and the lookup model all call the
  * same function, so the expected row of a key never has to be stored. */
object Rows {
  private val Dec = DecimalType(15, 2)
  val Ordering = "trx_seq"
  val Deleted = "_hoodie_is_deleted"
  private val metaFields = Seq(
    StructField(Ordering, StringType), StructField(Deleted, BooleanType))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", Dec),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)) ++ metaFields)

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_address", StringType), StructField("c_nationkey", IntegerType),
    StructField("c_phone", StringType), StructField("c_acctbal", Dec),
    StructField("c_mktsegment", StringType), StructField("c_since", DateType),
    StructField("c_comment", StringType)) ++ metaFields)

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", Dec), StructField("l_extendedprice", Dec),
    StructField("l_discount", Dec), StructField("l_tax", Dec),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType), StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)) ++ metaFields)

  /** SplitMix64 finalizer over a running combination of the inputs. */
  def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      var z = h ^ x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h = z ^ (z >>> 31)
    }
    h
  }
  private def pick(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt
  private def money(h: Long, lo: Long, hi: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(lo + java.lang.Math.floorMod(h, hi - lo), 2)
  private val epoch = LocalDate.of(1992, 1, 1).toEpochDay
  private def date(h: Long, span: Int): java.sql.Date =
    java.sql.Date.valueOf(LocalDate.ofEpochDay(epoch + pick(h, span)))
  private val words = Array("furiously", "carefully", "final", "pending", "ironic",
    "regular", "express", "special", "deposits", "packages", "accounts", "requests",
    "theodolites", "pinto", "beans", "asymptotes", "quickly", "blithely", "slyly", "even")
  private def text(h: Long, n: Int): String =
    (0 until 3 + pick(h, n)).map(i => words(pick(mix(h, i), words.length))).mkString(" ")
  private val statuses = Array("O", "F", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val flags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")
  private val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  def seqString(trx: Long): String = f"$trx%020d"

  def orders(seed: Long, key: Long, version: Int, customers: Long,
      trx: Long, deleted: Boolean): Row = {
    val h = mix(seed, 1, key, version)
    Row(key, 1 + java.lang.Math.floorMod(mix(h, 1), customers),
      statuses(pick(mix(h, 2), 3)), money(mix(h, 3), 90000L, 50000000L),
      date(mix(h, 4), 2400), priorities(pick(mix(h, 5), 5)),
      f"Clerk#${pick(mix(h, 6), 1000)}%09d", 0, text(mix(h, 7), 6),
      seqString(trx), deleted)
  }

  def customer(seed: Long, key: Long, version: Int, trx: Long, deleted: Boolean): Row = {
    val h = mix(seed, 2, key, version)
    Row(key, f"Customer#$key%09d", text(mix(h, 1), 2), pick(mix(h, 2), 25),
      f"${10 + pick(mix(h, 3), 25)}-${pick(mix(h, 4), 900) + 100}-${pick(mix(h, 5), 9000) + 1000}",
      money(mix(h, 6), -99999L, 999999L), segments(pick(mix(h, 7), 5)),
      date(mix(h, 8), 2400), text(mix(h, 9), 8), seqString(trx), deleted)
  }

  /** Lines per order, fixed per order key for the whole run. */
  def linesOf(seed: Long, orderKey: Long): Int = 1 + pick(mix(seed, 3, orderKey), 7)

  /** Line item keys pack (order key, line number) into one long. */
  def lineKey(orderKey: Long, line: Int): Long = orderKey * 8 + line

  def lineitem(seed: Long, key: Long, version: Int, trx: Long, deleted: Boolean): Row = {
    val h = mix(seed, 4, key, version)
    val ship = date(mix(h, 8), 2400)
    val qty = 1 + pick(mix(h, 4), 50)
    Row(key / 8, (key % 8).toInt, 1 + pick(mix(h, 1), 20000).toLong,
      1 + pick(mix(h, 2), 1000).toLong, java.math.BigDecimal.valueOf(qty * 100L, 2),
      money(mix(h, 5), 90000L, 10000000L), java.math.BigDecimal.valueOf(pick(mix(h, 6), 11), 2),
      java.math.BigDecimal.valueOf(pick(mix(h, 7), 9), 2),
      flags(pick(mix(h, 9), 3)), lineStatuses(pick(mix(h, 10), 2)),
      ship, java.sql.Date.valueOf(ship.toLocalDate.plusDays(pick(mix(h, 11), 60) - 30)),
      java.sql.Date.valueOf(ship.toLocalDate.plusDays(1 + pick(mix(h, 12), 30))),
      modes(pick(mix(h, 13), 7)), text(mix(h, 14), 5), seqString(trx), deleted)
  }
}

/** What the generator knows about one table: the live key space and, for
  * every key a change file touched, its latest version and `trx_seq`.
  * Untouched keys are at version 0 with the full load's all-zero seq. */
final class KeyState(val name: String, val seed: Long, val customers: Long) {
  val version = mutable.HashMap[Long, Int]()
  val trx = mutable.HashMap[Long, Long]()
  val dead = mutable.HashSet[Long]()
  /** Highest order key (line items) or key (orders, customer) loaded. */
  var maxKey = 0L

  def isLineitem: Boolean = name == "lineitem"

  def row(key: Long, ver: Int, seq: Long, deleted: Boolean): Row = name match {
    case "orders" => Rows.orders(seed, key, ver, customers, seq, deleted)
    case "customer" => Rows.customer(seed, key, ver, seq, deleted)
    case "lineitem" => Rows.lineitem(seed, key, ver, seq, deleted)
  }

  /** The row a correct table holds for `key`, or None once deleted. */
  def expected(key: Long): Option[Row] =
    if (dead(key)) None
    else Some(row(key, version.getOrElse(key, 0), trx.getOrElse(key, 0L), false))

  def liveKeys: Iterator[Long] =
    if (isLineitem) (1L to maxKey).iterator
      .flatMap(o => (1 to Rows.linesOf(seed, o)).map(Rows.lineKey(o, _)))
      .filterNot(dead)
    else (1L to maxKey).iterator.filterNot(dead)

  def schema: StructType = name match {
    case "orders" => Rows.ordersSchema
    case "customer" => Rows.customerSchema
    case "lineitem" => Rows.lineitemSchema
  }
}

/** How a change file picks its keys. `fraction` is the share of the
  * table's key space one file changes; `recent` confines updates and
  * deletes to the newest 5% of keys. */
case class FlushShape(fraction: Double, recent: Boolean)

/** One change file as the engine will see it, plus what the benchmark
  * needs to check and account for it. */
case class Flush(table: String, rows: Int, bytes: Long, changedKeys: Seq[Long])

/** The DMS-shaped raw zone: gzip parquet under `<zone>/<table>/<date>/`,
  * each file given its landing time as mtime before an atomic move into
  * the zone (the incremental source's watermark is (mtime, path)). */
final class RawZone(spark: SparkSession, val root: Path, staging: Path, seed: Long) {
  private var landed = 0
  /** Even numbers for in-order events; a late event takes its key's
    * stored seq minus one, which no in-order event can hold. */
  private var nextTrx = 2L
  private val landingEpochMs = Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  val filesPerTable = mutable.HashMap[String, Int]().withDefaultValue(0)

  def dirOf(table: String): String = root.resolve(table).toString

  private def land(table: String, rows: java.util.List[Row], schema: StructType,
      name: String): Long = {
    val tmp = staging.resolve(s"w$landed")
    spark.createDataFrame(rows, schema).coalesce(1).write
      .option("compression", "gzip").parquet(tmp.toString)
    landAll(table, tmp, name)
  }

  /** Moves the part files Spark wrote under `tmp` into the zone, each with
    * the next landing time; returns their bytes. */
  private def landAll(table: String, tmp: Path, name: String): Long = {
    val parts = Files.list(tmp).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sorted
    var bytes = 0L
    parts.zipWithIndex.foreach { case (p, i) =>
      landed += 1
      val at = landingEpochMs + landed * 60000L
      val day = LocalDate.ofInstant(Instant.ofEpochMilli(at), ZoneOffset.UTC)
      val dir = root.resolve(table).resolve(day.toString)
      Files.createDirectories(dir)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(at))
      bytes += Files.size(p)
      Files.move(p, dir.resolve(f"$name-$i%03d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      filesPerTable(table) += 1
    }
    Util.deleteTree(tmp)
    bytes
  }

  /** DMS full load: every key at version 0, written by Spark in parallel. */
  def fullLoad(st: KeyState, keys: Long, customers: Long): Long = {
    val s = seed
    val name = st.name
    val rdd = spark.sparkContext.range(1L, keys + 1, 1L, Bench.cores).flatMap { k =>
      name match {
        case "orders" => Iterator(Rows.orders(s, k, 0, customers, 0L, false))
        case "customer" => Iterator(Rows.customer(s, k, 0, 0L, false))
        case "lineitem" => (1 to Rows.linesOf(s, k)).iterator
          .map(l => Rows.lineitem(s, Rows.lineKey(k, l), 0, 0L, false))
      }
    }
    st.maxKey = keys
    val tmp = staging.resolve(s"full-$name")
    spark.createDataFrame(rdd, st.schema).write.option("compression", "gzip")
      .parquet(tmp.toString)
    landAll(name, tmp, "LOAD")
  }

  /** One CDC flush: updates (some repeated within the file), deletes,
    * inserts past the current maximum key, and late events whose seq is
    * older than the stored row's. */
  def flush(st: KeyState, shape: FlushShape, cycle: Int): Flush = {
    val rnd = new java.util.Random(Rows.mix(seed, cycle, st.name.hashCode))
    val span = st.maxKey
    val n = math.max(4, (span * shape.fraction).toInt)
    val lo = if (shape.recent) math.max(1L, span - span / 20) else 1L
    def someLiveKey(): Option[Long] = (0 until 20).iterator.map { _ =>
      val o = lo + (rnd.nextDouble() * (span - lo + 1)).toLong
      if (st.isLineitem) Rows.lineKey(o, 1 + rnd.nextInt(Rows.linesOf(seed, o))) else o
    }.find(k => !st.dead(k))
    val out = new java.util.ArrayList[Row]()
    val changed = mutable.LinkedHashSet[Long]()
    def emit(k: Long, deleted: Boolean): Unit = {
      val v = st.version.getOrElse(k, 0) + 1
      st.version(k) = v
      st.trx(k) = nextTrx
      out.add(st.row(k, v, nextTrx, deleted))
      nextTrx += 2
      if (deleted) st.dead += k
      changed += k
    }
    val inserts = math.max(1, n / 10)
    val deletes = math.max(1, n / 20)
    val late = math.max(1, n / 50)
    (0 until n - inserts - deletes).foreach { i =>
      someLiveKey().foreach { k =>
        emit(k, deleted = false)
        if (i % 20 == 0) emit(k, deleted = false) // repeated within the file
      }
    }
    (0 until deletes).foreach(_ => someLiveKey().foreach(emit(_, deleted = true)))
    // late events: only keys whose stored row came from a change file, and
    // never deleted ones (a tombstone is not retained once applied)
    val lateCandidates = st.trx.keysIterator.filterNot(st.dead).take(late * 4).toIndexedSeq
    (0 until math.min(late, lateCandidates.size)).foreach { _ =>
      val k = lateCandidates(rnd.nextInt(lateCandidates.size))
      out.add(st.row(k, -1 - cycle, st.trx(k) - 1, deleted = false))
    }
    val newOrders = if (st.isLineitem) math.max(1, inserts / 4) else inserts
    (1 to newOrders).foreach { _ =>
      st.maxKey += 1
      val ks =
        if (st.isLineitem) (1 to Rows.linesOf(seed, st.maxKey)).map(Rows.lineKey(st.maxKey, _))
        else Seq(st.maxKey)
      ks.foreach(emit(_, deleted = false))
    }
    val rows = out.size
    // shuffle so inserts, deletes and repeats interleave in file order
    java.util.Collections.shuffle(out, rnd)
    val bytes = land(st.name, out, st.schema, f"cdc-c$cycle%05d")
    Flush(st.name, rows, bytes, changed.toSeq)
  }
}
