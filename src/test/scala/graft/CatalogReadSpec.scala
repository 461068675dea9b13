package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Meta
import graft.operators.GraftTable
import graft.sql.GraftSql

/** A `graft.<t>` read is planned as one query: the pruned snapshot's plan
  * sits inside the outer plan, and the table schema is the manifest's. */
class CatalogReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-catread").toString

  private def rows(n: Int, tag: String, seq: String): DataFrame =
    spark.range(1, n + 1).selectExpr("id", s"concat('$tag', id) AS v",
      "id % 3 AS grp", s"'$seq' AS trx_seq")

  /** Spark jobs that `body` runs, counted by a listener scoped to a job
    * group. */
  private def jobsIn(body: => Unit): Int = {
    val group = s"catalog-read-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "catalog read")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Plans `sql`, checks that planning ran no Spark job and that the plan
    * scans parquet itself, then returns the query's rows. */
  private def planOnce(sql: String): Seq[org.apache.spark.sql.Row] = {
    val df = spark.sql(sql)
    val jobs = jobsIn(df.queryExecution.executedPlan)
    assert(jobs == 0, s"planning ran $jobs Spark jobs: $sql")
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.nonEmpty,
      s"no parquet scan in the outer plan:\n$plan")
    assert(collect(plan) { case s: RowDataSourceScanExec => s }.isEmpty,
      s"a row bridge scan is left in the plan:\n$plan")
    df.collect().toSeq
  }

  test("a catalog point lookup plans as one query with no Spark job") {
    val cow = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024)
    cow.bulkInsert(rows(3000, "a", "001"))
    cow.upsert(rows(3000, "b", "002").filter($"id" % 50 === 0))
    GraftSql.register(spark, "catread_cow", cow)
    assert(planOnce("SELECT id, v FROM graft.catread_cow WHERE id = 1500")
      .map(r => (r.getLong(0), r.getString(1))) == Seq((1500L, "b1500")))

    val mor = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024,
      tableType = GraftTable.MergeOnRead)
    mor.bulkInsert(rows(3000, "a", "001"))
    mor.upsert(rows(3000, "b", "002").filter($"id" % 50 === 0))
    assert(mor.latestCommit().get.logFiles.nonEmpty, "the MOR table must hold logs")
    GraftSql.register(spark, "catread_mor", mor)
    assert(planOnce("SELECT id, v FROM graft.catread_mor WHERE id = 1500")
      .map(r => (r.getLong(0), r.getString(1))) == Seq((1500L, "b1500")))
    // the merge's shuffle runs with the query, not while planning it
    assert(planOnce("SELECT grp, count(*) FROM graft.catread_mor GROUP BY grp")
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1000L), (1L, 1000L), (2L, 1000L)))
  }

  test("the catalog schema is exactly what the snapshot read returns") {
    def same(name: String, t: GraftTable): Unit = {
      GraftSql.register(spark, name, t)
      val catalog = spark.table(s"graft.$name")
      assert(catalog.schema == t.readUser().schema, name)
      assert(catalog.collect().toSet == t.readUser().collect().toSet, name)
    }
    val cow = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024)
    cow.bulkInsert(rows(1000, "a", "001"))
    cow.upsert(rows(1000, "b", "002").filter($"id" % 10 === 0))
    same("catread_s_cow", cow)

    val mor = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024,
      tableType = GraftTable.MergeOnRead)
    mor.bulkInsert(rows(1000, "a", "001"))
    mor.upsert(rows(1000, "b", "002").filter($"id" % 10 === 0))
    assert(mor.latestCommit().get.logFiles.nonEmpty)
    same("catread_s_mor", mor)

    // partition columns read last; a MOR merge over them keeps that
    Seq(GraftTable.CopyOnWrite, GraftTable.MergeOnRead).foreach { tt =>
      val part = new GraftTable(spark, tmp(), Seq("id"), partitionFields = Seq("region"),
        targetFileBytes = 8 * 1024, tableType = tt)
      part.bulkInsert(rows(1000, "a", "001")
        .withColumn("region", when($"id" % 2 === 0, "eu").otherwise("us")))
      part.upsert(rows(1000, "b", "002").filter($"id" % 10 === 0)
        .withColumn("region", lit("eu")))
      same(s"catread_s_part_${tt.toLowerCase}", part)
    }

    val bkt = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024,
      bucketCount = 4)
    bkt.bulkInsert(rows(1000, "a", "001"))
    same("catread_s_bkt", bkt)

    // a table with no files yet reads as its declared schema
    val empty = new GraftTable(spark, tmp(), Seq("id"))
    empty.createEmpty(new StructType().add("id", LongType, nullable = false)
      .add("v", StringType).add("trx_seq", StringType))
    same("catread_s_empty", empty)

    // schema evolution through the catalog's DDL
    val evo = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 8 * 1024)
    evo.bulkInsert(rows(500, "a", "001"))
    GraftSql.register(spark, "catread_s_evo", evo)
    spark.sql("ALTER TABLE graft.catread_s_evo ADD COLUMN extra INT")
    same("catread_s_evo", evo)
    assert(spark.table("graft.catread_s_evo").schema("extra").dataType == IntegerType)
    spark.sql("ALTER TABLE graft.catread_s_evo RENAME COLUMN v TO w")
    same("catread_s_evo", evo)
    spark.sql("ALTER TABLE graft.catread_s_evo DROP COLUMN grp")
    same("catread_s_evo", evo)
    assert(spark.table("graft.catread_s_evo").columns.toSeq == Seq("id", "w", "trx_seq", "extra"))

    // a time-travel snapshot: the schema of that commit, not the latest
    val v0 = spark.sql("SELECT * FROM graft.catread_s_evo VERSION AS OF 0")
    val asOf = evo.readAsOf(0).drop(Meta.RecordKey, Meta.CommitSeq)
    assert(v0.schema == asOf.schema)
    assert(v0.collect().toSet == asOf.collect().toSet)
  }
}
