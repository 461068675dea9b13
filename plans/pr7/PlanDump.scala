// Dumps the plans and the plan/exec split of lakebench's catalog reads.
//
// It builds lakebench's own tables (seeded full load, bulk load, one write
// cycle) and runs three reads against them: a COW point lookup and the
// `orders` group-by on cdc_uniform_cow, and a point lookup on
// cdc_recent_mor, whose `orders` then holds outstanding delta logs. For
// each read it writes `explain("formatted")` of the executed query to
// `<out>/<name>.txt`, and prints one line of medians over the repetitions:
// seconds to build `executedPlan`, seconds to collect, and the Spark jobs
// each of the two ran.
//
// Build a checkout's benchmark first (`python3 lakebench/run.py` does, or
// `lakebench/build.sh <checkout>/.bench_build/lakebench`), then from the
// checkout:
//
//   J=.bench_build/lakebench/classes/lakebench.jar; S=$SPARK_HOME/jars
//   mkdir -p /tmp/pd && java -cp "$S/*" scala.tools.nsc.Main -nowarn \
//     -d /tmp/pd -classpath "$S/*:$J" plans/pr7/PlanDump.scala
//   java --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
//     --add-opens=java.base/java.nio=ALL-UNNAMED \
//     --add-opens=java.base/java.lang=ALL-UNNAMED \
//     --add-opens=java.base/java.util=ALL-UNNAMED \
//     -cp "/tmp/pd:$J:$S/*" PlanDump <work-dir> <out-dir> <seed> <reps>
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import lakebench.{Bench, Rows, Run, Stats, Workloads}

object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(work, out, seedArg, repsArg) = args
    val (seed, reps) = (seedArg.toLong, repsArg.toInt)
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    /** `body`'s result, seconds and Spark jobs. */
    def timed[A](body: => A): (A, Double, Int) = {
      val before = jobs.get
      val t0 = System.nanoTime()
      val a = body
      val s = (System.nanoTime() - t0) / 1e9
      Thread.sleep(50) // the listener bus is asynchronous
      (a, s, jobs.get - before)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def measure(name: String, sql: String): Unit = {
      val runs = (1 to reps).map { _ =>
        val (df, planS, planJobs) = timed { val d = spark.sql(sql); d.queryExecution.executedPlan; d }
        val (_, execS, execJobs) = timed(df.collect())
        (planS, execS, planJobs, execJobs, df)
      }
      Files.writeString(Paths.get(out, s"$name.txt"),
        s"-- $sql\n" + runs.last._5.queryExecution.explainString(FormattedMode))
      println(f"$name plan_s=${median(runs.map(_._1))}%.4f exec_s=${median(runs.map(_._2))}%.4f " +
        s"plan_jobs=${median(runs.map(_._3.toDouble)).toInt} " +
        s"exec_jobs=${median(runs.map(_._4.toDouble)).toInt}")
    }

    /** Builds `workload`'s tables; returns a key its write cycle changed. */
    def build(workload: String): Long = {
      val r = new Run(spark, Workloads.all(workload), Bench.DefaultScale, seed,
        Paths.get(work, workload), new Stats)
      r.landFullLoad()
      r.bulkLoad()
      r.writeCycle(1).head.changedKeys.head
    }
    val cols = Rows.ordersSchema.fieldNames.mkString(", ") // as lakebench's lookups
    val cowKey = build("cdc_uniform_cow")
    measure("cow_lookup", s"SELECT $cols FROM graft.orders WHERE o_orderkey = $cowKey")
    measure("cow_groupby", "SELECT o_orderstatus, count(*), sum(o_totalprice) " +
      "FROM graft.orders GROUP BY o_orderstatus")
    val morKey = build("cdc_recent_mor")
    measure("mor_lookup", s"SELECT $cols FROM graft.orders WHERE o_orderkey = $morKey")
    spark.stop()
  }
}
