package lakebench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The correctness gate's independent side: latest-wins over the raw
  * files in plain Spark, and row-multiset hashes to compare results by. */
object Reference {
  /** The derived column the line item transformer adds, restated with the
    * DataFrame API so the reference does not run the engine's SQL hook. */
  val LineitemTransformer =
    "SELECT *, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(15,2)) AS l_net_price FROM <SRC>"
  def lineitemDerived(df: DataFrame): DataFrame =
    df.withColumn("l_net_price",
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(15, 2)))

  /** Every raw file of `table`, reduced to the newest version per key by
    * (trx_seq, tombstone), tombstoned keys dropped. */
  def latestWins(spark: SparkSession, zoneDir: String, keys: Seq[String],
      transform: DataFrame => DataFrame): DataFrame = {
    val raw = spark.read.option("recursiveFileLookup", "true").parquet(zoneDir)
    val cols = raw.columns.toSeq
    val latest = raw.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*),
        struct(col(Rows.Ordering), col(Rows.Deleted))).as("r"))
      .select("r.*")
      .filter(!col(Rows.Deleted))
    transform(latest)
  }

  /** (rows, sum of per-row hashes): equal for equal row multisets. Values
    * hash by their string form so type widening cannot change a hash. */
  def tableHash(df: DataFrame, columns: Seq[String]): (Long, java.math.BigDecimal) = {
    val h = xxhash64(columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Order-insensitive hash of collected rows. */
  def rowsHash(rows: Iterable[Row]): Int =
    MurmurHash3.unorderedHash(rows.map(canonical))

  def canonical(r: Row): String = r.toSeq.map(v => if (v == null) "\u0000" else v.toString)
    .mkString("\u0001")
}
