package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, sources => sf}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraftTable

/** SOUNDNESS LAW for the catalog manifest triage: for ANY conjunction of
  * source filters, the triaged scan plus the residual predicate must
  * equal the untriaged scan plus the same predicate — a file may only
  * ever be skipped when no matching row can live in it. Driven by a
  * seeded random predicate generator over key / stats / bloom /
  * partition columns, against COW, partitioned and MOR-with-logs
  * fixtures (partitioned MOR under a non-global and a global index
  * included — the soundness regimes of the triage's one MOR rule). A
  * single missing row here is the worst bug the engine can have
  * (silently wrong SQL results), so this law gets fuzz coverage, not just
  * the hand-picked spec cases. A second law runs the API reads that share
  * the triage (column range/box, column equality, partition) on every
  * fixture against the filtered snapshot.
  */
class TriageLawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-triage-$tag").toString

  /** (filters, residual) pairs the generator can emit. */
  private def predicates(rnd: scala.util.Random): (Seq[sf.Filter], Column) = {
    def keyVal(): Long = rnd.nextLong(4200) - 100 // includes misses + negatives
    def scoreVal(): Long = rnd.nextLong(13000) - 500
    val choices: Seq[() => (sf.Filter, Column)] = Seq(
      () => { val v = keyVal(); (sf.EqualTo("id", v), col("id") === v) },
      () => {
        val vs = Array.fill(rnd.nextInt(4) + 1)(keyVal())
        (sf.In("id", vs.map(_.asInstanceOf[Any])), col("id").isin(vs.toIndexedSeq: _*))
      },
      () => { val v = keyVal(); (sf.GreaterThan("id", v), col("id") > v) },
      () => { val v = keyVal(); (sf.LessThanOrEqual("id", v), col("id") <= v) },
      () => { val v = scoreVal(); (sf.GreaterThanOrEqual("score", v), col("score") >= v) },
      () => { val v = scoreVal(); (sf.LessThan("score", v), col("score") < v) },
      () => { val v = scoreVal(); (sf.EqualTo("score", v), col("score") === v) },
      () => {
        val v = s"p${rnd.nextInt(5)}" // sometimes a missing partition
        (sf.EqualTo("part", v), col("part") === v)
      },
      () => {
        val v = s"t${rnd.nextInt(4000) + 1}" // bloom column probe
        (sf.EqualTo("tag", v), col("tag") === v)
      })
    val n = rnd.nextInt(3) + 1
    val picked = Seq.fill(n)(choices(rnd.nextInt(choices.size))())
    (picked.map(_._1), picked.map(_._2).reduce(_ && _))
  }

  private def law(t: GraftTable, rounds: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = t.readUser().cache()
    try {
      (1 to rounds).foreach { i =>
        val (filters, residual) = predicates(rnd)
        val pruned = t.readUserPruned(filters)
        val got = pruned.df.filter(residual)
          .orderBy("id", "part").collect().map(_.toString).toSeq
        val want = base.filter(residual)
          .orderBy("id", "part").collect().map(_.toString).toSeq
        assert(got == want,
          s"round $i: triage dropped/added rows for $filters " +
            s"(admitted ${pruned.admittedFiles}/${pruned.totalFiles}); " +
            s"got ${got.size} rows, want ${want.size}")
      }
    } finally { base.unpersist(); () }
  }

  /** The API reads that share the triage must equal the filtered
    * snapshot. Probes lean toward the values the fixtures' logs move
    * (small scores, low tags), where an unsound prune would resurrect a
    * superseded version. */
  private def apiLaw(t: GraftTable, rounds: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val base = t.readUser().cache()
    def rows(df: DataFrame): Seq[String] =
      df.select("id", "score", "tag", "part").orderBy("id", "part")
        .collect().map(_.toString).toSeq
    def scoreVal(): Long =
      if (rnd.nextBoolean()) rnd.nextLong(610) else rnd.nextLong(13000) - 500
    def scoreRange(): (Long, Long) = {
      val a = scoreVal(); val b = scoreVal()
      (math.min(a, b), math.max(a, b))
    }
    val reads: Seq[() => (String, DataFrame, Column)] = Seq(
      () => {
        val (lo, hi) = scoreRange()
        (s"readColumnRange(score, $lo, $hi)", t.readColumnRange("score", lo, hi),
          col("score").between(lo, hi))
      },
      () => {
        val (lo, hi) = scoreRange()
        val kl = rnd.nextLong(3000); val kh = kl + rnd.nextLong(1500)
        (s"readColumnBox(score [$lo, $hi], id [$kl, $kh])",
          t.readColumnBox(Seq(("score", lo, hi), ("id", kl, kh))),
          col("score").between(lo, hi) && col("id").between(kl, kh))
      },
      () => {
        val v = scoreVal()
        (s"readColumnEquals(score, $v)", t.readColumnEquals("score", v), col("score") === v)
      },
      () => {
        val v = s"t${if (rnd.nextBoolean()) rnd.nextInt(220) + 1 else rnd.nextInt(5200) + 1}"
        (s"readColumnEquals(tag, $v)", t.readColumnEquals("tag", v), col("tag") === v)
      }) ++ (if (t.partitionFields.isEmpty) Seq.empty else Seq(
      () => {
        val v = s"p${rnd.nextInt(4)}" // sometimes a missing partition
        (s"readPartition(part = $v)", t.readPartition(Map("part" -> v)), col("part") === v)
      }))
    try {
      (1 to rounds).foreach { i =>
        val (what, df, residual) = reads(rnd.nextInt(reads.size))()
        val got = rows(df)
        val want = rows(base.filter(residual))
        assert(got == want,
          s"round $i: $what got ${got.size} rows, want ${want.size}")
      }
    } finally { base.unpersist(); () }
  }

  /** Base rows of the fixtures: ids 1..n, score = 3·id, tag = t<id>,
    * part = p<id mod 3>. */
  private def baseRows(n: Long): DataFrame =
    spark.range(1, n + 1).selectExpr(
      "id", "id * 3 AS score", "concat('t', id) AS tag",
      "concat('p', id % 3) AS part", "'001' AS trx_seq")

  test("COW with stats + blooms: triaged == untriaged under random conjunctions") {
    val t = new GraftTable(spark, tmp("cow"), Seq("id"),
      targetFileBytes = 8 * 1024, statsColumns = Seq("score"),
      keyBlooms = true, bloomColumns = Seq("tag"))
    t.bulkInsert(baseRows(4000))
    assert(t.latestCommit().get.files.size >= 4)
    law(t, rounds = 40, seed = 11L)
    apiLaw(t, rounds = 15, seed = 21L)
  }

  test("partitioned non-global: triaged == untriaged under random conjunctions") {
    val t = new GraftTable(spark, tmp("part"), Seq("id"),
      partitionFields = Seq("part"), globalIndex = false,
      targetFileBytes = 8 * 1024, statsColumns = Seq("score"))
    t.bulkInsert(baseRows(3000))
    law(t, rounds = 30, seed = 12L)
    apiLaw(t, rounds = 15, seed = 22L)
  }

  test("MOR with outstanding logs: triaged == untriaged (key triage only)") {
    val t = new GraftTable(spark, tmp("mor"), Seq("id"),
      targetFileBytes = 8 * 1024, statsColumns = Seq("score"),
      tableType = GraftTable.MergeOnRead)
    t.bulkInsert(baseRows(3000))
    // delta logs: moved score values + a re-tag, so stats-based pruning
    // over base files would be UNSOUND — the law proves it stands down
    t.upsert(spark.range(1, 101).selectExpr(
      "id", "id AS score", "concat('t', id + 5000) AS tag",
      "concat('p', id % 3) AS part", "'002' AS trx_seq"))
    assert(t.latestCommit().get.logFiles.nonEmpty)
    law(t, rounds = 30, seed = 13L)
    apiLaw(t, rounds = 15, seed = 23L)
  }

  test("partitioned non-global MOR with logs: triaged == untriaged; partitions prune") {
    val t = new GraftTable(spark, tmp("partmor"), Seq("id"),
      partitionFields = Seq("part"), globalIndex = false,
      targetFileBytes = 8 * 1024, statsColumns = Seq("score"),
      bloomColumns = Seq("tag"), tableType = GraftTable.MergeOnRead)
    t.bulkInsert(baseRows(3000))
    // the log re-inserts keys under ANOTHER partition (with moved scores
    // and tags): under non-global identity each is a second live row, so
    // the per-partition merge is complete and partition pruning stays
    // sound; it also updates further keys in place, which stats and bloom
    // pruning must not skip
    t.upsert(spark.range(1, 201).selectExpr(
      "id", "id AS score", "concat('t', id + 5000) AS tag",
      "concat('p', IF(id <= 100, id + 1, id) % 3) AS part", "'002' AS trx_seq"))
    assert(t.latestCommit().get.logFiles.nonEmpty)
    law(t, rounds = 30, seed = 14L)
    apiLaw(t, rounds = 15, seed = 24L)
    val p1 = t.readUserPruned(Seq(sf.EqualTo("part", "p1")))
    assert(p1.admittedFiles < p1.totalFiles,
      s"a non-global partition read must prune under logs " +
        s"(admitted ${p1.admittedFiles}/${p1.totalFiles})")
  }

  test("partitioned global MOR with logs: a key moved across partitions never resurrects") {
    val t = new GraftTable(spark, tmp("gpartmor"), Seq("id"),
      partitionFields = Seq("part"), globalIndex = true,
      targetFileBytes = 8 * 1024, statsColumns = Seq("score"),
      bloomColumns = Seq("tag"), tableType = GraftTable.MergeOnRead)
    t.bulkInsert(baseRows(3000))
    // the log MOVES keys to another partition: under a global index the
    // moved version supersedes the old-partition row, so pruning by
    // partition would resurrect it — the triage must stand down
    t.upsert(spark.range(1, 101).selectExpr(
      "id", "id AS score", "concat('t', id + 5000) AS tag",
      "concat('p', (id + 1) % 3) AS part", "'002' AS trx_seq"))
    assert(t.latestCommit().get.logFiles.nonEmpty)
    assert(t.readUser().count() == 3000)
    law(t, rounds = 30, seed = 15L)
    apiLaw(t, rounds = 15, seed = 25L)
  }

  test("an API bound typed unlike the key column never key-prunes") {
    val t = new GraftTable(spark, tmp("skey"), Seq("k"), targetFileBytes = 8 * 1024)
    t.bulkInsert(spark.range(1, 3001).selectExpr(
      "cast(id AS string) AS k", "id", "'001' AS trx_seq"))
    assert(t.latestCommit().get.files.size >= 4)
    // string keys "1".."3000" sort as strings: a Long bound's zero-padded
    // key encoding would stab the wrong files and drop every row
    val want = t.readUser().filter(col("k").between(150L, 2500L)).count()
    assert(want == 2351)
    assert(t.readColumnRange("k", 150L, 2500L).count() == want)
    assert(t.readColumnEquals("k", 42L).count() == 1)
  }
}
