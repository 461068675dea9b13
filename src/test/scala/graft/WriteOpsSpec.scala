package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Meta
import graft.operators.GraftTable

/** The REPLACE-commit family (insert_overwrite, insert_overwrite_table,
  * delete_partition, predicate delete), metadata-only bootstrap, and the
  * snapshot-diff CDC query — pinning the SCALE invariants the graded
  * aggregates cannot see: which files moved, which were carried, and
  * which never existed as copies at all.
  */
class WriteOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-wops").toString

  private def rows(n: Int) =
    (1 to n).map(i => (i.toLong, s"v$i", (if (i % 3 == 0) "p0" else "p1"), f"$i%06d"))
      .toDF("id", "v", "p", "trx_seq")

  test("stats-balloon guard: a join-shaped stats-less bulk insert writes a sane file count") {
    // localCheckpointed leaves carry no usable stats, so Catalyst's
    // size-only estimate for the join balloons — three rounds of IVM
    // operators hit this class (one file PER ROW) and each fixed it
    // with a caller-side persist+count; the guard now lives at the
    // write seam, so the PUBLIC API must be safe without the caller
    // remembering anything
    val a = rows(400).localCheckpoint()
    val b = (1 to 400).map(i => (i.toLong, s"w$i")).toDF("id", "w")
      .localCheckpoint()
    val joined = a.join(b, Seq("id"))
    val t = new GraftTable(spark, tmp(), Seq("id"))
    t.bulkInsert(joined)
    val files = t.latestCommit().get.files
    assert(files.size <= 16,
      s"ballooned file plan: ${files.size} files for 400 rows")
    assert(t.readUser().count() == 400)
  }

  test("deletePartition is metadata-only: kept files are the previous files") {
    val t = new GraftTable(spark, tmp(), Seq("id"), Seq("p"),
      targetFileBytes = 16 * 1024)
    t.bulkInsert(rows(300))
    val before = t.latestCommit().get
    val c = t.deletePartition(Map("p" -> "p0"))
    assert(c.action == "delete_partition")
    // pure manifest surgery: every kept file was already in the previous
    // commit (nothing written), and all p0 files are gone from the manifest
    val prevPaths = before.files.map(_.path).toSet
    assert(c.files.nonEmpty && c.files.forall(f => prevPaths(f.path)))
    assert(c.files.forall(_.partition.get("p").contains("p1")))
    assert(c.extra("files_dropped").toInt ==
      before.files.count(_.partition.get("p").contains("p0")))
    val got = t.readUser().select("p").distinct().as[String].collect().toSeq
    assert(got == Seq("p1"))
    assert(t.readUser().count() == 300 - 100)
  }

  test("deleteWhere rewrites only stat-overlapping files; disjoint files carry") {
    val t = new GraftTable(spark, tmp(), Seq("id"),
      targetFileBytes = 4 * 1024, statsColumns = Seq("id"))
    t.bulkInsert(rows(2000).drop("p"))
    val before = t.latestCommit().get
    assert(before.files.size >= 4) // the triage needs multiple key-sorted files
    val c = t.deleteWhere(Seq(("id", 100L, 300L)))
    assert(c.action == "delete_where")
    assert(c.extra("files_carried").toInt > 0,
      "key-sorted layout must leave range-disjoint files untouched")
    assert(c.extra("files_rewritten").toInt < before.files.size)
    val ids = t.readUser().select("id").as[Long].collect().toSet
    assert(!ids.exists(i => i >= 100 && i <= 300))
    assert(ids.size == 2000 - 201)
  }

  test("deleteWhere keeps NULL-valued rows (three-valued logic)") {
    val t = new GraftTable(spark, tmp(), Seq("id"),
      targetFileBytes = 16 * 1024, statsColumns = Seq("x"))
    t.bulkInsert(Seq((1L, java.lang.Long.valueOf(5L), "a"),
      (2L, null.asInstanceOf[java.lang.Long], "b"),
      (3L, java.lang.Long.valueOf(50L), "c"))
      .toDF("id", "x", "trx_seq"))
    t.deleteWhere(Seq(("x", 0L, 10L)))
    val kept = t.readUser().select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), "null x must never match the delete predicate")
  }

  test("insertOverwritePartitions replaces touched partitions, carries the rest") {
    val t = new GraftTable(spark, tmp(), Seq("id"), Seq("p"),
      targetFileBytes = 16 * 1024)
    t.bulkInsert(rows(300))
    val before = t.latestCommit().get
    val batch = Seq((9001L, "nv", "p0", "999999")).toDF("id", "v", "p", "trx_seq")
    val c = t.insertOverwritePartitions(batch)
    assert(c.action == "replace_overwrite")
    // p1's files carried byte-identically; p0 replaced wholesale
    val prevP1 = before.files.filter(_.partition.get("p").contains("p1")).map(_.path).toSet
    val nowP1 = c.files.filter(_.partition.get("p").contains("p1")).map(_.path).toSet
    assert(prevP1 == nowP1)
    val p0 = t.readUser().filter(col("p") === "p0").select("id").as[Long].collect().toSeq
    assert(p0 == Seq(9001L))
    assert(t.readUser().filter(col("p") === "p1").count() == 200)
  }

  test("insertOverwriteTable replaces everything atomically; history time-travels") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(rows(100).drop("p"))
    t.insertOverwriteTable(Seq((500L, "only", "999999")).toDF("id", "v", "trx_seq"))
    assert(t.readUser().select("id").as[Long].collect().toSeq == Seq(500L))
    assert(t.readAsOf(0).count() == 100) // the overwritten state stays readable
  }

  test("bootstrap links bytes in place, derives key intervals, and prunes upserts") {
    val base = tmp()
    val src = s"$base/raw"
    rows(2000).drop("p").repartition(1)
      .sortWithinPartitions(col("id"))
      .write.parquet(src)
    // pre-split the source into several key-disjoint files so interval
    // pruning has something to prune
    val t = new GraftTable(spark, s"$base/t", Seq("id"), targetFileBytes = 16 * 1024)
    val srcMulti = s"$base/raw4"
    spark.read.parquet(src).repartitionByRange(4, col("id"))
      .sortWithinPartitions(col("id")).write.parquet(srcMulti)
    val c = t.bootstrap(srcMulti)
    assert(c.action == "bootstrap" && c.files.size >= 4)
    // zero-copy: the linked file shares its inode with the source file
    val linked = Paths.get(s"$base/t", c.files.head.path)
    val ino = Files.getAttribute(linked, "unix:ino")
    val srcInos = scala.util.Using.resource(Files.list(Paths.get(srcMulti))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => Files.getAttribute(p, "unix:ino")).toSet
    }
    assert(srcInos.contains(ino), "bootstrap must hard-link, not copy")
    // key intervals derived from the id column's own stats
    assert(c.files.forall(GraftTable.hasReliableStats))
    // the derived key is injected at scan: snapshot and key-range reads work
    assert(t.read().columns.contains(Meta.RecordKey))
    assert(t.readKeyRange(10L, 20L).count() == 11)
    // an upsert touching one key rewrites a strict subset of the files
    val up = t.upsert(Seq((5L, "patched", "999999")).toDF("id", "v", "trx_seq"))
    assert(up.extra("files_rewritten").toInt < c.files.size,
      "derived intervals must prune the bootstrap files")
    val got = t.readUser().filter(col("id") === 5L).select("v").as[String].head()
    assert(got == "patched")
    assert(t.readUser().count() == 2000)
  }

  test("mergeInto applies SET/DELETE/INSERT and prunes untouched files") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 4 * 1024)
    t.bulkInsert(rows(2000).drop("p"))
    val before = t.latestCommit().get
    assert(before.files.size >= 4)
    // source: update id=5 (v from a SET mixing target+source), delete id=6,
    // insert id=9001; 'note' is a helper column never persisted
    val source = Seq((5L, "NEW", "keep"), (6L, "x", "drop"), (9001L, "ins", "keep"))
      .toDF("id", "v", "note")
    val c = t.mergeInto(source,
      whenMatchedSet = Map("v" -> concat(col("v"), lit("+"), col("src_v"))),
      whenMatchedDelete = Some(col("src_note") === "drop"))
    assert(c.action == "merge")
    assert(c.extra("files_rewritten").toInt < before.files.size,
      "merge must rewrite only files whose key interval admits a source key")
    val got = t.readUser().filter(col("id").isin(5L, 6L, 9001L))
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((5L, "v5+NEW"), (9001L, "ins")))
    assert(t.readUser().count() == 2000) // -1 delete +1 insert
    assert(!t.readUser().columns.contains("note"))
    // untouched rows really are untouched
    assert(t.readUser().filter(col("id") === 1000L).select("v").as[String].head() == "v1000")
  }

  test("mergeInto rejects a source with duplicate keys") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(rows(10).drop("p"))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "v")
    val e = intercept[IllegalArgumentException](t.mergeInto(dup))
    assert(e.getMessage.contains("multiple rows"))
  }

  test("mergeInto refuses a NULL source key on an empty table and under BY SOURCE") {
    // a STRING key column: a null value encodes to a NULL record key, which
    // no later merge could match — every plan must refuse it up front
    def nullKeyRefused(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("NULL record key"), s"got: ${e.getMessage}")
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k STRING, v STRING")
    val empty = new GraftTable(spark, tmp(), Seq("k"), targetFileBytes = 16 * 1024)
    empty.createEmpty(schema)
    nullKeyRefused(empty.mergeInto(Seq(("a", "x"), (null, "y")).toDF("k", "v")))
    // two NULL keys are a NULL key first, not a duplicate of ""
    nullKeyRefused(empty.mergeInto(Seq((null, "x"), (null, "y")).toDF("k", "v")))
    // a distributed source takes the groupBy check
    nullKeyRefused(empty.mergeInto(spark.range(3).select(
      when(col("id") =!= 1, col("id").cast("string")).as("k"), lit("d").as("v"))))
    assert(empty.readUser().count() == 0)
    val t = new GraftTable(spark, tmp(), Seq("k"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq(("a", "1"), ("b", "2")).toDF("k", "v"))
    nullKeyRefused(t.mergeInto(Seq(("a", "x"), (null, "y")).toDF("k", "v"),
      whenMatchedSet = Map("v" -> col("src_v")),
      whenNotMatchedBySourceDelete = Some(lit(true))))
    assert(t.readUser().select("k", "v").as[(String, String)].collect().toSet ==
      Set(("a", "1"), ("b", "2")))
  }

  test("mergeInto with insertWhenNotMatched=false drops source-only rows") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(rows(10).drop("p"))
    t.mergeInto(Seq((3L, "upd"), (9999L, "ghost")).toDF("id", "v"),
      whenMatchedSet = Map("v" -> col("src_v")),
      insertWhenNotMatched = false)
    val ids = t.readUser().select("id").as[Long].collect().toSet
    assert(ids == (1L to 10L).toSet)
    assert(t.readUser().filter(col("id") === 3L).select("v").as[String].head() == "upd")
  }

  test("dropColumn is metadata-only; name binds by residue until bytes are shed") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq((1L, "a", "x1", "01"), (2L, "b", "x2", "01"))
      .toDF("id", "v", "extra", "trx_seq"))
    val before = t.latestCommit().get
    val c = t.dropColumn("extra")
    // zero I/O: the commit carries exactly the previous files
    assert(c.files.map(_.path) == before.files.map(_.path))
    assert(!t.read().columns.contains("extra"))
    assert(t.readUser().select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // DOCUMENTED name-binding semantics: re-adding the name while old
    // files still hold the bytes exposes the residual values again
    t.upsert(Seq((3L, "c", "fresh", "02")).toDF("id", "v", "extra", "trx_seq"))
    val residual = t.readUser().select("id", "extra").as[(Long, String)]
      .collect().toMap
    assert(residual == Map(1L -> "x1", 2L -> "x2", 3L -> "fresh"))
    // protected columns refuse
    intercept[IllegalArgumentException](t.dropColumn("id"))
    intercept[IllegalArgumentException](t.dropColumn("trx_seq"))
  }

  test("dropColumn + cluster() sheds the bytes, so a re-added name starts null") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq((1L, "a", "x1", "01"), (2L, "b", "x2", "01"))
      .toDF("id", "v", "extra", "trx_seq"))
    t.dropColumn("extra")
    t.cluster() // rewrites the snapshot under the manifest schema: bytes gone
    t.upsert(Seq((3L, "c", "fresh", "02")).toDF("id", "v", "extra", "trx_seq"))
    val got = t.readUser().select("id", "extra").as[(Long, String)]
      .collect().toMap
    assert(got == Map(1L -> null, 2L -> null, 3L -> "fresh"))
  }

  test("planned clustering merges only small file groups; right-sized files carry") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 32 * 1024)
    t.bulkInsert((0L until 4000L).map(i => (i, s"v$i" * 4, "001"))
      .toDF("id", "v", "trx_seq"))
    val base = t.latestCommit().get.files
    // two tiny insert batches in fresh key ranges land as small files
    t.upsert(Seq((100000L, "a", "002"), (100001L, "b", "002")).toDF("id", "v", "trx_seq"))
    t.upsert(Seq((200000L, "c", "003"), (200001L, "d", "003")).toDF("id", "v", "trx_seq"))
    val before = t.latestCommit().get.files
    val small = before.filter(_.bytes < 4 * 1024)
    assert(small.size >= 2, s"need small files to plan over (got ${small.size})")
    assert(small.size < before.size, "need right-sized files to carry")
    val cc = t.cluster(smallFileBytes = 4 * 1024)
    assert(cc.extra("files_rewritten").toInt == small.size)
    assert(cc.extra("files_carried").toInt == before.size - small.size)
    // carried files are path-identical — zero write amplification on them
    val carried = before.map(_.path).toSet.intersect(cc.files.map(_.path).toSet)
    assert(carried.size == cc.extra("files_carried").toInt && carried.nonEmpty)
    // rewritten bytes track the small files, not the table
    val rewrittenBytes = cc.files.filterNot(f => carried(f.path)).map(_.bytes).sum
    assert(rewrittenBytes < base.map(_.bytes).sum / 2,
      s"planned pass must not rewrite the table (wrote $rewrittenBytes)")
    // snapshot exact
    val got = t.readUser().select("id", "v").as[(Long, String)].collect().toMap
    assert(got.size == 4004 && got(100000L) == "a" && got(200001L) == "d"
      && got(3999L) == "v3999" * 4)
    // nothing left to merge: a second planned pass is a no-op (no commit)
    val again = t.cluster(smallFileBytes = 4 * 1024)
    assert(again.seq == cc.seq || again.extra("files_rewritten").toInt >= 2)
  }

  test("inline clustering folds small files after upserts; idle commits are no-ops") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 32 * 1024,
      clusterSmallFileBytes = 4 * 1024)
    t.bulkInsert((0L until 4000L).map(i => (i, s"v$i" * 4, "001"))
      .toDF("id", "v", "trx_seq"))
    // below the fold cadence (InlineFoldMinFiles = 4): accumulating
    // small-file debt must NOT trigger — folding two tiny files per
    // wave paid ~4 fixed jobs each maintenance MERGE for nothing
    val c1 = t.upsert(Seq((100000L, "a", "002")).toDF("id", "v", "trx_seq"))
    assert(c1.action == "upsert", s"single small file must not trigger (got ${c1.action})")
    val c2 = t.upsert(Seq((200000L, "b", "003")).toDF("id", "v", "trx_seq"))
    assert(c2.action == "upsert", s"2 small files are below the fold cadence (got ${c2.action})")
    val c3 = t.upsert(Seq((300000L, "c", "004")).toDF("id", "v", "trx_seq"))
    assert(c3.action == "upsert", s"3 small files are below the fold cadence (got ${c3.action})")
    // fourth small file reaches the cadence — the inline pass fires and
    // returns the clustering commit (the same shape as MOR inline
    // compaction), folding the whole accumulated debt at once
    val c4 = t.upsert(Seq((400000L, "d", "005")).toDF("id", "v", "trx_seq"))
    assert(c4.action == "cluster", s"expected inline cluster commit (got ${c4.action})")
    assert(c4.extra("files_carried").toInt > 0)
    assert(c4.extra("files_rewritten").toInt >= 4)
    val got = t.readUser().select("id", "v").as[(Long, String)].collect().toMap
    assert(got.size == 4004 && got(100000L) == "a" && got(400000L) == "d")
  }

  test("renameColumn rewrites once and preserves data under the new name") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq((1L, "a", "01"), (2L, "b", "01")).toDF("id", "v", "trx_seq"))
    val c = t.renameColumn("v", "value")
    assert(c.action == "rename_column")
    assert(!t.read().columns.contains("v") && t.read().columns.contains("value"))
    assert(t.readUser().select("id", "value").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException](t.renameColumn("id", "id2"))
    intercept[IllegalArgumentException](t.renameColumn("value", "trx_seq"))
  }

  test("mixed write-op lifecycle equals an independently computed oracle") {
    val t = new GraftTable(spark, tmp(), Seq("id"),
      targetFileBytes = 8 * 1024, statsColumns = Seq("x"))
    val base = (1 to 500).map(i => (i.toLong, s"v$i", i.toLong * 3, f"$i%06d"))
      .toDF("id", "v", "x", "trx_seq")
    t.bulkInsert(base)
    // 1. CDC upsert: update %7 (status bump), delete %13
    t.upsert((1 to 500).filter(_ % 7 == 0)
      .map(i => (i.toLong, s"u$i", i.toLong * 3, "700000", false)).toDF(
        "id", "v", "x", "trx_seq", Meta.Deleted)
      .unionByName((1 to 500).filter(_ % 13 == 0)
        .map(i => (i.toLong, s"v$i", i.toLong * 3, "800000", true)).toDF(
          "id", "v", "x", "trx_seq", Meta.Deleted)))
    // 2. MERGE INTO: SET v for %11 survivors, insert 9001. (%11 keys that
    // the %13 delete removed are excluded — they would legitimately
    // RE-INSERT as not-matched source rows, which is upsert territory)
    t.mergeInto(((1 to 500).filter(i => i % 11 == 0 && i % 13 != 0)
      .map(i => (i.toLong, "m")) :+ (9001L, "ins")).toDF("id", "note"),
      whenMatchedSet = Map("v" -> concat(lit("M:"), col("v"))))
    // 3. predicate delete on the stats-tracked column: x in [300, 600]
    t.deleteWhere(Seq(("x", 300L, 600L)))
    // 4. maintenance: cluster + clean; integrity must hold
    t.cluster()
    t.clean(retainCommits = 2)
    assert(t.fsck()._4, "fsck must be green after the mixed lifecycle")
    // independent oracle: the same fold in plain DataFrame algebra
    val afterUpsert = base
      .withColumn("v", when(col("id") % 7 === 0, concat(lit("u"), col("id"))).otherwise(col("v")))
      .filter(col("id") % 13 =!= 0)
    val afterMerge = afterUpsert
      .withColumn("v", when(col("id") % 11 === 0, concat(lit("M:"), col("v"))).otherwise(col("v")))
      .select(col("id"), col("v"), col("x"))
      .unionByName(Seq((9001L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long]))
        .toDF("id", "v", "x"))
    val expected = afterMerge
      .filter(col("x").isNull || col("x") < 300L || col("x") > 600L)
      .as[(Long, String, Option[Long])].collect().toSet
    val got = t.readUser().select(col("id"), col("v"), col("x"))
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got == expected)
  }

  test("lock-free OCC upsert racing MERGE INTO on disjoint keys loses neither") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024,
      staleLockMs = 60000)
    t.bulkInsert((1 to 200).map(i => (i.toLong, s"v$i", f"$i%06d"))
      .toDF("id", "v", "trx_seq"))
    // writer A: lock-free OCC upsert of EVEN keys; writer B: MERGE INTO
    // updating ODD keys. Disjoint key sets make the final state
    // order-independent, so both effects must land whatever interleaving
    // the race produces (the MERGE retries if A steals its seq).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val a = pool.submit(new Runnable { def run(): Unit =
        t.upsertOptimistic((2 to 200 by 2).map(i => (i.toLong, "EVEN", "900000"))
          .toDF("id", "v", "trx_seq")) })
      val b = pool.submit(new Runnable { def run(): Unit =
        t.mergeInto((1 to 199 by 2).map(i => (i.toLong, "z")).toDF("id", "z"),
          whenMatchedSet = Map("v" -> lit("ODD")),
          insertWhenNotMatched = false) })
      a.get(); b.get()
    } finally pool.shutdown()
    val got = t.readUser().select("id", "v").as[(Long, String)].collect()
    assert(got.length == 200)
    assert(got.forall { case (id, v) => v == (if (id % 2 == 0) "EVEN" else "ODD") },
      "both the OCC write and the merge must survive the race")
    assert(t.fsck()._4)
  }

  test("keyHistory skips commits cleaning has emptied instead of crashing") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq((1L, "a", "01")).toDF("id", "v", "trx_seq"))
    t.upsert(Seq((1L, "b", "02")).toDF("id", "v", "trx_seq"))
    t.upsert(Seq((1L, "c", "03")).toDF("id", "v", "trx_seq"))
    val full = t.keyHistory(Seq(f"${1L}%019d"))
      .select(col("commit_seq"), col("v")).as[(Long, String)].collect().sortBy(_._1)
    assert(full.toSeq == Seq((0L, "a"), (1L, "b"), (2L, "c")))
    t.clean(retainCommits = 1) // commits 0 and 1 lose their files
    val bounded = t.keyHistory(Seq(f"${1L}%019d"))
      .select(col("commit_seq"), col("v")).as[(Long, String)].collect().sortBy(_._1)
    assert(bounded.toSeq == Seq((2L, "c")),
      "cleaned-away history must bound the audit horizon, not crash it")
  }

  test("changesDiff classifies I/U/D and ignores meta-only rewrites") {
    val t = new GraftTable(spark, tmp(), Seq("id"), targetFileBytes = 16 * 1024)
    t.bulkInsert(Seq((1L, "a", "01", false), (2L, "b", "01", false),
      (3L, "c", "01", false)).toDF("id", "v", "trx_seq", Meta.Deleted))
    t.upsert(Seq((2L, "B", "02", false), (3L, "c", "02", true),
      (4L, "d", "02", false)).toDF("id", "v", "trx_seq", Meta.Deleted))
    val d = t.changesDiff(0, 1)
      .select(col(Meta.RecordKey).cast("long").as("id"), col("op"), col("v"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(d.toSeq == Seq((2L, "U", "B"), (3L, "D", null), (4L, "I", "d")))
    // a clustering rewrite moves every file but changes no row: empty diff
    t.cluster()
    assert(t.changesDiff(1, 2).isEmpty)
  }
}
