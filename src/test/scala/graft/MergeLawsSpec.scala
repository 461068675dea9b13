package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Meta
import graft.operators.GraftTable

/** Property-style merge laws (SURVEY §5 test plan): for ANY interleaving of
  * CDC events, the snapshot equals the naive in-memory reduction —
  * latest-wins per key on (seq, tombstone), deletes drop the key. Seeded
  * random generation keeps runs reproducible.
  */
class MergeLawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  case class Ev(id: Long, v: String, seq: Int, del: Boolean)

  private def genEvents(rnd: scala.util.Random): List[Ev] = {
    val n = 1 + rnd.nextInt(40)
    val raw = List.fill(n)(Ev(
      id = 1L + rnd.nextInt(8),
      v = (1 to 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
      seq = 1 + rnd.nextInt(30),
      del = rnd.nextInt(5) == 0))
    // one event per (id, seq, del): within an exact tie the engine's max_by
    // picks an arbitrary row, which the spec cannot predict
    raw.groupBy(e => (e.id, e.seq, e.del)).values.map(_.maxBy(_.v)).toList
  }

  /** The specification, Hudi-faithful: batches apply IN ORDER. Within a
    * batch, latest-wins on (seq, tombstone-flag); against existing state
    * the same comparison, where a full tie goes to the LATER batch (the
    * tie chain's commit-seq limb) — but a tombstoned key is physically
    * REMOVED at commit, so a LATER batch carrying a lower-seq row
    * resurrects it (SURVEY §7.4; the engine's documented semantics).
    * Each surviving key maps to its winning event and the index of the
    * batch that supplied it.
    */
  private def reduceStamped(batches: List[List[Ev]]): Map[Long, (Ev, Int)] =
    batches.zipWithIndex.foldLeft(Map.empty[Long, (Ev, Int)]) { case (st0, (batch, i)) =>
      val combined = batch.groupBy(_.id).map { case (id, vs) => id -> vs.maxBy(e => (e.seq, e.del)) }
      combined.foldLeft(st0) { case (st, (id, w)) =>
        val winner = st.get(id) match {
          case Some((ex, j)) if Ordering[(Int, Boolean)].gt((ex.seq, ex.del), (w.seq, w.del)) =>
            (ex, j)
          case _ => (w, i)
        }
        if (winner._1.del) st - id else st.updated(id, winner)
      }
    }

  private def reduceBatches(batches: List[List[Ev]]): Map[Long, String] =
    reduceStamped(batches).map { case (k, (e, _)) => k -> e.v }

  private def toDf(evs: List[Ev]) =
    evs.map(e => (e.id, e.v, f"${e.seq}%03d", e.del))
      .toDF("id", "v", "trx_seq", Meta.Deleted)

  private def snapshot(t: GraftTable): Map[Long, String] =
    t.readUser().select("id", "v").as[(Long, String)].collect().toMap

  test("upsert over any split of any event stream equals the naive reduction") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val rnd = new scala.util.Random(42)
    (1 to 12).foreach { trial =>
      val evs = genEvents(rnd)
      val root = Files.createTempDirectory("graft-law").toString
      val t = new GraftTable(spark, root, Seq("id"), targetFileBytes = 16 * 1024)
      val (a, b) = evs.splitAt(rnd.nextInt(evs.size + 1))
      // a last, schema-evolving batch adds a column the table lacks
      // (carried rows read it as NULL)
      val evolving = genEvents(rnd)
      val batches = List(a, b, evolving).filter(_.nonEmpty)
      val seqs = batches.map { bt =>
        val df = toDf(bt)
        t.upsert(if (bt eq evolving) df.withColumn("extra",
          concat(lit("x"), col("id").cast("string"))) else df).seq
      }
      val expected = reduceStamped(batches).map { case (k, (e, i)) =>
        k -> ((e.v, if (i == batches.size - 1) s"x$k" else "-", seqs(i)))
      }
      // every row carries the seq of the commit whose batch supplied it
      val got = t.read().selectExpr("id", "v", "coalesce(extra, '-')",
          s"`${Meta.CommitSeq}`")
        .as[(Long, String, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"trial $trial: events=$evs split=${a.size} evolving=$evolving")
    }
  }

  test("tombstone tie: a batch without the tombstone column ties as not deleted") {
    // stored (1, old, 005) then (1, new, 005): an exact ordering tie, so
    // the later commit wins whether or not the second batch carries the
    // tombstone column (a union null-fills it for a batch that lacks it)
    val stored = Seq((1L, "old", "005", false)).toDF("id", "v", "trx_seq", Meta.Deleted)
    for {
      tableType <- Seq(GraftTable.CopyOnWrite, GraftTable.MergeOnRead)
      carries <- Seq(true, false)
    } {
      val t = new GraftTable(spark, Files.createTempDirectory("graft-law-tomb").toString,
        Seq("id"), targetFileBytes = 16 * 1024, tableType = tableType)
      t.upsert(stored)
      val next = Seq((1L, "new", "005")).toDF("id", "v", "trx_seq")
      t.upsert(if (carries) next.withColumn(Meta.Deleted,
        org.apache.spark.sql.functions.lit(false)) else next)
      assert(snapshot(t) == Map(1L -> "new"),
        s"$tableType, batch carries the tombstone column: $carries")
    }
  }

  test("merge result is insensitive to row order within a batch and to COW/MOR path") {
    val rnd = new scala.util.Random(7)
    (1 to 6).foreach { trial =>
      val evs = genEvents(rnd)
      val shuffled = rnd.shuffle(evs)

      // one batch: row order within the batch must not matter
      val cow = new GraftTable(spark, Files.createTempDirectory("graft-law2").toString,
        Seq("id"), targetFileBytes = 16 * 1024)
      cow.upsert(toDf(shuffled))
      assert(snapshot(cow) == reduceBatches(List(shuffled)), s"trial $trial COW: $evs")

      // two batches through the MOR path: same stateful spec
      val mor = new GraftTable(spark, Files.createTempDirectory("graft-law3").toString,
        Seq("id"), targetFileBytes = 16 * 1024, tableType = GraftTable.MergeOnRead)
      val (a, b) = shuffled.splitAt(shuffled.size / 2)
      val expected = reduceBatches(List(a, b).filter(_.nonEmpty))
      if (a.nonEmpty) mor.upsert(toDf(a))
      if (b.nonEmpty) mor.upsert(toDf(b))
      assert(snapshot(mor) == expected, s"trial $trial MOR: $evs")
    }
  }

  test("planner law: RLI-planned and interval-planned upserts reach identical snapshots") {
    // the planner picks WHICH files rewrite, never WHAT the merge means —
    // for any event stream, a table with a maintained record-level index,
    // a bucketed table and a plain one must land on byte-identical user
    // snapshots. The batches go in unprecombined, repeated keys and all:
    // the one resolve over (affected files ∪ batch) is also the precombine
    val rnd = new scala.util.Random(4242)
    var repeated = 0
    (1 to 6).foreach { trial =>
      val evs = genEvents(rnd)
      val (a, b) = evs.splitAt(rnd.nextInt(evs.size + 1))
      if (List(a, b).exists(bt => bt.map(_.id).distinct.size < bt.size)) repeated += 1

      val interval = new GraftTable(spark,
        Files.createTempDirectory("graft-law-iv").toString,
        Seq("id"), targetFileBytes = 16 * 1024)
      val rli = new GraftTable(spark,
        Files.createTempDirectory("graft-law-rli").toString,
        Seq("id"), targetFileBytes = 16 * 1024, rliMaintain = true)
      val bucket = new GraftTable(spark,
        Files.createTempDirectory("graft-law-bkt").toString,
        Seq("id"), targetFileBytes = 16 * 1024, bucketCount = 4)

      Seq(interval, rli, bucket).foreach { t =>
        if (a.nonEmpty) t.upsert(toDf(a))
        if (b.nonEmpty) t.upsert(toDf(b))
      }
      // the second upsert (when both halves are non-empty) must have
      // actually exercised the RLI and bucket planners
      if (a.nonEmpty && b.nonEmpty) {
        assert(rli.lastPlanner == "rli", s"trial $trial: planner not engaged")
        assert(bucket.lastPlanner == "bucket", s"trial $trial: bucket planner not engaged")
      }
      val expected = reduceBatches(List(a, b).filter(_.nonEmpty))
      assert(snapshot(interval) == expected, s"trial $trial interval: $evs")
      assert(snapshot(rli) == expected, s"trial $trial rli: $evs")
      assert(snapshot(bucket) == expected, s"trial $trial bucket: $evs")
    }
    assert(repeated > 0, "no trial fed a batch with a repeated key")
  }

  test("insert-only law: a batch of new, repeated keys over an existing table equals the reduction") {
    // every batch key is above the table's key range, so no file is
    // affected: the batch alone is resolved (no stored row to merge with)
    val rnd = new scala.util.Random(5151)
    (1 to 4).foreach { trial =>
      val base = genEvents(rnd)
      val fresh = genEvents(rnd).map(e => e.copy(id = e.id + 100))
      val t = new GraftTable(spark, Files.createTempDirectory("graft-law-ins").toString,
        Seq("id"), targetFileBytes = 16 * 1024)
      val batches = List(base, fresh)
      val seqs = batches.map(bt => t.upsert(toDf(bt)))
      assert(seqs.last.extra("files_rewritten") == "0", s"trial $trial: a file was affected")
      val expected = reduceStamped(batches).map { case (k, (e, i)) => k -> ((e.v, seqs(i).seq)) }
      val got = t.read().selectExpr("id", "v", s"`${Meta.CommitSeq}`")
        .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"trial $trial: base=$base fresh=$fresh")
    }
  }

  test("partial-update law: a batch that deletes and re-inserts a stored key starts a new epoch") {
    // stored key 1 carries (a1, 1); one batch updates it, deletes it and
    // re-inserts it with only `b` set: the re-insert must not inherit a
    // pre-delete `a`, from the batch or from the stored row. Key 2's
    // partial update in the same batch keeps its stored `a`
    val t = new GraftTable(spark, Files.createTempDirectory("graft-plaw-epoch").toString,
      Seq("id"), targetFileBytes = 16 * 1024, partialUpdate = true)
    def df(rows: Seq[(Long, Option[String], Option[Long], String, Boolean)]) =
      rows.toDF("id", "a", "b", "trx_seq", Meta.Deleted)
    t.upsert(df(Seq((1L, Some("a1"), Some(1L), "00001", false),
      (2L, Some("a2"), Some(2L), "00001", false))))
    val c = t.upsert(df(Seq(
      (1L, Some("u"), None, "00002", false),
      (1L, None, None, "00003", true),
      (1L, None, Some(9L), "00004", false),
      (2L, None, Some(7L), "00005", false))))
    assert(c.extra("files_rewritten").toInt >= 1, "the stored keys' file must be affected")
    val got = t.readUser().select($"id", $"a", $"b")
      .as[(Long, Option[String], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((None, Some(9L))), 2L -> ((Some("a2"), Some(7L)))))
  }

  test("partial-update law: any IN-ORDER batch split equals the sequential per-column fold") {
    // reference model: apply events in seq order — a delete wipes the
    // key (epoch reset); a normal event overlays only its non-null cols
    case class PEv(id: Long, a: Option[String], b: Option[Long], seq: Int, del: Boolean)
    def fold(evs: Seq[PEv]): Map[Long, (Option[String], Option[Long])] =
      evs.sortBy(_.seq).foldLeft(Map.empty[Long, (Option[String], Option[Long])]) {
        case (st, e) if e.del => st - e.id
        case (st, e) =>
          val (a0, b0) = st.getOrElse(e.id, (None, None))
          st.updated(e.id, (e.a.orElse(a0), e.b.orElse(b0)))
      }
    (1 to 4).foreach { trial =>
      val rnd = new scala.util.Random(1000 + trial)
      // unique seq per event; per-key order within the stream = seq order
      val evs = rnd.shuffle((1 to 60).toList).zipWithIndex.map { case (seq, i) =>
        PEv(1L + rnd.nextInt(10),
          if (rnd.nextInt(3) == 0) None else Some(s"a$seq"),
          if (rnd.nextInt(3) == 0) None else Some(seq.toLong),
          seq, rnd.nextInt(6) == 0)
      }.sortBy(_.seq) // IN-ORDER arrival — the law's precondition
      // random order-preserving split into 1..5 batches
      val cuts = (0 until rnd.nextInt(5)).map(_ => rnd.nextInt(evs.size)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(evs.size)).distinct.sliding(2)
        .map { case Seq(from, to) => evs.slice(from, to) }.filter(_.nonEmpty).toList
      val t = new GraftTable(spark, Files.createTempDirectory(s"graft-plaw$trial").toString,
        Seq("id"), targetFileBytes = 16 * 1024, partialUpdate = true)
      batches.foreach { b =>
        t.upsert(b.map(e => (e.id, e.a, e.b, f"${e.seq}%05d", e.del))
          .toDF("id", "a", "b", "trx_seq", Meta.Deleted))
      }
      val got = t.readUser().select($"id", $"a", $"b")
        .as[(Long, Option[String], Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == fold(evs),
        s"trial $trial (${batches.size} batches) diverged from the sequential fold")
    }
  }

  test("tombstone resurrection: COW resurrects across commits, MOR logs keep the delete visible") {
    import org.apache.spark.sql.functions.lit
    // batch1: insert k@10 — batch2: delete k@30 — batch3: late update k@20
    def batches = Seq(
      Seq((1L, "v10", "010", false)),
      Seq((1L, "del", "030", true)),
      Seq((1L, "v20", "020", false)))

    val cow = new GraftTable(spark, Files.createTempDirectory("graft-res-cow").toString,
      Seq("id"), targetFileBytes = 16 * 1024)
    batches.foreach(b => cow.upsert(b.toDF("id", "v", "trx_seq", Meta.Deleted)))
    // COW: the delete physically removed the key, the late update re-inserts
    assert(snapshot(cow) == Map(1L -> "v20"))

    val mor = new GraftTable(spark, Files.createTempDirectory("graft-res-mor").toString,
      Seq("id"), targetFileBytes = 16 * 1024, tableType = GraftTable.MergeOnRead)
    batches.foreach(b => mor.upsert(b.toDF("id", "v", "trx_seq", Meta.Deleted)))
    // MOR: the tombstone still sits in the delta log, so seq order holds
    // until compaction (same divergence Hudi COW vs MOR exhibits)
    assert(snapshot(mor) == Map.empty[Long, String])
    mor.compact()
    assert(snapshot(mor) == Map.empty[Long, String])
    // post-compaction the tombstone is physically gone: a late row re-inserts
    mor.upsert(Seq((1L, "v15", "015", false)).toDF("id", "v", "trx_seq", Meta.Deleted))
    assert(snapshot(mor) == Map(1L -> "v15"))
  }
}
