package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape pins for the round-5 operators: the properties that
  * make them survive a 100× scale-up, asserted so a regression shows up as
  * a red test rather than a silent plan change. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("uniform sample and vocab top-k are TakeOrdered, never a global sort") {
    assert(plan("sample_uniform").contains("TakeOrderedAndProject"))
    assert(plan("text_vocab").contains("TakeOrderedAndProject"))
  }

  test("tf-idf joins stay equi (no nested-loop/cartesian) and prune the scan") {
    val p = plan("text_tfidf")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // only doc_id + text leave the parquet scan
    assert(!p.contains("n_chars") && !p.contains("source"))
  }

  test("repetition stats aggregate with map-side partials and no joins at all") {
    val p = plan("text_repetition")
    assert(!p.contains("Join"))
    assert(p.contains("partial_count") || p.contains("partial"))
  }

  test("decontamination broadcasts the eval hash set; train side never shuffles for the join") {
    val p = plan("dedup_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
  }

  test("cluster assignment is equi-join based (no all-pairs anywhere)") {
    val p = plan("dedup_clusters")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("PII scrub is a pure narrow map: no shuffle, no join, no UDF") {
    val p = plan("text_pii_scrub")
    assert(!p.contains("Exchange") && !p.contains("Join"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    // the regexes run inside whole-stage codegen, at scan speed
    // (executedPlan.toString marks codegen stages with "*(n)")
    assert(p.contains("*(1)"))
  }

  test("domain census broadcasts the blocklist; corpus scanned once") {
    val p = plan("text_domain_census")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("ngram decontamination broadcasts the eval grams; train side joins semi") {
    val p = plan("dedup_ngram_decontaminate")
    // the gram membership test must be a broadcast semi-join (the only
    // BNLJ allowed is the final 1x1-row scalar summary crossJoin)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("sequence packing windows are partitioned on the data path") {
    // the only unpartitioned window may be the O(buckets)-row offsets
    // aggregate, never the per-document cumsum
    val df = SparkEntry.queries("sample_pack_shards")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("_b")), "in-bucket cumsum window missing")
  }

  test("minhash verification prefilters candidates before the posting-list joins") {
    val df = SparkEntry.queries("dedup_minhash")(spark, dir)
    val p = df.queryExecution.optimizedPlan.toString
    // the exact size bound (least/greatest on shingle counts) must sit
    // between candidate generation and the expensive shingle joins
    assert(p.contains("least(") && p.contains("greatest("))
  }

  test("containment derives both directions in one pass — no plan-doubling union") {
    val p = plan("dedup_containment")
    // a self-union of two selects over the scored pairs would re-run the
    // whole posting join per branch; the explode form runs it once
    assert(!p.contains("Union"))
    assert(p.contains("Generate"))
  }

  test("explicit-value pivot is one aggregate pass, no value-discovery job") {
    val p = plan("tr3_agg_pivot")
    // implicit pivot first runs a distinct over the pivot column; the
    // explicit value list must compile to plain hash aggregates only
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join") && !p.contains("Expand"))
  }

  test("lateral correlated LIMIT decorrelates — no nested-loop re-execution") {
    val p = plan("tr2_join_lateral")
    // Catalyst must rewrite the per-row subquery into a ranked window +
    // equi-join; a BNLJ/cartesian here would re-run the subquery per row
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Window") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"))
  }

  test("column-range read schedules EXACTLY the stat-overlapping files") {
    import org.apache.spark.sql.functions._
    // tracked column correlated with the key so skipping actually bites
    val t = new graft.operators.GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft-planshape").toString,
      Seq("id"), targetFileBytes = 16 * 1024, statsColumns = Seq("v"))
    import spark.implicits._
    t.bulkInsert((0L until 4000L).toDF("id")
      .withColumn("v", col("id") * 3).withColumn("trx_seq", lit("001")))
    val all = t.latestCommit().get.files
    val kept = graft.operators.GraftTable
      .filesInColumnRange(all, "v", "long", "300", "900")
    assert(kept.size < all.size, "correlated column must prune")
    val df = t.readColumnRange("v", 300L, 900L)
    // the physical scan's file list must be exactly the kept set — if the
    // read path ever drops filesInColumnRange, this count snaps back to all
    val scannedFiles = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scannedFiles == kept.size,
      s"scan reads $scannedFiles files, stats admit ${kept.size}")
    // and the residual range predicate is pushed into the parquet scan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("v"))
  }

  test("column-bloom equality lookup schedules only bloom-admitted files") {
    import org.apache.spark.sql.functions._
    // secondary column DECORRELATED from the key layout: every file's
    // [min, max] range spans nearly the whole domain, so range stats
    // admit everything and only the bloom can prune
    val t = new graft.operators.GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft-colbloom").toString,
      Seq("id"), targetFileBytes = 16 * 1024,
      statsColumns = Seq("u"), bloomColumns = Seq("u"))
    import spark.implicits._
    t.bulkInsert((0L until 4000L).toDF("id")
      .withColumn("u", pmod(col("id") * 2654435761L, lit(100000L)))
      .withColumn("trx_seq", lit("001")))
    val all = t.latestCommit().get.files
    assert(all.size >= 8 && all.forall(_.colBlooms.contains("u")))
    // pick a value that exists; its home file count is tiny
    val probe = (1234L * 2654435761L) % 100000L
    val df = t.readColumnEquals("u", probe)
    val scannedFiles = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scannedFiles < all.size,
      s"bloom must prune ($scannedFiles of ${all.size} files scanned)")
    // exactness: the pruned scan returns exactly the matching rows
    assert(df.filter(col("id") === 1234L).count() == 1)
    assert(df.count() ==
      t.read().filter(col("u") === probe).count())
  }

  test("MOR point read counts base and log files on both sides of its probe count") {
    import org.apache.spark.sql.functions.lit
    val t = new graft.operators.GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft-morprobe").toString,
      Seq("id"), tableType = graft.operators.GraftTable.MergeOnRead)
    val sess = spark
    import sess.implicits._
    t.bulkInsert((0L until 100L).toDF("id")
      .withColumn("v", lit("a")).withColumn("trx_seq", lit("001")))
    t.upsert(Seq((7L, "b", "002")).toDF("id", "v", "trx_seq"))
    val c = t.latestCommit().get
    assert(c.files.size == 1 && c.logFiles.size == 1)
    assert(t.readKeys(Seq(7L)).select("v").as[String].collect().toSeq == Seq("b"))
    val (admitted, total) = t.lastPointRead.getOrElse(fail("no point read recorded"))
    // the base file and the log both hold key 7: both are admitted, and
    // the total counts them both too
    assert(admitted <= total && total == 2, s"point read admitted $admitted/$total")
    t.readKeyRange(7L, 7L)
    assert(t.lastRangeRead.contains((2, 2)), s"range read ${t.lastRangeRead}")
  }

  test("bootstrap scans keep user-column pushdown; only the derived key is residual") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-bootplan")
    (0L until 2000L).toDF("id").withColumn("v", col("id") * 7)
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
      .write.parquet(s"$base/raw")
    val t = new graft.operators.GraftTable(spark, s"$base/t", Seq("id"),
      targetFileBytes = 16 * 1024)
    t.bootstrap(s"$base/raw")
    // a filter on a PHYSICAL column pushes into the parquet scan even
    // though the scan also derives the synthetic record key per row
    val df = t.read().filter(col("v") >= 700L && col("v") <= 1400L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(v"),
      s"user-column predicate must reach the scan:\n$p")
    assert(df.count() == 101)
    // key-range reads prune files through the DERIVED intervals before
    // any task is scheduled
    val kr = t.readKeyRange(0L, 100L)
    val scannedFiles = kr.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scannedFiles < t.latestCommit().get.files.size,
      s"derived intervals must prune the bootstrap scan ($scannedFiles files)")
  }

  test("changesDiff scans the changed file neighborhood, not two full snapshots") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = new graft.operators.GraftTable(spark,
      java.nio.file.Files.createTempDirectory("graft-diffplan").toString,
      Seq("id"), targetFileBytes = 8 * 1024)
    t.bulkInsert((0L until 4000L).map(i => (i, s"v$i", "001"))
      .toDF("id", "v", "trx_seq"))
    val before = t.latestCommit().get.files.size
    assert(before >= 8, s"need a multi-file table (got $before)")
    // adjacent commit touching one narrow key range → one file group moves
    t.upsert(Seq((10L, "u10", "002"), (11L, "u11", "002"))
      .toDF("id", "v", "trx_seq"))
    val after = t.latestCommit().get.files.size
    val df = t.changesDiff(0, 1)
    val scanned = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scanned < (before + after) / 2,
      s"adjacent-commit diff must prune the untouched groups " +
        s"(scanned $scanned of ${before + after})")
    // and the pruned diff is exact
    val got = df.select(col(graft.model.Meta.RecordKey).cast("long"), col("op"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((10L, "U"), (11L, "U")))
  }

  test("script census is a pure narrow map: no shuffle, no join, codegen'd") {
    val p = plan("text_script_census")
    assert(!p.contains("Exchange") && !p.contains("Join"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
    assert(p.contains("*(1)"))
  }

  test("mixture weights are one aggregate + a broadcast 1-row normalizer") {
    val p = plan("sample_mixture_weights")
    // the normalizer join must broadcast (1 row), never shuffle the counts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("suffix dedup: distinct-value window on range buckets, equi join-back, no UDF") {
    val p = plan("dedup_suffix")
    assert(!p.contains("ScalaUDF"), "LCP must be codegen'd higher-order functions")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the value-LCP join-back must stay an equi join")
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows == 1, s"exactly one window pass, over DISTINCT values ($windows found)")
    // the skew guard: the window partitions by the sampled range bucket
    // (_b), never by a raw text prefix — a substr in the window partition
    // spec would resurrect the round-11 Zipf hot-prefix hazard
    assert(p.contains("_b"), "window must partition on the range-bucket column")
    assert(!"partitionby.*substr|windowspecdefinition\\(substr".r
      .findFirstIn(p.toLowerCase).isDefined,
      "no prefix-substr window partitioning")
    // identical-value skew dies in a map-side-combined aggregate BEFORE
    // any sort: the distinct-value groupBy must show a partial pass
    assert("partial_count".r.findFirstIn(p).isDefined,
      "distinct-value collapse must be a partial (map-side) aggregate")
  }

  test("classifier scoring broadcasts the weight vector; no all-pairs, no UDF") {
    // audit the shared scoring constructor — the SAME plan every training
    // round and the final output run (the output DataFrame itself is
    // checkpoint-pinned while the feature cache is live, so its own plan
    // is an opaque ExistingRDD scan by design)
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val feats = graft.llm.Classifier.hashedFeatures(docs, "doc_id", "text", 512, binary = true)
    val p = graft.llm.Classifier.scorePlan(feats, Seq.fill(513)(0L))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the O(dims) weight vector must broadcast-join the feature table")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("ScalaUDF"), "feature hashing must be codegen'd")
  }

  test("suffix removal joins stay equi; windows are per-doc partitioned") {
    val p = plan("dedup_suffix_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "interval merge + gap surgery must never go all-pairs")
    assert(!p.contains("ScalaUDF"))
  }

  test("join-view dim churn prunes the view scan through fk stats (branch 2)") {
    import graft.operators.{GraftTable, IncrementalJoin}
    val sess = spark
    import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-psfk")
    val left = new GraftTable(spark, s"$base/l", Seq("id"),
      targetFileBytes = 8 * 1024)
    left.bulkInsert((0L until 4000L).map(i => (i, i % 100, s"fact$i"))
      .toDF("id", "fk", "lv"))
    val right = new GraftTable(spark, s"$base/r", Seq("fk"),
      targetFileBytes = 64 * 1024)
    right.bulkInsert((0L until 100L).map(k => (k, s"dim$k")).toDF("fk", "rv"))
    // create() lays the view out fk-sorted with fk column stats tracked
    val view = IncrementalJoin.create(spark, left, right, s"$base/v",
      Seq("fk" -> "fk"), targetFileBytes = 8 * 1024)
    // one-dim-key churn window: branch 2 must scan < half the view files
    right.upsert(Seq((50L, "dim50x")).toDF("fk", "rv"))
    IncrementalJoin.maintain(left, right, view, Seq("fk" -> "fk"),
      0L, 0L, 0L, 1L)
    val (admitted, total) = IncrementalJoin.lastFanScan.getOrElse(
      fail("branch 2 must run through the stats-pruned view read"))
    assert(total >= 6, s"fixture must spread the view over many files (got $total)")
    assert(admitted * 2 < total,
      s"one-key dim churn must scan < half the view's files ($admitted/$total)")
    // and the fan-out is still exact: every fk=50 row carries the update
    import org.apache.spark.sql.functions.col
    val vals = view.readUser().filter(col("fk") === 50L)
      .select(col("rv")).distinct().as[String].collect().toSeq
    assert(vals == Seq("dim50x"))
  }

  test("span-census partner update point-reads the census, never scans it") {
    // the 100-TB claim behind IncrementalSpanCensus's partner arithmetic:
    // an UNCHANGED partner's stored census row comes through the key
    // index (interval-pruned point read), so a one-crossing wave touches
    // O(1) census files — not the state
    import graft.operators.GraftTable
    import graft.llm.{IncrementalSpanCensus => ISC}
    import org.apache.spark.sql.functions.{col, lit}
    val sess = spark
    import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-pspan")
    val src = new GraftTable(spark, s"$base/src", Seq("id"),
      targetFileBytes = 8 * 1024)
    // 1200 docs, each one unique 3-gram; census spread over many tiny files
    src.bulkInsert((0L until 1200L).map(i => (i, s"w$i x$i y$i"))
      .toDF("id", "text")
      .withColumn(graft.model.Meta.Ordering, lit(f"${1}%020d"))
      .withColumn(graft.model.Meta.Deleted, lit(false)))
    val st = ISC.State(
      new GraftTable(spark, s"$base/state/df", Seq("sh"),
        targetFileBytes = 4 * 1024),
      new GraftTable(spark, s"$base/state/post", Seq("sh", "id"),
        targetFileBytes = 4 * 1024),
      new GraftTable(spark, s"$base/state/out", Seq("id"),
        targetFileBytes = 4 * 1024))
    ISC.bootstrap(src, st, "id", "text", 3, 0L)
    val total0 = st.out.latestCommit().get.files.size
    assert(total0 >= 6, s"fixture must spread the census over many files (got $total0)")
    // ONE crossing: a new doc duplicates doc 7's shingle — the partner's
    // stored row must point-read, admitting < half the census files
    st.out.lastPointRead = None
    src.upsert(Seq((9000L, "w7 x7 y7")).toDF("id", "text")
      .withColumn(graft.model.Meta.Ordering, lit(f"${2}%020d"))
      .withColumn(graft.model.Meta.Deleted, lit(false)))
    ISC.maintain(src, st, "id", "text", 3, 0L, 1L)
    val (admitted, total) = st.out.lastPointRead.getOrElse(
      fail("the partner update must run through the point-read path"))
    assert(admitted * 2 < total,
      s"one-crossing wave must point-read the census ($admitted/$total files)")
    // and the arithmetic is exact: the unchanged partner now censuses dup
    assert(ISC.output(st).filter(col("id") === 7L)
      .select(col("n_dup")).as[Long].head() == 1L)
  }

  test("dedup census range-prunes the band store to the wave's buckets") {
    // the 100-TB claim behind IncrementalDedup's persisted band store
    // (round-18 verdict #2): a one-doc wave's density/candidate census
    // reads only the buckets that doc touches — per-bk range reads over
    // the (bk, rid) key layout — never the whole signature store
    import graft.operators.GraftTable
    import graft.llm.{IncrementalDedup => IDD}
    import org.apache.spark.sql.functions.{col, lit}
    val sess = spark
    import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-pbands")
    val src = new GraftTable(spark, s"$base/src", Seq("id"),
      targetFileBytes = 8 * 1024)
    src.bulkInsert((0L until 1200L).map(i => (i, s"a$i b$i c$i d$i e$i"))
      .toDF("id", "text")
      .withColumn(graft.model.Meta.Ordering, lit(f"${1}%020d"))
      .withColumn(graft.model.Meta.Deleted, lit(false)))
    val st = new GraftTable(spark, s"$base/state", Seq("id"),
      targetFileBytes = 8 * 1024)
    IDD.bootstrap(src, st, "id", "text", IDD.Params(), 0L)
    val bandsT = GraftTable.open(spark, IDD.bandsRootOf(st))
    val total0 = bandsT.latestCommit().get.files.size
    assert(total0 >= 6,
      s"fixture must spread the band store over many files (got $total0)")
    // ONE near-dup doc (J=0.75 vs doc 7): its census must range-read
    IDD.lastBandsRead = None
    src.upsert(Seq((9000L, "a7 b7 c7 d7 e7 zz")).toDF("id", "text")
      .withColumn(graft.model.Meta.Ordering, lit(f"${2}%020d"))
      .withColumn(graft.model.Meta.Deleted, lit(false)))
    IDD.maintain(src, st, "id", "text", IDD.Params(), 0L, 1L)
    val (admitted, total) = IDD.lastBandsRead.getOrElse(
      fail("the census must run through the band-store range-read path"))
    assert(total >= 6, s"band store must stay multi-file (got $total)")
    assert(admitted * 2 < total,
      s"a one-doc wave must admit < half the band store ($admitted/$total files)")
    // and the wave is exact: the new doc clusters with doc 7
    val comps = st.readUser().filter(col("id").isin(7L, 9000L))
      .select(col("comp")).distinct().as[Long].collect().toSeq
    assert(comps == Seq(7L), s"near-dup must cluster with doc 7 (got $comps)")
  }

  test("LM scoring joins stay equi; the corpus is never nested-looped") {
    val p = plan("text_lm_score")
    // doc-bigrams x model joins must be EQUI joins (hash or sort-merge —
    // both scale as key shuffles); what must never appear is an all-pairs
    // plan, and the only nested-loop allowed is the 1-row vocab broadcast
    assert(!p.contains("CartesianProduct"))
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nested <= 1, s"only the 1-row vocab broadcast may nest ($nested found)")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), "the model joins must be equi-joins")
  }
}
