package graft.core

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Proves the production layout actually prunes: a model-major read of
  * the bucketed score lake opens only its bucket's files. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("score lake: partition pruning limits the scan to one bucket") {
    val dir = Files.createTempDirectory("lake").resolve("scores").toString
    val scores = spark.range(0, 2000).select(
      ($"id" % 40).as("vid_id"),
      ($"id" % 200).as("model_id"),
      array(lit(0.1), lit(0.2)).as("score"))
    Layout.writeScoreLake(scores, dir)

    val read = Layout.scoresFor(spark, dir, modelId = 7L)
    // correctness: exactly the rows for model 7
    assert(read.count() == scores.filter($"model_id" === 7).count())
    assert(read.select(countDistinct($"model_id")).head().getLong(0) == 1)

    // pruning: the file scan claims the partition filter and reads only
    // the one bucket directory
    val scan = read.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "expected partition filters on model_bucket")
    val files = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    val dirs = files.flatMap(_.files.map(_.getPath.getParent.getName)).distinct
    assert(dirs == Seq(s"model_bucket=${Layout.bucketOf(7L)}"),
      s"scan touched partitions: $dirs")
  }

  test("bucketed pair layout: the q07-shaped orderkey join plans with ZERO Exchange") {
    val dir = Files.createTempDirectory("bucketed").toString
    // force the shuffle-or-not question to matter: no broadcast escape
    // hatch (sf0.001 orders would broadcast and trivialize the proof)
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
      Layout.writeBucketed(
        Tables.lineitem(spark, Sf0001)
          .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
        "li_bucketed", s"$dir/li", "l_orderkey", 8, Seq("l_orderkey"))
      Layout.writeBucketed(
        Tables.orders(spark, Sf0001).select($"o_orderkey", $"o_custkey"),
        "ord_bucketed", s"$dir/ord", "o_orderkey", 8, Seq("o_orderkey"))

      // the q07 hot pair: fact⋈fact on the bucket key, then a same-key
      // rollup that must ride the join's output partitioning
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey")
        .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      val got = joined.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      // zero Exchange anywhere in the executed plan: the join AND the
      // same-key aggregate are both satisfied by the bucket layout
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; executed plan:\n$plan")

      // and the layout changed the plan, not the answer: same rollup
      // over the plain parquet reads
      val want = Tables.lineitem(spark, Sf0001)
        .join(Tables.orders(spark, Sf0001), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey")
        .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == want.size)
      want.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-6, s"orderkey $k") }
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("compactLake: bin-packs fragmented partitions, preserves content, idempotent re-run") {
    val dir = Files.createTempDirectory("compact").resolve("lake").toString
    val docs = spark.range(0, 300).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 3).cast("string")).as("source"))
    docs.repartition($"source")
      .write.partitionBy("source").option("maxRecordsPerFile", 7L).parquet(dir)

    val stats = Layout.compactLake(spark, dir, "source", targetRecordsPerFile = 50L)
    assert(stats.map(_.partition) == Seq("s0", "s1", "s2"))
    stats.foreach { st =>
      assert(st.rows == 100)
      assert(st.filesBefore == 15, st)   // ceil(100/7)
      assert(st.filesAfter == 2, st)     // ceil(100/50)
    }
    // content survived the rewrite+swap byte-for-byte (ids and routing)
    val back = spark.read.parquet(dir)
    assert(back.count() == 300)
    assert(back.groupBy($"source").agg(sum($"doc_id").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      docs.groupBy($"source").agg(sum($"doc_id").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    // idempotent: a second run rewrites nothing
    val again = Layout.compactLake(spark, dir, "source", targetRecordsPerFile = 50L)
    again.foreach(st => assert(st.filesBefore == 2 && st.filesAfter == 2, st))
  }

  test("compactLake: crash states between the swap renames self-heal") {
    val root = Files.createTempDirectory("compact2").resolve("lake")
    val dir = root.toString
    spark.range(0, 90).select(
      $"id".as("doc_id"),
      concat(lit("p"), ($"id" % 3).cast("string")).as("source"))
      .repartition($"source")
      .write.partitionBy("source").option("maxRecordsPerFile", 5L).parquet(dir)

    // crash MID-swap: old moved out, staged copy never moved in —
    // partition p0 is missing from the lake, its rows live only in
    // .compact_old_p0 (plus a stale half-written staging dir)
    Files.move(root.resolve("source=p0"), root.resolve(".compact_old_p0"))
    Files.createDirectories(root.resolve(".compact_tmp_p1"))
    // crash POST-swap: new dir in place, old dir never cleaned
    Files.createDirectories(root.resolve(".compact_old_p2").resolve("junk"))

    val stats = Layout.compactLake(spark, dir, "source", targetRecordsPerFile = 100L)
    // p0 rolled back before the count scan: all 3 partitions compacted
    assert(stats.map(_.partition) == Seq("p0", "p1", "p2"))
    assert(stats.forall(_.rows == 30))
    assert(stats.forall(_.filesAfter == 1))
    assert(spark.read.parquet(dir).count() == 90)
    // every crash-state artifact healed away
    assert(!Files.exists(root.resolve(".compact_old_p0")))
    assert(!Files.exists(root.resolve(".compact_tmp_p1")))
    assert(!Files.exists(root.resolve(".compact_old_p2")))
  }

  test("manifest lake: append/read round-trip, compaction bin-packs, idempotent") {
    val dir = Files.createTempDirectory("mlake").resolve("lake").toString
    val docs = spark.range(0, 300).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 3).cast("string")).as("source"))
    val s1 = ManifestLake.append(spark, dir, docs.repartition($"source"), "source",
      maxRecordsPerFile = 7L)
    assert(s1.version == 1L)
    assert(s1.files.length == 45, s1.files.length) // 3 × ceil(100/7)

    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 300)
    assert(back.columns.contains("source"), "basePath read must keep the partition column")

    val stats = ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 50L)
    assert(stats.map(_.partition) == Seq("s0", "s1", "s2"))
    stats.foreach { st =>
      assert(st.rows == 100)
      assert(st.filesBefore == 15, st)
      assert(st.filesAfter == 2, st)
    }
    // content identical through the swap
    assert(ManifestLake.read(spark, dir)
      .groupBy($"source").agg(sum($"doc_id").as("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      docs.groupBy($"source").agg(sum($"doc_id").as("s")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    // idempotent: second compaction rewrites nothing, commits nothing
    val v = ManifestLake.latestSnapshot(dir).get.version
    val again = ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 50L)
    again.foreach(st => assert(st.filesBefore == 2 && st.filesAfter == 2, st))
    assert(ManifestLake.latestSnapshot(dir).get.version == v,
      "a no-op compaction must not burn a manifest version")
  }

  test("manifest lake: compaction rebases over a concurrent append — zero rows lost") {
    val dir = Files.createTempDirectory("mlake2").resolve("lake").toString
    val init = spark.range(0, 200).select(
      $"id".as("doc_id"),
      concat(lit("c"), ($"id" % 2).cast("string")).as("source"))
    ManifestLake.append(spark, dir, init.repartition($"source"), "source",
      maxRecordsPerFile = 5L)

    // The race, pinned: a writer commits an append AFTER compaction
    // snapshotted + rewrote, BEFORE it commits. The rename-swap
    // protocol loses this writer's files (they land in the directory
    // the swap renames away); the manifest rebase must keep them.
    val late = spark.range(1000, 1040).select(
      $"id".as("doc_id"),
      concat(lit("c"), ($"id" % 2).cast("string")).as("source"))
    val stats = ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 100L, maxConcurrent = 8,
      beforeCommit = () => {
        ManifestLake.append(spark, dir, late.repartition($"source"), "source",
          maxRecordsPerFile = 5L); ()
      }, clusterBy = None, onlyPartitions = None)
    assert(stats.forall(st => st.filesBefore == 20 && st.filesAfter == 1), stats)

    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 240, "late append must survive the compaction commit")
    assert(back.filter($"doc_id" >= 1000).count() == 40)
    assert(back.filter($"doc_id" < 200).count() == 200)
  }

  test("manifest lake: concurrent appenders + compactor, all commits land") {
    val dir = Files.createTempDirectory("mlake3").resolve("lake").toString
    val init = spark.range(0, 100).select(
      $"id".as("doc_id"), lit("p0").as("source"))
    ManifestLake.append(spark, dir, init, "source", maxRecordsPerFile = 4L)

    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writers = (1 to 4).map { i =>
      Future {
        val df = spark.range(i * 1000, i * 1000 + 25).select(
          $"id".as("doc_id"), lit("p0").as("source"))
        ManifestLake.append(spark, dir, df, "source", maxRecordsPerFile = 4L)
      }
    }
    val compactor = Future {
      ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 200L)
    }
    Await.result(Future.sequence(writers :+ compactor.map(_ => null)), 120.seconds)

    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 200, "4 appenders × 25 rows + 100 init — CAS loop must lose none")
    assert(back.select(countDistinct($"doc_id")).head().getLong(0) == 200)
  }

  test("manifest lake: appendBatch is exactly-once under re-delivery") {
    val dir = Files.createTempDirectory("mlake5").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("doc_id"), lit("b0").as("source"))

    ManifestLake.appendBatch(spark, dir, batch(0, 50), "source", "streamA", batchId = 0L)
    ManifestLake.appendBatch(spark, dir, batch(50, 80), "source", "streamA", batchId = 1L)
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.txns == Map("streamA" -> 1L))

    // crash-replay: batch 1 re-delivered — must not stage, commit, or
    // burn a version
    ManifestLake.appendBatch(spark, dir, batch(50, 80), "source", "streamA", batchId = 1L)
    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.version == v2.version, "duplicate batch must not commit")
    assert(ManifestLake.read(spark, dir).count() == 80)
    assert(ManifestLake.read(spark, dir).select(countDistinct($"doc_id")).head().getLong(0) == 80)

    // a SECOND app's batch ids are independent high-waters
    ManifestLake.appendBatch(spark, dir, batch(100, 110), "source", "streamB", batchId = 0L)
    assert(ManifestLake.latestSnapshot(dir).get.txns ==
      Map("streamA" -> 1L, "streamB" -> 0L))
    assert(ManifestLake.read(spark, dir).count() == 90)
  }

  test("manifest lake: exactly-once survives compaction and vacuum") {
    val dir = Files.createTempDirectory("mlake6").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("doc_id"), lit("c0").as("source"))
    ManifestLake.appendBatch(spark, dir, batch(0, 60), "source", "s", 0L,
      maxRecordsPerFile = 5L)
    ManifestLake.appendBatch(spark, dir, batch(60, 100), "source", "s", 1L,
      maxRecordsPerFile = 5L)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 200L)
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    // the compaction commit must carry the txn high-waters forward —
    // otherwise a post-compaction crash replays old batches as new rows
    ManifestLake.appendBatch(spark, dir, batch(60, 100), "source", "s", 1L)
    assert(ManifestLake.read(spark, dir).count() == 100)
  }

  test("manifest lake: streamSink drives a real structured stream exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("mlake7").resolve("lake").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "source")
      .writeStream.foreachBatch(ManifestLake.streamSink(dir, "source"))
      .option("checkpointLocation",
        Files.createTempDirectory("mlake7ckpt").toString)
      .start()
    ms.addData((1L, "x"), (2L, "x"), (3L, "y"))
    q.processAllAvailable()
    ms.addData((4L, "y"))
    q.processAllAvailable()
    q.stop()
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 4)
    assert(back.filter($"source" === "y").count() == 2)
    // replaying batch 0 by hand (the restart-after-crash path) is a no-op
    val v = ManifestLake.latestSnapshot(dir).get.version
    ManifestLake.streamSink(dir, "source")(
      Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "source"), 0L)
    assert(ManifestLake.latestSnapshot(dir).get.version == v)
    assert(ManifestLake.read(spark, dir).count() == 4)
  }

  test("manifest lake: footer stats in the manifest prune files before any open") {
    val dir = Files.createTempDirectory("mlake8").resolve("lake").toString
    // range-clustered write: 10 tasks → 10 files, each covering ~100
    // contiguous doc_ids, stats read from each footer at commit
    val docs = spark.range(0, 1000).select(
      $"id".as("doc_id"), lit("s0").as("source"))
    ManifestLake.append(spark, dir, docs.repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.length == 10)
    assert(snap.stats.size == 10, "every clustered file must carry footer stats")

    // a point-ish range touches 1-2 of 10 files — pruning must see that
    // from the manifest alone
    val kept = ManifestLake.pruneFiles(snap, "doc_id", BigDecimal(250), BigDecimal(260))
    assert(kept.nonEmpty && kept.length <= 2, s"kept ${kept.length} of 10")

    val got = ManifestLake.readWhere(spark, dir, "doc_id", BigDecimal(250), BigDecimal(260))
    assert(got.count() == 11)
    assert(got.agg(sum($"doc_id")).head().getLong(0) == (250 to 260).sum)

    // out-of-range: zero files open, empty result, correct schema
    val none = ManifestLake.readWhere(spark, dir, "doc_id", BigDecimal(5000), BigDecimal(6000))
    assert(none.count() == 0)
    assert(none.columns.contains("source"))

    // an untracked append is conservatively KEPT by pruning (never
    // silently skipped), and still filtered row-precisely
    ManifestLake.append(spark, dir,
      spark.range(2000, 2010).select($"id".as("doc_id"), lit("s0").as("source")),
      "source") // no statsCol
    val snap2 = ManifestLake.latestSnapshot(dir).get
    val kept2 = ManifestLake.pruneFiles(snap2, "doc_id", BigDecimal(250), BigDecimal(260))
    assert(kept2.length == kept.length + (snap2.files.length - 10),
      "files without stats must survive pruning")
    assert(ManifestLake.readWhere(spark, dir, "doc_id",
      BigDecimal(250), BigDecimal(260)).count() == 11)
    // stats survive compaction of a uniformly-tracked partition?
    // (untracked files poison the partition: compaction must then drop
    // stats rather than guess — asserted by pruning keeping everything)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 5000L)
    val snap3 = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.read(spark, dir).count() == 1010)
    val kept3 = ManifestLake.pruneFiles(snap3, "doc_id", BigDecimal(250), BigDecimal(260))
    assert(kept3.length == snap3.files.length,
      "mixed tracked/untracked inputs must compact to untracked, not guessed, stats")
  }

  test("manifest lake: readWhere's predicate pushes into the kept files' scan") {
    val dir = Files.createTempDirectory("mlake16").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select($"id".as("doc_id"), lit("p0").as("source"))
        .repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id"))
    val df = ManifestLake.readWhere(spark, dir, "doc_id",
      BigDecimal(100), BigDecimal(150))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    // layer 1: the manifest pruned the file list before planning
    val opened = scan.relation.location.inputFiles.length
    assert(opened <= 2, s"scan planned over $opened files, manifest should have pruned to <=2")
    // layer 2: the precise range predicate reached the parquet reader,
    // so row-group stats prune WITHIN the kept files too
    assert(scan.dataFilters.nonEmpty, "range predicate must be a data filter on the scan")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(doc_id") &&
      pushed.contains("LessThanOrEqual(doc_id"), s"PushedFilters: $pushed")
    assert(df.count() == 51)
  }

  test("manifest lake: multi-column stats prune on either column") {
    val dir = Files.createTempDirectory("mlake15").resolve("lake").toString
    // doc_id clusters by range; ts = doc_id * 10 is correlated, so
    // range files are narrow in BOTH columns
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select(
        $"id".as("doc_id"), ($"id" * 10).as("ts"), lit("m0").as("source"))
        .repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id", "ts"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.stats.values.forall(_.map(_.col).sorted == Vector("doc_id", "ts")),
      "every file must carry stats for both columns")

    val byId = ManifestLake.pruneFiles(snap, "doc_id", BigDecimal(250), BigDecimal(260))
    val byTs = ManifestLake.pruneFiles(snap, "ts", BigDecimal(2500), BigDecimal(2600))
    assert(byId.length <= 2 && byTs.length <= 2, s"${byId.length}/${byTs.length} of 10")
    assert(ManifestLake.readWhere(spark, dir, "ts",
      BigDecimal(2500), BigDecimal(2600)).count() == 11)
    // an untracked column prunes nothing (conservative)
    assert(ManifestLake.pruneFiles(snap, "source",
      BigDecimal(0), BigDecimal(0)).length == snap.files.length)
  }

  test("manifest lake: string-column stats prune files, long strings never commit") {
    val dir = Files.createTempDirectory("mlake20").resolve("lake").toString
    // tag = "t%03d" of doc_id → UTF-8 lexicographic order == numeric
    // order; range-clustering on tag gives each of 10 files a narrow
    // contiguous tag band. `blob` is a >96-char string: its stats must
    // be REFUSED (a truncated max would understate the bound), so a
    // blob range must prune nothing.
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select(
        $"id".as("doc_id"),
        format_string("t%03d", $"id" % 1000).as("tag"),
        concat(lit("x" * 100), $"id".cast("string")).as("blob"),
        lit("s0").as("source"))
        .repartitionByRange(10, $"tag"),
      "source", statsCols = Seq("tag", "blob", "doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.length == 10)
    // every file carries tag + doc_id stats; blob stats were refused
    assert(snap.stats.size == 10)
    assert(snap.stats.values.forall(_.map(_.col).sorted == Vector("doc_id", "tag")),
      "only bounded-length columns may carry stats")

    // a 11-tag point range touches 1-2 of 10 files (range-partitioner
    // boundaries are sampled, not exact) — pruning must see that from
    // the manifest alone
    val kept = ManifestLake.pruneFilesString(snap, "tag", "t250", "t260")
    assert(kept.nonEmpty && kept.length <= 2, s"kept ${kept.length} of 10")
    val got = ManifestLake.readWhereString(spark, dir, "tag", "t250", "t260")
    assert(got.count() == 11)
    assert(got.agg(sum($"doc_id")).head().getLong(0) == (250 to 260).sum)
    // out-of-range: zero files, empty result, full schema
    assert(ManifestLake.readWhereString(spark, dir, "tag", "zzz", "zzzz").count() == 0)
    // the untracked blob column prunes nothing (conservative)
    assert(ManifestLake.pruneFilesString(snap, "blob", "a", "b").length == 10)
    // string stats re-derive through compaction of the uniformly-
    // tracked partition (coalesce packs arbitrary part groups per
    // output file, so no exact prune-count claim — only that bounds
    // exist, exclude disjoint ranges, and reads stay row-exact)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 500L)
    val snap2 = ManifestLake.latestSnapshot(dir).get
    assert(snap2.files.length == 2)
    assert(snap2.stats.values.forall(_.map(_.col).sorted == Vector("doc_id", "tag")))
    assert(ManifestLake.pruneFilesString(snap2, "tag", "zzz", "zzzz").isEmpty)
    assert(ManifestLake.readWhereString(spark, dir, "tag", "t250", "t260").count() == 11)
  }

  test("manifest lake: clustered compaction tightens stats; re-run burns no version") {
    val dir = Files.createTempDirectory("mlake23").resolve("lake").toString
    // scattered ingest: 4 round-robin files, each spanning the full
    // 0..999 id range — any range read must open all 4
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select($"id".as("doc_id"), lit("s0").as("source"))
        .repartition(4),
      "source", statsCols = Seq("doc_id"))
    val pre = ManifestLake.latestSnapshot(dir).get
    assert(pre.files.length == 4)
    assert(ManifestLake.pruneFiles(pre, "doc_id",
      BigDecimal(100), BigDecimal(150)).length == 4,
      "scattered layout must defeat pruning")
    // clustered compaction: same file count, disjoint id bands
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 250L,
      clusterBy = Some("doc_id"))
    val post = ManifestLake.latestSnapshot(dir).get
    assert(post.files.length == 4)
    val kept = ManifestLake.pruneFiles(post, "doc_id",
      BigDecimal(100), BigDecimal(150))
    assert(kept.length <= 2, s"clustered layout kept ${kept.length} of 4")
    val got = ManifestLake.readWhere(spark, dir, "doc_id",
      BigDecimal(100), BigDecimal(150))
    assert(got.count() == 51)
    assert(got.agg(sum($"doc_id")).head().getLong(0) == (100 to 150).sum)
    // idempotence is PROVEN from the manifest (disjoint stats at or
    // under target) — the second run opens nothing and burns no version
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 250L,
      clusterBy = Some("doc_id"))
    assert(ManifestLake.latestSnapshot(dir).get.version == post.version,
      "re-clustering an already-clustered partition must be a no-op")
    // unclustered compact still sees nothing to do (count at target)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 250L)
    assert(ManifestLake.latestSnapshot(dir).get.version == post.version)
  }

  test("manifest lake: Z-order clustering prunes on BOTH dimensions") {
    val dir = Files.createTempDirectory("mlake24").resolve("lake").toString
    // 32x32 grid, scattered round-robin: every file spans both full axes
    val grid = spark.range(0, 1024).select(
      ($"id" % 32).as("x"), expr("id div 32").as("y"), lit("s0").as("source"))
    ManifestLake.append(spark, dir,
      grid.withColumn("z", ManifestLake.zValue($"x", $"y", 5)).repartition(16),
      "source", statsCols = Seq("x", "y", "z"))
    val pre = ManifestLake.latestSnapshot(dir).get
    assert(pre.files.length == 16)
    assert(ManifestLake.pruneFiles(pre, "x", BigDecimal(0), BigDecimal(7)).length == 16,
      "scattered layout must defeat x pruning")
    assert(ManifestLake.pruneFiles(pre, "y", BigDecimal(0), BigDecimal(7)).length == 16,
      "scattered layout must defeat y pruning")
    // cluster on the Morton key: each file becomes a 2-D tile, so a
    // quarter-range on EITHER axis prunes (range boundaries are
    // sampled, so assert at-most-half rather than the ideal 4/16)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 64L,
      clusterBy = Some("z"))
    val post = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.pruneFiles(post, "x", BigDecimal(0), BigDecimal(7)).length <= 8,
      "z-clustering must prune x ranges")
    assert(ManifestLake.pruneFiles(post, "y", BigDecimal(0), BigDecimal(7)).length <= 8,
      "z-clustering must prune y ranges")
    // pruned reads stay row-exact on both axes
    assert(ManifestLake.readWhere(spark, dir, "x", BigDecimal(0), BigDecimal(7))
      .count() == 8 * 32)
    assert(ManifestLake.readWhere(spark, dir, "y", BigDecimal(0), BigDecimal(7))
      .count() == 8 * 32)
  }

  test("manifest lake: JSON-extracted metadata fields skip via materialized stats columns") {
    // The reference's JSONB-GIN metadata queries (setup_vector_db.py
    // GIN index over chunk metadata): the lake-side answer is to
    // MATERIALIZE the hot extracted field as a physical column at
    // write time and track its stats — skipping then prunes on the
    // JSON field with zero file opens, while the raw JSON rides along
    // untracked for everything else.
    val dir = Files.createTempDirectory("mlake22").resolve("lake").toString
    val raw = spark.range(0, 400).select(
      $"id".as("doc_id"),
      format_string("""{"lang":"l%02d","src":"web"}""", $"id" % 100).as("meta"),
      lit("s0").as("source"))
    // writer materializes the extracted field (the documented pattern)
    ManifestLake.append(spark, dir,
      raw.withColumn("meta_lang", get_json_object($"meta", "$.lang"))
        .repartitionByRange(8, $"meta_lang"),
      "source", statsCols = Seq("meta_lang"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.length == 8)
    // a narrow lang band prunes most files from the manifest alone
    val kept = ManifestLake.pruneFilesString(snap, "meta_lang", "l10", "l19")
    assert(kept.nonEmpty && kept.length <= 2, s"kept ${kept.length} of 8")
    val got = ManifestLake.readWhereString(spark, dir, "meta_lang", "l10", "l19")
    assert(got.count() == 40) // 10 langs x 4 ids each
    // the surviving rows still carry the full JSON for downstream use
    assert(got.filter(get_json_object($"meta", "$.src") === "web").count() == 40)
  }

  test("manifest lake: string bounds compare in UTF-8 byte order with exotic values") {
    // separator characters (':', tab) and non-ASCII survive the
    // base64 manifest encoding; comparison is unsigned UTF-8 bytes
    val dir = Files.createTempDirectory("mlake21").resolve("lake").toString
    ManifestLake.append(spark, dir,
      Seq(("a:1\tx", 1L), ("b", 2L), ("é", 3L), ("ézz", 4L))
        .toDF("k", "doc_id").withColumn("source", lit("s0")).coalesce(1),
      "source", statsCols = Seq("k"))
    val snap = ManifestLake.latestSnapshot(dir).get
    val st = snap.stats.values.head.find(_.col == "k").get
    assert(st.min == ManifestLake.Bound.Str("a:1\tx"))
    assert(st.max == ManifestLake.Bound.Str("ézz"),
      "é (2-byte UTF-8) must sort after all ASCII")
    // a reparse of the manifest (fresh snapshot) yields identical bounds
    val reparsed = ManifestLake.snapshotAt(dir, snap.version).get
    assert(reparsed.stats == snap.stats)
    // pruning excludes ranges strictly outside [min, max]: below min
    // (uppercase sorts before lowercase in byte order) and above max
    // (ø = 0xC3 0xB8 sorts after é = 0xC3 0xA9)
    assert(ManifestLake.pruneFilesString(snap, "k", "A", "Z").isEmpty)
    assert(ManifestLake.pruneFilesString(snap, "k", "ø", "øz").isEmpty)
    // a range overlapping the span is kept
    assert(ManifestLake.pruneFilesString(snap, "k", "é", "éz").length == 1)
  }

  test("manifest lake: compaction recomputes stats for uniformly-tracked partitions") {
    val dir = Files.createTempDirectory("mlake9").resolve("lake").toString
    val docs = spark.range(0, 400).select(
      $"id".as("doc_id"), lit("t0").as("source"))
    ManifestLake.append(spark, dir, docs.repartitionByRange(8, $"doc_id"),
      "source", maxRecordsPerFile = 25L, statsCols = Seq("doc_id"))
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 100L)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.stats.nonEmpty, "compacted files must re-derive stats from their footers")
    assert(snap.stats.keySet == snap.files.toSet)
    // pruning still works post-compaction
    val kept = ManifestLake.pruneFiles(snap, "doc_id", BigDecimal(10), BigDecimal(20))
    assert(kept.length < snap.files.length)
    assert(ManifestLake.readWhere(spark, dir, "doc_id",
      BigDecimal(10), BigDecimal(20)).count() == 11)
  }

  test("manifest lake: readChanges emits appended rows only, compaction invisible") {
    val dir = Files.createTempDirectory("mlake11").resolve("lake").toString
    def slice(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("doc_id"), lit("d0").as("source"))
    ManifestLake.append(spark, dir, slice(0, 50), "source", maxRecordsPerFile = 5L)   // v1
    ManifestLake.appendBatch(spark, dir, slice(50, 80), "source", "app", 0L,
      maxRecordsPerFile = 5L)                                                          // v2 (batch)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 500L)            // v3
    ManifestLake.append(spark, dir, slice(80, 100), "source")                          // v4
    assert(ManifestLake.snapshotAt(dir, 3L).get.op == "compact")
    assert(ManifestLake.snapshotAt(dir, 2L).get.op == "batch")

    // everything since v1: the two appends, never the compaction rewrite
    val changes = ManifestLake.readChanges(spark, dir, 1L, 4L)
    assert(changes.count() == 50)
    assert(changes.agg(min($"doc_id"), max($"doc_id")).head() ===
      org.apache.spark.sql.Row(50L, 99L))
    // a sub-window
    assert(ManifestLake.readChanges(spark, dir, 3L, 4L).count() == 20)
    // the full first commit
    assert(ManifestLake.readChanges(spark, dir, 0L, 1L).count() == 50)
    // empty window (compaction only)
    assert(ManifestLake.readChanges(spark, dir, 2L, 3L).count() == 0)
    // retired manifest → clear error
    ManifestLake.vacuum(dir, keepVersions = 1)
    val e = intercept[IllegalStateException](
      ManifestLake.readChanges(spark, dir, 1L, 4L))
    assert(e.getMessage.contains("retired by vacuum"))
  }

  test("manifest lake: additive schema evolution, type flips rejected") {
    val dir = Files.createTempDirectory("mlake12").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 40).select($"id".as("doc_id"), lit("e0").as("source")), "source")
    // additive: a later corpus version gains a quality column
    ManifestLake.append(spark, dir,
      spark.range(40, 60).select($"id".as("doc_id"), lit("e0").as("source"),
        ($"id" % 7).cast("double").as("quality")), "source")

    val back = ManifestLake.read(spark, dir)
    assert(back.columns.toSet == Set("doc_id", "source", "quality"),
      "committed schema must be the union")
    assert(back.count() == 60)
    // pre-evolution rows null-fill; new rows carry values
    assert(back.filter($"quality".isNull).count() == 40)
    assert(back.filter($"quality".isNotNull).count() == 20)

    // a type flip on an existing column fails the COMMIT, named
    val e = intercept[IllegalStateException] {
      ManifestLake.append(spark, dir,
        spark.range(60, 70).select($"id".cast("string").as("doc_id"),
          lit("e0").as("source")), "source")
    }
    assert(e.getMessage.contains("schema evolution rejected"))
    assert(e.getMessage.contains("doc_id"))
    assert(ManifestLake.read(spark, dir).count() == 60, "failed commit must add nothing")

    // compaction migrates old files onto the union schema and keeps it
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 500L)
    val compacted = ManifestLake.read(spark, dir)
    assert(compacted.columns.toSet == Set("doc_id", "source", "quality"))
    assert(compacted.count() == 60)
    assert(compacted.filter($"quality".isNotNull).count() == 20)
    // an omitted column is fine AFTER evolution too (null-filled)
    ManifestLake.append(spark, dir,
      spark.range(100, 110).select($"id".as("doc_id"), lit("e0").as("source")), "source")
    assert(ManifestLake.read(spark, dir).filter($"quality".isNull).count() == 50)
  }

  test("manifest lake: deleteWhere rewrites only affected files, CDC-invisible") {
    val dir = Files.createTempDirectory("mlake13").resolve("lake").toString
    // 10 range-clustered files of 100 ids each — a targeted delete
    // should touch exactly one
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select($"id".as("doc_id"), lit("f0").as("source"))
        .repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id"))
    val before = ManifestLake.latestSnapshot(dir).get
    ManifestLake.appendBatch(spark, dir,
      spark.range(2000, 2010).select($"id".as("doc_id"), lit("f0").as("source")),
      "source", "app", 5L)
    val batchFiles = ManifestLake.latestSnapshot(dir).get.files.toSet -- before.files

    val deleted = ManifestLake.deleteWhere(spark, dir,
      $"doc_id" >= 250 && $"doc_id" < 260)
    assert(deleted == 10, s"deleteWhere must return rows deleted: $deleted")

    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.op == "delete")
    assert(after.txns == Map("app" -> 5L), "txn high-waters must survive deletion")
    // only ONE clustered file was rewritten; the rest keep their exact
    // names (bytes untouched)
    assert(before.files.count(after.files.contains) == before.files.length - 1)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 1000)            // 1010 - 10 deleted
    assert(back.filter($"doc_id" >= 250 && $"doc_id" < 260).count() == 0)
    assert(back.filter($"doc_id" >= 2000).count() == 10)
    // the rewritten file re-derived its pruning stats: every file is
    // tracked except the appendBatch ones (batch commits carry no stats)
    assert(after.stats.keySet == after.files.toSet -- batchFiles)
    // CDC: the delete commit adds nothing to a changes stream
    assert(ManifestLake.readChanges(spark, dir,
      after.version - 1, after.version).count() == 0)

    // deleting EVERY row of a file drops it from the ledger (all the
    // batch-append files hold only >= 2000 ids)
    val nFiles = after.files.length
    assert(ManifestLake.deleteWhere(spark, dir, $"doc_id" >= 2000) == 10)
    val finalSnap = ManifestLake.latestSnapshot(dir).get
    assert(finalSnap.files.length == nFiles - batchFiles.size,
      "emptied files must leave the ledger")
    assert(ManifestLake.read(spark, dir).count() == 990)
  }

  test("manifest lake: deleteWhere rebases over a concurrent append") {
    val dir = Files.createTempDirectory("mlake14").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 200).select($"id".as("doc_id"), lit("h0").as("source"))
        .repartitionByRange(4, $"doc_id"), "source")
    // the race, pinned: an append commits AFTER the delete's detection
    // scan + rewrites, BEFORE its commit — set-union rebase must keep it
    val deleted = ManifestLake.deleteWhere(spark, dir, $"doc_id" < 50,
      beforeCommit = () => {
        ManifestLake.append(spark, dir,
          spark.range(500, 520).select($"id".as("doc_id"), lit("h0").as("source")),
          "source"); ()
      })
    assert(deleted == 50)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 170, "150 survivors + 20 late-appended")
    assert(back.filter($"doc_id" < 50).count() == 0)
    assert(back.filter($"doc_id" >= 500).count() == 20)
  }

  test("manifest lake: deleteWhere keeps rows where the predicate is NULL") {
    val dir = Files.createTempDirectory("mlake17").resolve("lake").toString
    // quality is NULL on every third row — a quality-threshold delete
    // must remove rows where the predicate is TRUE and KEEP the NULL
    // rows (SQL DELETE semantics; !NULL is NULL, so a naive !pred
    // survivor filter would silently drop them from any rewritten file)
    ManifestLake.append(spark, dir,
      spark.range(0, 90).select(
        $"id".as("doc_id"),
        when($"id" % 3 === 0, org.apache.spark.sql.functions.lit(null))
          .otherwise(($"id" % 10).cast("double") / 10.0).as("quality"),
        lit("n0").as("source")),
      "source")
    val deleted = ManifestLake.deleteWhere(spark, dir, $"quality" < 0.5)
    val back = ManifestLake.read(spark, dir)
    assert(back.filter($"quality".isNull).count() == 30,
      "NULL-predicate rows must survive a delete that rewrote their file")
    assert(back.filter($"quality" < 0.5).count() == 0)
    assert(back.count() == 30 + back.filter($"quality" >= 0.5).count())
    assert(deleted == 90 - back.count())
  }

  test("manifest lake: deleteWhere supports partition-column predicates") {
    val dir = Files.createTempDirectory("mlake18").resolve("lake").toString
    val docs = spark.range(0, 100).select(
      $"id".as("doc_id"),
      concat(lit("p"), ($"id" % 4).cast("string")).as("source"))
    ManifestLake.append(spark, dir, docs.repartition($"source"), "source",
      maxRecordsPerFile = 10L)
    // a GDPR/contamination predicate naturally names the partition
    // column; the rewrite reads each file with the partition value
    // restored from its path, so this must resolve (not throw)
    val deleted = ManifestLake.deleteWhere(spark, dir, $"source" === "p1")
    assert(deleted == 25)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 75)
    assert(back.filter($"source" === "p1").count() == 0)
    // the emptied partition's files all left the ledger
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(!snap.files.exists(_.startsWith("source=p1/")))
    // a MIXED predicate over partition + data columns also resolves
    // (p2 ids ≡ 2 mod 4, < 50: 2,6,...,46 → 12 rows)
    assert(ManifestLake.deleteWhere(spark, dir,
      $"source" === "p2" && $"doc_id" < 50) == 12)
    assert(ManifestLake.read(spark, dir).count() == 63)
  }

  test("manifest lake: second of two racing deletes aborts, no rows resurrect") {
    val dir = Files.createTempDirectory("mlake19").resolve("lake").toString
    // ONE data file, so both deletes provably rewrite the same input
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("r0").as("source"))
        .coalesce(1),
      "source")
    // delete A detects + rewrites, then delete B (overlapping the same
    // file) detects, rewrites AND COMMITS inside A's pre-commit window.
    // A's inputs are no longer in the latest manifest: committing A's
    // rewrite anyway would RESURRECT the rows B deleted (A's survivor
    // set was computed before B ran). A must abort with a named error.
    val e = intercept[IllegalStateException] {
      ManifestLake.deleteWhere(spark, dir, $"doc_id" < 10,
        beforeCommit = () => {
          assert(ManifestLake.deleteWhere(spark, dir, $"doc_id" >= 90) == 10); ()
        })
    }
    assert(e.getMessage.contains("re-run deleteWhere"))
    // B's delete stands; A's is NOT applied (and nothing resurrected)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 90)
    assert(back.filter($"doc_id" >= 90).count() == 0)
    assert(back.filter($"doc_id" < 10).count() == 10,
      "aborted delete must leave its target rows untouched")
    // A's orphaned rewrite output is invisible garbage; re-running A
    // against the new snapshot succeeds
    assert(ManifestLake.deleteWhere(spark, dir, $"doc_id" < 10) == 10)
    assert(ManifestLake.read(spark, dir).count() == 80)
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(ManifestLake.read(spark, dir).count() == 80)
  }

  test("manifest lake: bloom index prunes point lookups min/max cannot") {
    val dir = Files.createTempDirectory("mlake20").resolve("lake").toString
    // scatter doc_id across files (hash-partitioned writes): every
    // file's [min,max] spans nearly the whole key range, so range
    // stats keep everything and only the bloom can prune
    val docs = spark.range(0, 800).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"))
    ManifestLake.append(spark, dir,
      // range-partition + sort on a SCRAMBLED key: each file holds a
      // scattered sample of doc_id, so every file's [min,max] covers
      // any probe — the honest "interleaved appends" geometry where
      // only a bloom can prune
      docs.repartitionByRange(4, pmod($"doc_id" * 377, lit(800)))
        .sortWithinPartitions(pmod($"doc_id" * 377, lit(800))),
      "source", maxRecordsPerFile = 120L,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f =>
      snap.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id")),
      "every committed file must carry its bloom (parsed back from the manifest)")

    // range skipping is genuinely defeated by this layout
    val rangeOnly = ManifestLake.pruneFiles(snap, "doc_id",
      BigDecimal(123), BigDecimal(123))
    assert(rangeOnly.length == snap.files.length,
      "fixture must be range-unprunable or the test proves nothing")

    // no false negatives: every file truly containing the key survives
    val truth = snap.files.filter(f =>
      spark.read.parquet(s"$dir/$f").filter($"doc_id" === 123L).count() > 0)
    val kept = ManifestLake.pruneFilesPoint(snap, "doc_id", 123L)
    assert(truth.toSet.subsetOf(kept.toSet), "bloom pruned a file holding the key")
    assert(kept.length < snap.files.length, "bloom pruned nothing")

    // the read is exact, and an absent key reads empty
    val hit = ManifestLake.readPoint(spark, dir, "doc_id", 123L).collect()
    assert(hit.map(_.getAs[Long]("doc_id")).toSeq == Seq(123L))
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 999999L).count() == 0)

    // fp sanity: probing 200 absent keys opens few files (~1% of
    // #files per probe at 10 bits/key; deterministic for fixed data)
    val fpOpens = (1000L until 1200L).map(v =>
      ManifestLake.pruneFilesPoint(snap, "doc_id", v).length).sum
    assert(fpOpens <= 200 * snap.files.length / 10,
      s"false-positive open rate too high: $fpOpens")

    // compaction rebuilds filters for its rewrites — the index never
    // erodes — and the probe stays exact afterwards
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 400L)
    val snap2 = ManifestLake.latestSnapshot(dir).get
    assert(snap2.op == "compact")
    assert(snap2.files.forall(f =>
      snap2.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id")),
      "compaction must re-derive blooms for uniformly-bloomed partitions")
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 123L).count() == 1)

    // a delete's rewrites re-derive their filters too; the deleted key
    // now bloom-reads empty, neighbours still hit
    assert(ManifestLake.deleteWhere(spark, dir, $"doc_id" === 123L) == 1)
    val snap3 = ManifestLake.latestSnapshot(dir).get
    assert(snap3.files.forall(f =>
      snap3.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id")))
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 123L).count() == 0)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 124L).count() == 1)
  }

  test("manifest lake: append inside compaction's commit window keeps every bloom") {
    val dir = Files.createTempDirectory("mlake22").resolve("lake").toString
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("doc_id"), lit("s0").as("source"))
    ManifestLake.append(spark, dir, docs(0, 200).repartition(4), "source",
      maxRecordsPerFile = 40L, bloomCols = Seq("doc_id"))
    // the race: a bloomed append commits AFTER compaction's rewrites
    // and bloom rebuild (computed from the PRE-loop snapshot), BEFORE
    // its commit — the rebase must keep the appended file AND its
    // bloom, and the rewrites must carry their rebuilt filters
    ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 200L, maxConcurrent = 2,
      beforeCommit = () => {
        ManifestLake.append(spark, dir, docs(500, 520), "source",
          bloomCols = Seq("doc_id")); ()
      },
      clusterBy = None, onlyPartitions = None)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.op == "compact")
    assert(snap.files.forall(f =>
      snap.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id")),
      s"a file lost its bloom across the race: ${
        snap.files.filterNot(f => snap.blooms.contains(f))}")
    assert(ManifestLake.read(spark, dir).count() == 220)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 100L).count() == 1)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 510L).count() == 1)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 400L).count() == 0)
  }

  test("manifest lake: streamed batches carry blooms; re-delivery keeps them") {
    val dir = Files.createTempDirectory("mlake21").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      $"id".as("doc_id"), lit("s0").as("source"))
    ManifestLake.appendBatch(spark, dir, batch(0, 100), "source", "app", 1L,
      bloomCols = Seq("doc_id"))
    ManifestLake.appendBatch(spark, dir, batch(100, 200), "source", "app", 2L,
      bloomCols = Seq("doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.forall(f =>
      snap.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id")),
      "every streamed file must carry its bloom")
    // exactly-once: the re-delivered batch burns no version and the
    // index is unchanged
    ManifestLake.appendBatch(spark, dir, batch(100, 200), "source", "app", 2L,
      bloomCols = Seq("doc_id"))
    val snap2 = ManifestLake.latestSnapshot(dir).get
    assert(snap2.version == snap.version)
    assert(snap2.blooms.keySet == snap.blooms.keySet)
    // lookups prune across batch boundaries and stay exact
    val kept = ManifestLake.pruneFilesPoint(snap2, "doc_id", 150L)
    assert(kept.length < snap2.files.length, "bloom pruned nothing")
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 150L).count() == 1)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 5000L).count() == 0)
  }

  test("manifest lake: a crashed writer's garbage is invisible and vacuumable") {
    val dir = Files.createTempDirectory("mlake10").resolve("lake").toString
    val root = java.nio.file.Paths.get(dir)
    ManifestLake.append(spark,
      dir, spark.range(0, 50).select($"id".as("doc_id"), lit("g0").as("source")), "source")

    // crash state 1: a writer died mid-stage — orphan .stage_ dir
    val orphanStage = root.resolve(".stage_dead-writer")
    Files.createDirectories(orphanStage)
    Files.write(orphanStage.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // crash state 2: a writer died between moving files in and
    // committing — real parquet bytes in the partition dir, in NO
    // manifest (write a decoy through Spark so it's a valid file)
    spark.range(900, 950).select($"id".as("doc_id"))
      .coalesce(1).write.parquet(root.resolve(".decoy").toString)
    val decoy = Files.list(root.resolve(".decoy")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val uncommitted = root.resolve("source=g0").resolve("uncommitted-orphan.parquet")
    Files.move(decoy, uncommitted)

    // readers see ONLY the manifest: 50 rows, no 900s
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 50)
    assert(back.agg(max($"doc_id")).head().getLong(0) == 49)

    // under the DEFAULT grace window, fresh garbage is presumed to be
    // a LIVE writer's in-flight state (staged dirs and hard-renamed-
    // but-uncommitted files look identical to crash leftovers) — vacuum
    // must not touch it, or a concurrent writer's CAS commit would
    // publish a manifest naming deleted files
    ManifestLake.vacuum(dir, keepVersions = 1)
    assert(Files.exists(orphanStage), "grace window must protect young stage dirs")
    assert(Files.exists(uncommitted), "grace window must protect young uncommitted files")

    // with the grace waived (single-writer context), both kinds of
    // crash garbage are reclaimed
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(!Files.exists(orphanStage))
    assert(!Files.exists(uncommitted))
    assert(ManifestLake.read(spark, dir).count() == 50)
  }

  test("manifest lake: vacuum reclaims unreferenced files, read stays correct") {
    val dir = Files.createTempDirectory("mlake4").resolve("lake").toString
    val root = java.nio.file.Paths.get(dir)
    val docs = spark.range(0, 120).select(
      $"id".as("doc_id"), concat(lit("v"), ($"id" % 2).cast("string")).as("source"))
    ManifestLake.append(spark, dir, docs.repartition($"source"), "source",
      maxRecordsPerFile = 5L)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 100L)

    def parquetCount(p: String): Long = {
      val d = root.resolve(p)
      val st = Files.list(d)
      try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
    // pre-vacuum: old fragmented files still on disk (reader grace)
    assert(parquetCount("source=v0") > 1)
    val reclaimed = ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(reclaimed == 24, s"2 × ceil(60/5) fragmented files: $reclaimed") // 12 per partition
    assert(parquetCount("source=v0") == 1)
    assert(parquetCount("source=v1") == 1)
    assert(ManifestLake.read(spark, dir).count() == 120)
    assert(ManifestLake.read(spark, dir).agg(sum($"doc_id")).head().getLong(0) ==
      docs.agg(sum($"doc_id")).head().getLong(0))
  }

  test("manifest lake: vacuum takes each reclaimed file's .crc checksum twin along") {
    val dir = Files.createTempDirectory("mlake_crc").resolve("lake").toString
    val root = java.nio.file.Paths.get(dir)
    ManifestLake.append(spark, dir, spark.range(0, 200).select($"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
      ($"id" * 10).as("n_chars")), "source", maxRecordsPerFile = 15L)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.sql(s"UPDATE graft.`$dir` SET n_chars = -n_chars WHERE doc_id % 20 = 3")
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000L)
    assert(ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L) > 0L)
    def listed(d: java.nio.file.Path): Vector[String] = {
      val st = Files.list(d)
      try st.iterator().asScala.map(_.getFileName.toString).toVector finally st.close()
    }
    val orphans = Seq("source=s0", "source=s1").flatMap { p =>
      val names = listed(root.resolve(p))
      names.filter(n => n.startsWith(".") && n.endsWith(".crc"))
        .filterNot(n => names.contains(n.drop(1).dropRight(".crc".length)))
        .map(n => s"$p/$n")
    }
    assert(orphans.isEmpty, s"checksum twins outlived their parquet files: $orphans")
    assert(ManifestLake.read(spark, dir).count() == 200L)
  }

  test("one row group ordering: sortWithinPartitions keeps (model, vid) runs") {
    val dir = Files.createTempDirectory("lake2").resolve("scores").toString
    val scores = spark.range(0, 500).select(
      ($"id" % 20).as("vid_id"), ($"id" % 10).as("model_id"),
      array(lit(1.0)).as("score"))
    Layout.writeScoreLake(scores, dir)
    // reading one model still yields all its vids
    val vids = Layout.scoresFor(spark, dir, 3L)
      .select(countDistinct($"vid_id")).head().getLong(0)
    assert(vids == scores.filter($"model_id" === 3).select(countDistinct($"vid_id"))
      .head().getLong(0))
  }

  test("DSv2 surface: pushdown reaches the manifest pruning, exact parity with the Scala API") {
    val dir = Files.createTempDirectory("mdsv2").resolve("lake").toString
    // controlled layout: 10 range-clustered files on doc_id, a bloom
    // on a scrambled high-cardinality key, two partitions
    val docs = spark.range(0, 1000).select(
      $"id".as("doc_id"),
      pmod($"id" * 7919, lit(1000)).as("key_id"),
      when($"id" % 2 === 0, "even").otherwise("odd").as("source"))
    ManifestLake.append(spark, dir, docs.repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("key_id"))
    ManifestLake.append(spark, dir,
      spark.range(1000, 1100).select($"id".as("doc_id"),
        pmod($"id" * 7919, lit(1000)).as("key_id"), lit("even").as("source"))
        .repartitionByRange(2, $"doc_id"),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("key_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    val v1 = ManifestLake.snapshotAt(dir, 1).get

    def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.collectFirst { case g: GraftScan => g }
        .getOrElse(fail("no GraftScan in the optimized plan"))

    val lakeDf = spark.read.format("graft").load(dir)

    // range filter: the planned file set IS pruneFiles' answer
    val range = lakeDf.filter($"doc_id" >= 250 && $"doc_id" <= 260)
    val rScan = scanOf(range)
    val expect = ManifestLake.pruneFiles(snap, "doc_id", BigDecimal(250), BigDecimal(260))
    assert(rScan.keptFiles == expect,
      s"DSv2 kept ${rScan.keptFiles} but the Scala API prunes to $expect")
    assert(rScan.keptFiles.length <= 2 && rScan.totalFiles == snap.files.length)
    assert(rScan.pushed.nonEmpty, "filters must reach the scan for pruning")
    assert(range.count() == 11)
    assert(range.agg(sum($"doc_id")).head().getLong(0) == (250 to 260).sum)

    // point probe on the scrambled key: range stats prune nothing,
    // the bloom collapses the file set — parity with pruneFilesPoint
    val key = (123L * 7919) % 1000
    val point = lakeDf.filter($"key_id" === key)
    val pScan = scanOf(point)
    val pExpect = ManifestLake.pruneFilesPoint(snap, "key_id", key)
    assert(pScan.keptFiles == pExpect)
    assert(pScan.keptFiles.length < snap.files.length,
      "bloom must prune the scrambled-key point probe")
    assert(point.collect().map(_.getAs[Long]("doc_id")).toSet ==
      docs.unionByName(spark.range(1000, 1100).select($"id".as("doc_id"),
        pmod($"id" * 7919, lit(1000)).as("key_id"), lit("even").as("source")))
        .filter($"key_id" === key).collect().map(_.getAs[Long]("doc_id")).toSet)

    // partition-column equality keeps only that partition's files
    val part = lakeDf.filter($"source" === "odd")
    val paScan = scanOf(part)
    assert(paScan.keptFiles.nonEmpty &&
      paScan.keptFiles.forall(_.startsWith("source=odd/")),
      s"partition prune kept ${paScan.keptFiles}")
    assert(part.count() == 500)

    // time travel and CDC read exactly the manifest's file sets
    val travel = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(scanOf(travel).keptFiles == v1.files)
    assert(travel.count() == 1000)
    val cdc = spark.read.format("graft")
      .option("startingVersion", "1").option("endingVersion", "2").load(dir)
    assert(scanOf(cdc).keptFiles == snap.files.filterNot(v1.files.toSet))
    assert(cdc.count() == 100)

    // column pruning reaches the scan schema
    val narrow = lakeDf.select($"doc_id").filter($"doc_id" < 10)
    assert(scanOf(narrow).readSchema().fieldNames.toSeq == Seq("doc_id"))
    assert(narrow.count() == 10)
  }

  test("manifest hardening: separator column names, exotic partition values, corrupt blooms") {
    // 1. a stats/bloom column whose NAME carries a manifest separator
    //    is rejected at commit time — never a bricked manifest
    val dir1 = Files.createTempDirectory("mhard1").resolve("lake").toString
    val bad = spark.range(0, 10).select(
      $"id".as("x:bf"), lit("p").as("source"))
    val e = intercept[Exception] {
      ManifestLake.append(spark, dir1, bad, "source", statsCols = Seq("x:bf"))
    }
    assert(e.getMessage.contains("reserved manifest marker"), e.getMessage)
    assert(ManifestLake.latestSnapshot(dir1).isEmpty,
      "the rejected commit must not have produced a manifest")

    // 2. partition values that URL-encode (space, '%') reconcile in the
    //    bloom build and stay point-readable
    val dir2 = Files.createTempDirectory("mhard2").resolve("lake").toString
    val exotic = spark.range(0, 100).select(
      $"id".as("key_id"),
      when($"id" % 2 === 0, "a b").otherwise("c%d").as("source"))
    ManifestLake.append(spark, dir2, exotic, "source",
      statsCols = Seq("key_id"), bloomCols = Seq("key_id"))
    val got = ManifestLake.readPoint(spark, dir2, "key_id", 42L)
    assert(got.count() == 1)
    assert(got.head.getAs[String]("source") == "a b")
    assert(ManifestLake.read(spark, dir2).count() == 100)

    // 3. a zero-word bloom payload (corrupt manifest) degrades to
    //    conservative keep instead of throwing on every probe
    assert(ManifestLake.FileBloom("k", 7, Array.empty[Long]).mightContain(42L))
  }

  test("DSv2 write surface: INSERT appends with full writer semantics, overwrite refused") {
    val dir = Files.createTempDirectory("mdsv2w").resolve("lake").toString
    val evens = spark.range(0, 100).filter($"id" % 2 === 0)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    ManifestLake.append(spark, dir, evens, "source",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    spark.range(0, 100).filter($"id" % 2 === 1)
      .select($"id".as("doc_id"), lit("p0").as("source"))
      .createOrReplaceTempView("dsv2w_src")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv2w USING graft OPTIONS (path '$dir')")
    spark.sql("INSERT INTO dsv2w SELECT doc_id, source FROM dsv2w_src")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.version == 2L)
    assert(ManifestLake.read(spark, dir).count() == 100)
    // SQL-inserted files indistinguishable from Scala-appended ones:
    // stats and blooms continued on every new file
    val v1files = ManifestLake.snapshotAt(dir, 1).get.files.toSet
    val newFiles = v2.files.filterNot(v1files)
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      assert(v2.stats.getOrElse(f, Vector.empty).exists(_.col == "doc_id"),
        s"SQL-inserted $f lost stats tracking")
      assert(v2.blooms.getOrElse(f, Vector.empty).exists(_.col == "doc_id"),
        s"SQL-inserted $f lost bloom tracking")
    }
    // a post-insert point probe bloom-prunes across old AND new files
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 41L).count() == 1)
    // INSERT OVERWRITE is refused loudly, and the lake is untouched
    // Spark refuses at plan time (no overwrite capability declared);
    // if a future Spark routed it through, our V1 relation's own
    // append-only require is the second fence — either way the lake
    // must be untouched
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE dsv2w SELECT doc_id, source FROM dsv2w_src")
    }
    assert(ManifestLake.latestSnapshot(dir).get.version == 2L)
    assert(ManifestLake.read(spark, dir).count() == 100)
  }

  test("DSv2 streaming source: manifest versions are offsets, compaction invisible, filters prune") {
    val dir = Files.createTempDirectory("mdsv2s").resolve("lake").toString
    val ckpt = Files.createTempDirectory("mdsv2s_ckpt").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    ManifestLake.append(spark, dir, batch(0, 50), "source", statsCols = Seq("doc_id"))
    // append-only CDC consumer: opts INTO skipping change commits
    // (the strict default is pinned in its own test below)
    val q = spark.readStream.format("graft").option("path", dir)
      .option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("graft_src_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      def ids() = spark.table("graft_src_sink")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids() == (0L until 50L), "backfill = the whole append history")
      // a new append commit becomes the next micro-batch, planned from
      // the window's own manifest: the file committed after load() is
      // sized without a filesystem stat (the stream thread may plan it
      // as soon as the commit lands, so the census starts before it)
      val stats0 = ManifestLake.planStatCalls.get()
      ManifestLake.append(spark, dir, batch(50, 80), "source", statsCols = Seq("doc_id"))
      q.processAllAvailable()
      assert(ids() == (0L until 80L))
      assert(ManifestLake.planStatCalls.get() == stats0,
        s"micro-batch planning statted ${ManifestLake.planStatCalls.get() - stats0} file(s)")
      // compaction and deletion commits are INVISIBLE to the stream
      ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000L)
      q.processAllAvailable()
      assert(ids() == (0L until 80L), "compaction must not re-emit rows")
      ManifestLake.deleteWhere(spark, dir, $"doc_id" === 10L)
      q.processAllAvailable()
      assert(ids() == (0L until 80L), "deleteWhere must not re-emit rows")
      // and the next append still flows
      ManifestLake.append(spark, dir, batch(80, 90), "source", statsCols = Seq("doc_id"))
      q.processAllAvailable()
      assert(ids() == (0L until 90L))
    } finally q.stop()
    // a filtered stream stays row-correct (Spark does not run filter
    // pushdown against streaming V2 scans, so the manifest pruning
    // hook in GraftMicroBatchStream is dormant until it does — the
    // residual filter applies in-engine either way); the per-window
    // file-survival rule itself is pinned directly below
    val dir2 = Files.createTempDirectory("mdsv2s2").resolve("lake").toString
    val ckpt2 = Files.createTempDirectory("mdsv2s2_ckpt").toString
    ManifestLake.append(spark, dir2,
      batch(0, 1000).repartitionByRange(10, $"doc_id"), "source",
      statsCols = Seq("doc_id"))
    val q2 = spark.readStream.format("graft").option("path", dir2).load()
      .filter($"doc_id" >= 250 && $"doc_id" <= 260)
      .writeStream.format("memory").queryName("graft_src_sink2")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      val got = spark.table("graft_src_sink2")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (250L to 260L))
    } finally q2.stop()
    // the stream's pruning rule ≡ the batch rule on a CDC window's
    // files (GraftPrune.survives against the window-end snapshot)
    val snap2 = ManifestLake.latestSnapshot(dir2).get
    val win = ManifestLake.changedFiles(dir2, 0L, 1L)
    val keptWin = win.filter(f => GraftPrune.survives(snap2, Some("source"), f,
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 250L),
        org.apache.spark.sql.sources.LessThanOrEqual("doc_id", 260L))))
    assert(keptWin.nonEmpty && keptWin.length <= 2,
      s"window pruning kept ${keptWin.length} of ${win.length}")
  }

  test("DSv2 streaming source: change commits fail loudly BY DEFAULT (Delta parity); skipChangeCommits=true opts into skipping") {
    val dir = Files.createTempDirectory("mstrict").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    ManifestLake.append(spark, dir, batch(0, 50), "source")
    val ckpt = Files.createTempDirectory("mstrict_ckpt").toString
    // NO option: the default is strict — skipChangeCommits=false, the
    // same default Delta gives the same-named option. A ported
    // pipeline never silently loses its delivery guarantee.
    val q = spark.readStream.format("graft").option("path", dir).load()
      .writeStream.format("memory").queryName("graft_strict_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_strict_sink").count() == 50)
      // layout-only commits still pass: no logical row changed
      ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000L)
      ManifestLake.append(spark, dir, batch(50, 60), "source")
      q.processAllAvailable()
      assert(spark.table("graft_strict_sink").count() == 60)
      // a data-removing commit fails the stream instead of silently
      // skipping — without the consumer ever asking for strictness
      ManifestLake.deleteWhere(spark, dir, $"doc_id" === 10L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("skipChangeCommits=false")), e.toString)
    } finally q.stop()
    // append-only CDC consumers OPT INTO skipping: the same window
    // (which now holds a delete commit) drains clean with the option
    // set, delivering only the appended rows
    val ckpt2 = Files.createTempDirectory("mstrict_ckpt2").toString
    val q2 = spark.readStream.format("graft").option("path", dir)
      .option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("graft_skip_sink")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_skip_sink").count() == 60,
        "skip mode must deliver the appends and skip the delete commit")
    } finally q2.stop()
    // an invalid option value refuses at resolve time
    intercept[Exception] {
      spark.readStream.format("graft").option("path", dir)
        .option("skipChangeCommits", "maybe").load()
        .writeStream.format("noop").start().processAllAvailable()
    }
  }

  test("DSv2 streaming source: maxVersionsPerTrigger/maxFilesPerTrigger bound the backfill") {
    // without admission control a stream started against an existing
    // lake catches up the WHOLE history in one micro-batch; with it
    // the backfill advances version-aligned at the configured pace
    val dir = Files.createTempDirectory("madmit").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    (0 until 4).foreach(i =>
      ManifestLake.append(spark, dir, batch(i * 25, (i + 1) * 25), "source"))

    val ckpt = Files.createTempDirectory("madmit_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("graft_admit_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_admit_sink").count() == 100,
        "paced backfill must still deliver every row")
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(sizes.length == 4 && sizes.forall(_ == 25),
        s"1 version per trigger = 4 batches of 25: $sizes")
    } finally q.stop()

    // file-budget pacing: versions are never split, so each batch takes
    // whole versions until the budget is met (2 single-file versions
    // per batch here)
    val ckpt2 = Files.createTempDirectory("madmit_ckpt2").toString
    val q2 = spark.readStream.format("graft").option("path", dir)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName("graft_admit_sink2")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_admit_sink2").count() == 100)
      val sizes = q2.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(sizes.forall(_ <= 50) && sizes.length >= 2,
        s"file-budget pacing must split the backfill: $sizes")
    } finally q2.stop()

    // streamStartingVersion=latest tails the lake: the 4-commit history
    // is skipped; only commits AFTER the stream starts flow
    val ckpt3 = Files.createTempDirectory("madmit_ckpt3").toString
    val q3 = spark.readStream.format("graft").option("path", dir)
      .option("streamStartingVersion", "latest").load()
      .writeStream.format("memory").queryName("graft_admit_sink3")
      .option("checkpointLocation", ckpt3).outputMode("append").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("graft_admit_sink3").count() == 0,
        "latest-start must skip the backfill")
      ManifestLake.append(spark, dir, batch(100, 110), "source")
      q3.processAllAvailable()
      assert(spark.table("graft_admit_sink3")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq == (100L until 110L))
    } finally q3.stop()
    // ...and a numeric start replays from that version (inclusive)
    val ckpt4 = Files.createTempDirectory("madmit_ckpt4").toString
    val q4 = spark.readStream.format("graft").option("path", dir)
      .option("streamStartingVersion", "3").load()
      .writeStream.format("memory").queryName("graft_admit_sink4")
      .option("checkpointLocation", ckpt4).outputMode("append").start()
    try {
      q4.processAllAvailable()
      val got = spark.table("graft_admit_sink4")
        .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == ((50L until 100L) ++ (100L until 110L)),
        s"numeric start must replay commits >= 3: ${got.take(5)}...")
    } finally q4.stop()

    // a malformed option refuses when the stream starts (streaming
    // plans on the query thread — the error surfaces on the first wait)
    val bad = spark.readStream.format("graft").option("path", dir)
      .option("maxVersionsPerTrigger", "0").load()
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("madmit_bad").toString)
      .start()
    try {
      val e = intercept[Exception] { bad.processAllAvailable() }
      assert(e.toString.contains("maxVersionsPerTrigger") ||
        Option(e.getCause).exists(_.toString.contains("maxVersionsPerTrigger")),
        e.toString)
    } finally bad.stop()
  }

  test("DSv2 create path: df.write.format(graft) creates a lake with full tracking") {
    val dir = Files.createTempDirectory("mdsv2c").resolve("lake").toString
    spark.range(0, 200)
      .select($"id".as("doc_id"), pmod($"id" * 31, lit(7)).as("grp"),
        lit("p0").as("source"))
      .repartitionByRange(4, $"doc_id")
      .write.format("graft")
      .option("partitionCol", "source")
      .option("statsCols", "doc_id,grp").option("bloomCols", "doc_id")
      .mode("append").save(dir)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.version == 1L && snap.schema.isDefined)
    assert(snap.stats.nonEmpty && snap.blooms.nonEmpty)
    assert(snap.stats.values.forall(_.map(_.col).sorted == Vector("doc_id", "grp")))
    // the created lake serves every surface: Scala read, SQL read with
    // pruning, point lookup, and a continuing SQL INSERT
    assert(ManifestLake.read(spark, dir).count() == 200)
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 42L).count() == 1)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv2c USING graft OPTIONS (path '$dir')")
    val pruned = spark.sql("SELECT doc_id FROM dsv2c WHERE doc_id BETWEEN 10 AND 20")
    assert(pruned.count() == 11)
    // creation without partitionCol is refused with the option named
    val e = intercept[Exception] {
      spark.range(0, 5).select($"id".as("x"), lit("p").as("source"))
        .write.format("graft").mode("append")
        .save(Files.createTempDirectory("mdsv2c2").resolve("lake").toString)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("partitionCol")), messages(e).mkString(" | "))
  }

  test("DSv2 stream sink: writeStream.format(graft) appends exactly-once with full tracking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    // stream-creates: no lake exists; partitionCol/statsCols/bloomCols
    // options seed layout + tracking on the first micro-batch
    val dir = Files.createTempDirectory("mgsink").resolve("lake").toString
    val ckpt = Files.createTempDirectory("mgsink_ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "source")
      .writeStream.format("graft")
      .option("path", dir).option("checkpointLocation", ckpt)
      .option("partitionCol", "source")
      .option("statsCols", "doc_id").option("bloomCols", "doc_id")
      .option("appId", "sinkA")
      .start()
    try {
      ms.addData((1L, "x"), (2L, "x"), (3L, "y"))
      q.processAllAvailable()
      ms.addData((4L, "y"), (5L, "x"))
      q.processAllAvailable()
    } finally q.stop()
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.read(spark, dir).count() == 5)
    assert(snap.txns.get("sinkA").exists(_ >= 1L),
      s"per-app high-water must ride the commits: ${snap.txns}")
    // streamed-in files carry the SAME skipping metadata as batch appends
    assert(snap.files.nonEmpty && snap.stats.keySet == snap.files.toSet,
      "every streamed file must carry range stats")
    assert(snap.blooms.keySet == snap.files.toSet,
      "every streamed file must carry its bloom")
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 4L).count() == 1)

    // exactly-once: a re-delivered batch id stages nothing (the
    // restart-after-crash path, replayed by hand through the same sink)
    val v = snap.version
    new GraftStreamSink(dir, "sinkA", None, Nil, Nil)
      .addBatch(0L, Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "source"))
    assert(ManifestLake.latestSnapshot(dir).get.version == v, "duplicate batch must not commit")
    assert(ManifestLake.read(spark, dir).count() == 5)

    // a RESTARTED stream (same checkpoint, new appId-default) resumes
    // from the offset log; tracking continues from the snapshot even
    // without options
    val q2 = ms.toDF().toDF("doc_id", "source")
      .writeStream.format("graft")
      .option("path", dir).option("checkpointLocation", ckpt)
      .start()
    try {
      ms.addData((6L, "y"))
      q2.processAllAvailable()
    } finally q2.stop()
    val snap2 = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.read(spark, dir).count() == 6)
    assert(snap2.stats.keySet == snap2.files.toSet,
      "optionless restart must continue the lake's stats tracking")

    // a second INDEPENDENT stream must namespace its high-water
    val ms2 = MemoryStream[(Long, String)]
    val q3 = ms2.toDF().toDF("doc_id", "source")
      .writeStream.format("graft")
      .option("path", dir)
      .option("checkpointLocation", Files.createTempDirectory("mgsink_ckpt2").toString)
      .option("appId", "sinkB")
      .start()
    try {
      ms2.addData((100L, "z"))
      q3.processAllAvailable()
    } finally q3.stop()
    val snap3 = ManifestLake.latestSnapshot(dir).get
    assert(snap3.txns.contains("sinkB") && snap3.txns.get("sinkA") == snap2.txns.get("sinkA"),
      s"high-waters must not cross-talk: ${snap3.txns}")
    assert(ManifestLake.read(spark, dir).count() == 7)

    // non-append output modes are refused loudly
    val e = intercept[Exception] {
      ms.toDF().toDF("doc_id", "source").groupBy($"source").count()
        .writeStream.format("graft")
        .option("path", Files.createTempDirectory("mgsink3").resolve("lake").toString)
        .option("checkpointLocation", Files.createTempDirectory("mgsink_ckpt3").toString)
        .option("partitionCol", "source")
        .outputMode("complete").start()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("append-only") || m.contains("does not support Complete")),
      messages(e).mkString(" | "))
  }

  test("GraftCatalog: path tables serve SELECT, VERSION AS OF, INSERT INTO and DELETE FROM") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mgcat").resolve("lake").toString
    spark.range(0, 1000)
      .select($"id".as("doc_id"), lit("p0").as("source"))
      .repartitionByRange(10, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").option("bloomCols", "doc_id")
      .mode("append").save(dir)                                        // v1
    def t = s"graft.`$dir`"

    // SELECT through the catalog identifier — no registration step
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 1000)
    // range predicates prune through the same manifest stats as q152
    assert(spark.sql(s"SELECT doc_id FROM $t WHERE doc_id BETWEEN 10 AND 20").count() == 11)

    // INSERT INTO through the catalog = a CAS append continuing tracking
    spark.sql(s"INSERT INTO $t SELECT id AS doc_id, 'p1' AS source FROM range(1000, 1100)") // v2
    val snap2 = ManifestLake.latestSnapshot(dir).get
    assert(snap2.version == 2L && snap2.op == "append")
    assert(snap2.stats.keySet == snap2.files.toSet, "SQL INSERT must continue stats tracking")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 1100)

    // time travel: VERSION AS OF reads the named manifest
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1").head().getLong(0) == 1000)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 2").head().getLong(0) == 1100)

    // DELETE FROM routes through ManifestLake.deleteWhere: only the
    // file(s) holding matching rows rewrite, history keeps both versions
    val filesBefore = ManifestLake.latestSnapshot(dir).get.files.toSet
    spark.sql(s"DELETE FROM $t WHERE doc_id >= 250 AND doc_id < 260")  // v3
    val snap3 = ManifestLake.latestSnapshot(dir).get
    assert(snap3.op == "delete")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 1090)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE doc_id = 255").head().getLong(0) == 0)
    assert(filesBefore.intersect(snap3.files.toSet).size == filesBefore.size - 1,
      "a range-clustered delete must rewrite exactly one file")
    // the pre-delete version still reads complete — history intact
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 2").head().getLong(0) == 1100)

    // IN-list deletes and null-safe shapes translate too
    spark.sql(s"DELETE FROM $t WHERE doc_id IN (0, 1, 2)")             // v4
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 1087)

    // destructive catalog ops refuse rather than guess
    intercept[UnsupportedOperationException] {
      spark.sql(s"DROP TABLE $t")
    }
    assert(ManifestLake.latestSnapshot(dir).get.files.nonEmpty, "DROP must not touch the lake")
    // a missing lake is a missing table, not a crash
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`/tmp/definitely/no/lake/here`").collect()
    }
    assert(e.getMessage != null)
  }

  test("manifest lake: merge upserts by key, rebases over appends, refuses ambiguity") {
    val dir = Files.createTempDirectory("mmerge").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 1000).select($"id".as("doc_id"), lit("m0").as("source"),
        ($"id" * 10).as("score")).repartitionByRange(10, $"doc_id"),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val v1 = ManifestLake.latestSnapshot(dir).get

    // clustered update range + fresh inserts
    val updates = spark.range(100, 200).select($"id".as("doc_id"),
        lit("m0").as("source"), lit(-1L).as("score"))
      .union(spark.range(5000, 5010).select($"id".as("doc_id"),
        lit("m0").as("source"), lit(7L).as("score")))
    val stats = ManifestLake.merge(spark, dir, updates, Seq("doc_id"))
    assert(stats == ManifestLake.MergeStats(100L, 10L, stats.filesRewritten))
    assert(stats.filesRewritten < v1.files.length,
      s"clustered merge must not rewrite the whole lake: $stats vs ${v1.files.length}")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.op == "merge")
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 1010)
    assert(back.filter($"score" === -1L).count() == 100)
    assert(back.filter($"doc_id" >= 5000).count() == 10)
    assert(back.filter($"doc_id" === 150 && $"score" =!= -1L).count() == 0,
      "matched rows must be replaced, not duplicated")
    // skipping metadata survives the merge on every file
    assert(v2.stats.keySet == v2.files.toSet)
    assert(v2.blooms.keySet == v2.files.toSet)
    // merge is CDC-invisible
    assert(ManifestLake.readChanges(spark, dir, 1L, 2L).count() == 0)
    // time travel: v1 content intact
    assert(ManifestLake.read(spark, dir, Some(v1))
      .filter($"score" === -1L).count() == 0)

    // duplicate update keys refuse loudly before any write
    val vBefore = ManifestLake.latestSnapshot(dir).get.version
    val dup = spark.range(0, 2).select(lit(42L).as("doc_id"),
      lit("m0").as("source"), $"id".as("score"))
    val e = intercept[IllegalArgumentException] {
      ManifestLake.merge(spark, dir, dup, Seq("doc_id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    assert(ManifestLake.latestSnapshot(dir).get.version == vBefore)

    // a pure-insert merge (no matches) rewrites nothing
    val ins = spark.range(9000, 9005).select($"id".as("doc_id"),
      lit("m0").as("source"), lit(1L).as("score"))
    val s2 = ManifestLake.merge(spark, dir, ins, Seq("doc_id"))
    assert(s2 == ManifestLake.MergeStats(0L, 5L, 0))
    assert(ManifestLake.read(spark, dir).count() == 1015)

    // the race, pinned: an append lands AFTER the merge's rewrites and
    // BEFORE its commit — set-union rebase must keep both
    val raceDir = Files.createTempDirectory("mmerge2").resolve("lake").toString
    ManifestLake.append(spark, raceDir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("r0").as("source"),
        lit(0L).as("score")).repartitionByRange(4, $"doc_id"), "source")
    val upd = spark.range(10, 20).select($"id".as("doc_id"),
      lit("r0").as("source"), lit(-5L).as("score"))
    ManifestLake.merge(spark, raceDir, upd, Seq("doc_id"), () => {
      ManifestLake.append(spark, raceDir,
        spark.range(200, 210).select($"id".as("doc_id"), lit("r0").as("source"),
          lit(9L).as("score")), "source")
      ()
    })
    val raced = ManifestLake.read(spark, raceDir)
    assert(raced.count() == 110, "rebase must keep the racing append")
    assert(raced.filter($"score" === -5L).count() == 10)
    assert(raced.filter($"score" === 9L).count() == 10)

    // a racing commit that REPLACED a merge input aborts the merge
    val abortDir = Files.createTempDirectory("mmerge3").resolve("lake").toString
    ManifestLake.append(spark, abortDir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("a0").as("source"),
        lit(0L).as("score")).repartitionByRange(4, $"doc_id"), "source")
    val e2 = intercept[IllegalStateException] {
      ManifestLake.merge(spark, abortDir,
        spark.range(0, 100).select($"id".as("doc_id"), lit("a0").as("source"),
          lit(-1L).as("score")), Seq("doc_id"), () => {
          ManifestLake.compact(spark, abortDir, "source",
            targetRecordsPerFile = 1000L)
          ()
        })
    }
    assert(e2.getMessage.contains("concurrent commit replaced"))
  }

  test("GraftCatalog: CALL compact and CALL vacuum run the lifecycle through SQL") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mgproc").resolve("lake").toString
    // two tiny-file appends -> a fragmented lake
    ManifestLake.append(spark, dir,
      spark.range(0, 60).select($"id".as("doc_id"), lit("p0").as("source")),
      "source", maxRecordsPerFile = 5L, statsCols = Seq("doc_id"))
    ManifestLake.append(spark, dir,
      spark.range(60, 100).select($"id".as("doc_id"), lit("p0").as("source")),
      "source", maxRecordsPerFile = 5L, statsCols = Seq("doc_id"))
    val fragmented = ManifestLake.latestSnapshot(dir).get.files.length
    assert(fragmented >= 10)

    val res = spark.sql(
      s"CALL graft.compact(path => '$dir', target_records => 1000)").collect()
    assert(res.length == 1)
    val row = res.head
    assert(row.getAs[Long]("version") == 3L)
    assert(row.getAs[Int]("files_before") == fragmented)
    assert(row.getAs[Int]("files_after") < fragmented)
    assert(ManifestLake.read(spark, dir).count() == 100)
    assert(ManifestLake.latestSnapshot(dir).get.op == "compact")

    // vacuum through CALL: grace 0 deletes the retired fragments now
    val vres = spark.sql(
      s"CALL graft.vacuum(path => '$dir', keep_versions => 1, grace_millis => 0)")
      .collect()
    assert(vres.head.getAs[Long]("files_deleted") >= fragmented - 1,
      s"expected the retired fragments gone, got ${vres.head}")
    assert(ManifestLake.read(spark, dir).count() == 100, "content survives vacuum")

    // clustered compact through CALL reorganizes on the named column
    val dir2 = Files.createTempDirectory("mgproc2").resolve("lake").toString
    ManifestLake.append(spark, dir2,
      spark.range(0, 200).orderBy(rand(7)).select($"id".as("doc_id"),
        lit("c0").as("source")),
      "source", maxRecordsPerFile = 20L, statsCols = Seq("doc_id"))
    spark.sql(s"CALL graft.compact(path => '$dir2', target_records => 50, " +
      "cluster_by => 'doc_id')")
    val snap2 = ManifestLake.latestSnapshot(dir2).get
    assert(snap2.files.length <= 5)
    // range read after clustering prunes
    assert(ManifestLake.pruneFiles(snap2, "doc_id",
      BigDecimal(0), BigDecimal(40)).length < snap2.files.length)

    // unknown procedure refuses with the available list
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.optimize(path => '$dir')")
    }
    assert(e.getMessage.contains("unknown procedure") ||
      e.getMessage.contains("optimize"), e.getMessage)
  }

  test("manifest lake: vacuum protects live files of a STATS-TRACKED lake") {
    // regression pin: manifest file lines carry tab-separated stats
    // segments; vacuum's protection set once matched raw LINES against
    // on-disk names, so every stats-tracked file (the recommended
    // configuration) was unprotected — a grace-expired vacuum deleted
    // LIVE data. Protection must key on the path prefix alone.
    val dir = Files.createTempDirectory("mvacstats").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("v0").as("source")),
      "source", maxRecordsPerFile = 10L,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000L)
    val live = ManifestLake.latestSnapshot(dir).get.files
    assert(live.nonEmpty && live.forall(f =>
      ManifestLake.latestSnapshot(dir).get.stats.contains(f)))
    val reclaimed = ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(reclaimed >= 10, s"retired fragments must reclaim: $reclaimed")
    live.foreach { f =>
      assert(Files.exists(java.nio.file.Paths.get(dir).resolve(f)),
        s"vacuum deleted a LIVE stats-tracked file: $f")
    }
    assert(ManifestLake.read(spark, dir).count() == 100)
    // and the lake still point-looks-up through its bloom
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 42L).count() == 1)
  }

  test("row-level SQL: UPDATE rewrites only pruned files; subquery DELETE works; MERGE INTO refuses") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mrowlvl").resolve("lake").toString
    spark.range(0, 1000)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 10).as("score"))
      .repartitionByRange(10, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").option("bloomCols", "doc_id")
      .mode("append").save(dir)
    def t = s"graft.`$dir`"
    val v1 = ManifestLake.latestSnapshot(dir).get

    // a clustered-range UPDATE rewrites only overlapping files
    spark.sql(s"UPDATE $t SET score = -1 WHERE doc_id >= 100 AND doc_id < 150")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.op == "update")
    val rewritten = v1.files.toSet -- v2.files.toSet
    assert(rewritten.nonEmpty && rewritten.size <= 2,
      s"range update must rewrite only overlapping files: ${rewritten.size} of ${v1.files.size}")
    val back = ManifestLake.read(spark, dir)
    assert(back.filter($"score" === -1).count() == 50)
    assert(back.filter($"doc_id" === 500).head().getAs[Long]("score") == 5000,
      "rows outside the predicate must carry byte-identical values")
    assert(v2.stats.keySet == v2.files.toSet && v2.blooms.keySet == v2.files.toSet,
      "the rewritten files must re-derive skipping metadata")
    // update commits are CDC-invisible
    assert(ManifestLake.readChanges(spark, dir, 1L, 2L).count() == 0)

    // expression updates compute in-engine (not just literals)
    spark.sql(s"UPDATE $t SET score = score + doc_id WHERE doc_id >= 900")
    assert(ManifestLake.read(spark, dir).filter($"doc_id" === 950)
      .head().getAs[Long]("score") == 9500 + 950)

    // a DELETE the metadata path cannot serve (subquery) routes through
    // the same copy-on-write machinery
    spark.sql(s"DELETE FROM $t WHERE doc_id IN " +
      s"(SELECT doc_id FROM $t WHERE score = -1)")
    assert(ManifestLake.latestSnapshot(dir).get.op == "delete")
    assert(ManifestLake.read(spark, dir).count() == 950)
    assert(ManifestLake.read(spark, dir).filter($"score" === -1).count() == 0)

    // MERGE INTO: the runtime group filter narrows the copy-on-write
    // rewrite to the files holding matched keys (a plain
    // single-attribute IN pushed back through the point-lookup rules)
    val preMerge = ManifestLake.latestSnapshot(dir).get
    spark.sql(s"MERGE INTO $t g USING " +
      "(SELECT id AS doc_id, 'p0' AS source, -99L AS score FROM range(300, 310) " +
      " UNION ALL SELECT id + 7000, 'p0', 77L FROM range(0, 5)) s " +
      "ON g.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val postMerge = ManifestLake.latestSnapshot(dir).get
    assert(postMerge.op == "merge")
    val mergeRewritten = preMerge.files.toSet -- postMerge.files.toSet
    assert(mergeRewritten.nonEmpty && mergeRewritten.size <= 2,
      s"group-filtered MERGE must rewrite only matched-key files: " +
        s"${mergeRewritten.size} of ${preMerge.files.size}")
    val merged = ManifestLake.read(spark, dir)
    assert(merged.filter($"score" === -99L).count() == 10)
    assert(merged.filter($"score" === 77L).count() == 5)
    assert(merged.filter($"doc_id" === 500).head().getAs[Long]("score") == 5000,
      "rows outside matched files must be untouched")
    assert(postMerge.stats.keySet == postMerge.files.toSet)

    // MERGE's WHEN MATCHED THEN DELETE works through the same machinery
    spark.sql(s"MERGE INTO $t g USING (SELECT id + 7000 AS doc_id FROM range(0, 5)) s " +
      "ON g.doc_id = s.doc_id WHEN MATCHED THEN DELETE")
    assert(ManifestLake.read(spark, dir).filter($"score" === 77L).count() == 0)

    // a MERGE whose source matches NO lake key (pure insert) must
    // rewrite ZERO files: the runtime group filter pushes In(key, [])
    // — empty IN prunes everything, and the ×10 probe caught the
    // opposite (whole-lake no-op rewrite) before this pin existed
    val preNoMatch = ManifestLake.latestSnapshot(dir).get
    spark.sql(s"MERGE INTO $t g USING " +
      "(SELECT id + 90000 AS doc_id, 'p0' AS source, 5L AS score FROM range(0, 8)) s " +
      "ON g.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val postNoMatch = ManifestLake.latestSnapshot(dir).get
    assert((preNoMatch.files.toSet -- postNoMatch.files.toSet).isEmpty,
      "zero-match MERGE must not rewrite any existing file")
    assert(ManifestLake.read(spark, dir).filter($"score" === 5L).count() == 8)

    // ambiguous matches (two source rows, one target key) fail loudly
    // instead of writing a nondeterministic result
    val eMulti = intercept[Exception] {
      spark.sql(s"MERGE INTO $t g USING " +
        "(SELECT 600L AS doc_id, 'p0' AS source, 1L AS score " +
        " UNION ALL SELECT 600L, 'p0', 2L) s " +
        "ON g.doc_id = s.doc_id WHEN MATCHED THEN UPDATE SET *")
    }
    assert(Option(eMulti.getMessage).exists(m =>
      m.toLowerCase.contains("merge") || m.toLowerCase.contains("cardinality") ||
        m.toLowerCase.contains("multiple")), eMulti.getMessage)

    // time travel still reads the pre-DML lake
    assert(spark.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1")
      .head().getLong(0) == 1000)
  }

  test("GraftScan: manifest statistics drive broadcast; runtime filters prune files") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mstats").resolve("lake").toString
    spark.range(0, 20000)
      .select($"id".as("doc_id"), concat(lit("s"), pmod($"id", lit(8))).as("source"),
        ($"id" * 3).as("score"))
      .repartitionByRange(20, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)

    def scanOf(df: org.apache.spark.sql.DataFrame): GraftScan =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.collectFirst { case g: GraftScan => g }.get

    // statistics: the PRUNED read reports the pruned bytes
    val narrow = spark.sql(s"SELECT doc_id FROM graft.`$dir` WHERE doc_id < 500")
    val wide = spark.sql(s"SELECT doc_id FROM graft.`$dir`")
    val narrowBytes = scanOf(narrow).estimateStatistics().sizeInBytes().getAsLong
    val wideBytes = scanOf(wide).estimateStatistics().sizeInBytes().getAsLong
    assert(narrowBytes > 0 && narrowBytes < wideBytes / 4,
      s"pruned scan must report pruned bytes: $narrowBytes vs $wideBytes")

    // ...and Catalyst uses them: a pruned slice under the broadcast
    // threshold plans a BroadcastHashJoin against a big frame
    val big = spark.range(0, 100000).select($"id".as("doc_id"), lit(1L).as("w"))
    big.createOrReplaceTempView("mstats_big")
    val joined = spark.sql(
      s"SELECT b.doc_id FROM mstats_big b JOIN graft.`$dir` g ON b.doc_id = g.doc_id " +
        "WHERE g.doc_id < 500")
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast,
      "manifest statistics must make the pruned lake side broadcastable:\n" +
        joined.queryExecution.executedPlan.toString.take(2000))
    assert(joined.count() == 500)

    // runtime filtering: the survival rules applied to an In-filter
    // shrink the effective file set below the static set
    val scan = scanOf(wide)
    val staticKept = scan.effectiveFiles.length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("source", Array("s3"))))
    assert(scan.effectiveFiles.length < staticKept,
      s"partition runtime filter must prune: ${scan.effectiveFiles.length} vs $staticKept")
    assert(scan.effectiveFiles.forall(_.startsWith("source=s3")),
      "only the filtered partition's files may survive")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id", Array(42L))))
    assert(scan.effectiveFiles.length <= 2,
      s"stats runtime filter must narrow to the covering file(s): ${scan.effectiveFiles.length}")
    // unusable shapes leave the set unchanged (subtractive-only)
    val before = scan.effectiveFiles.length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringContains("source", "3")))
    assert(scan.effectiveFiles.length == before)
  }

  test("review pins: escaped partition values, date partitions, layout-fork refusal, exact MergeStats") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

    // 1. partition values that Hive-escape (space + colon) must prune
    // CORRECTLY, not silently to zero: the dir name is escaped on disk
    val dir = Files.createTempDirectory("mrev1").resolve("lake").toString
    spark.range(0, 100)
      .select($"id".as("doc_id"),
        when($"id" % 2 === 0, lit("a b:c")).otherwise(lit("plain")).as("source"))
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` WHERE source = 'a b:c'")
      .head().getLong(0) == 50, "escaped partition equality must keep the escaped dir")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE source = 'a b:c' AND doc_id < 10")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir`").head().getLong(0) == 95)

    // 2. a DateType-partitioned lake survives a SQL UPDATE: rewritten
    // rows must land under the ISO date dir, not the epoch-day int
    val dir2 = Files.createTempDirectory("mrev2").resolve("lake").toString
    spark.range(0, 100)
      .select($"id".as("doc_id"),
        date_add(to_date(lit("2024-01-15")), pmod($"id", lit(2)).cast("int")).as("d"),
        ($"id" * 2).as("score"))
      .write.format("graft").option("partitionCol", "d")
      .option("statsCols", "doc_id").mode("append").save(dir2)
    spark.sql(s"UPDATE graft.`$dir2` SET score = -1 WHERE doc_id >= 0 AND doc_id < 100")
    val snap2 = ManifestLake.latestSnapshot(dir2).get
    assert(snap2.files.forall(f => f.startsWith("d=2024-01-1")),
      s"date partitions must keep ISO dirs: ${snap2.files.take(3)}")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir2` WHERE score = -1")
      .head().getLong(0) == 100)

    // 3. a stream batch missing the lake's layout column refuses
    // loudly instead of forking the directory layout
    val dir3 = Files.createTempDirectory("mrev3").resolve("lake").toString
    ManifestLake.append(spark, dir3,
      spark.range(0, 10).select($"id".as("doc_id"), lit("s0").as("source")),
      "source")
    val e = intercept[Exception] {
      new GraftStreamSink(dir3, "app", Some("day"), Nil, Nil)
        .addBatch(0L, spark.range(0, 5).select($"id".as("doc_id"), lit(1L).as("day")))
    }
    assert(e.getMessage.contains("cannot change a lake's layout"), e.getMessage)

    // 4. MergeStats stays exact when a key matches MULTIPLE lake rows
    val dir4 = Files.createTempDirectory("mrev4").resolve("lake").toString
    ManifestLake.append(spark, dir4,
      spark.range(0, 10).select($"id".as("doc_id"), lit("m0").as("source"), lit(0L).as("v"))
        .union(Seq((5L, "m0", 0L)).toDF("doc_id", "source", "v")),  // doc_id=5 twice
      "source", statsCols = Seq("doc_id"))
    val stats = ManifestLake.merge(spark, dir4,
      Seq((5L, "m0", 9L), (100L, "m0", 1L)).toDF("doc_id", "source", "v"),
      Seq("doc_id"))
    assert(stats.rowsUpdated == 2L, s"both duplicate rows replaced: $stats")
    assert(stats.rowsInserted == 1L, s"inserted must never go negative: $stats")
    val back4 = ManifestLake.read(spark, dir4)
    assert(back4.filter($"doc_id" === 5L).count() == 1, "merge collapses lake-side dups")
    assert(back4.count() == 11)
  }

  test("metadata tables: $history diffs commits, $files serves stats, VERSION AS OF travels") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("meta").resolve("lake").toString
    // partition value that Hive-escapes: $files must give back the
    // LOGICAL value, not the %xx directory name
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"),
        when($"id" % 2 === 0, lit("a b:c")).otherwise(lit("plain")).as("source")),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    ManifestLake.append(spark, dir,
      spark.range(100, 120).select($"id".as("doc_id"), lit("plain").as("source")),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    ManifestLake.deleteWhere(spark, dir, $"doc_id" >= 100L)           // v3: removes v2's files

    val hist = spark.sql(s"SELECT * FROM graft.`$dir$$history`")
      .orderBy($"version").collect()
    assert(hist.map(_.getLong(0)).sameElements(Array(1L, 2L, 3L)))
    assert(hist.map(_.getString(1)).sameElements(Array("append", "append", "delete")))
    assert(hist(0).isNullAt(3) && hist(0).isNullAt(4),
      "oldest retained version has no predecessor to diff against")
    assert(hist(1).getInt(3) > 0 && hist(1).getInt(4) == 0, "append adds, never removes")
    assert(hist(2).getInt(2) == hist(1).getInt(2) + hist(2).getInt(3) - hist(2).getInt(4))

    val files = spark.sql(s"SELECT * FROM graft.`$dir$$files`").collect()
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(files.length == snap.files.length, "one row per file for one tracked col")
    assert(files.forall(r => r.getString(2) == "doc_id" && r.getBoolean(5)))
    assert(files.map(_.getString(1)).toSet == Set("a b:c", "plain"),
      "partition values come back unescaped")
    // stats agree with the snapshot's own bounds, rendered as strings
    val evens = files.filter(_.getString(1) == "a b:c")
    assert(evens.map(_.getString(3).toLong).min == 0L &&
      evens.map(_.getString(4).toLong).max == 98L)

    // time travel on $files: v2 still holds the since-deleted rows' files
    val v2Files = spark.sql(s"SELECT * FROM graft.`$dir$$files` VERSION AS OF 2").collect()
    assert(v2Files.map(_.getString(4).toLong).max == 119L)
    assert(files.map(_.getString(4).toLong).max < 119L - 19L + 1L)

    // $history refuses VERSION AS OF (it already spans all versions)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir$$history` VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("every retained version"), e.getMessage)

    // a metadata suffix on a non-lake path names nothing
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`/does/not/exist$$history`").collect()
    }

    // the null-partition sentinel directory presents as LOGICAL null in
    // $files — the same mapping every data read of the lake applies
    val nd = Files.createTempDirectory("metanull").resolve("lake")
    val nmdir = nd.resolve("_manifests")
    Files.createDirectories(nmdir)
    Files.write(nmdir.resolve("v000000000001"), java.util.Arrays.asList(
      "#op:append",
      "source=__HIVE_DEFAULT_PARTITION__/f1.parquet\tdoc_id:1:9",
      "source=plain/f2.parquet\tdoc_id:10:20"))
    val nrows = spark.sql(s"SELECT partition, min_value FROM graft.`$nd$$files`")
      .collect()
    assert(nrows.exists(r => r.isNullAt(0) && r.getString(1) == "1"))
    assert(nrows.exists(r => r.getString(0) == "plain"))
  }

  test("RESTORE rolls back content as a new commit, keeping history and txn high-waters") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("restore").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 60).select($"id".as("doc_id"), lit("s0").as("source")), "source")
    // v2 arrives via the idempotent streaming path so a txn high-water exists
    ManifestLake.appendBatch(spark, dir,
      spark.range(60, 70).select($"id".as("doc_id"), lit("s0").as("source")),
      "source", "stream-app", 7L)
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 30L)             // v3
    assert(ManifestLake.read(spark, dir).count() == 40L)

    // exactly-one-addressing-form refusal (version XOR timestamp)
    val eBoth = intercept[Exception](spark.sql(
      s"CALL graft.restore(path => '$dir', version => 2, timestamp => 5)").head())
    assert(eBoth.getMessage.contains("exactly one"), eBoth.getMessage)
    val row = spark.sql(s"CALL graft.restore(path => '$dir', version => 2)").head()
    assert(row.getLong(0) == 2L && row.getLong(1) == 4L)
    val v4 = ManifestLake.latestSnapshot(dir).get
    assert(v4.op == "restore" && v4.version == 4L)
    assert(ManifestLake.read(spark, dir).count() == 70L, "v2 content is back")
    // history intact: the deleted state is still time-travelable
    assert(ManifestLake.read(spark, dir,
      ManifestLake.snapshotAt(dir, 3)).count() == 40L)
    // streaming exactly-once tracking survives the restore: the same
    // batch re-delivered after a restore must NOT double-append
    assert(v4.txns.get("stream-app").contains(7L))
    ManifestLake.appendBatch(spark, dir,
      spark.range(60, 70).select($"id".as("doc_id"), lit("s0").as("source")),
      "source", "stream-app", 7L)
    assert(ManifestLake.read(spark, dir).count() == 70L, "batch 7 already delivered")

    // restoring to the current version is a no-op, not a new commit
    ManifestLake.restore(dir, ManifestLake.latestSnapshot(dir).get.version)
    assert(ManifestLake.latestSnapshot(dir).get.version == 4L)

    // the restore commit is CDC-INVISIBLE: its re-published files hold
    // rows a changes consumer already received when they were first
    // committed — emitting them would deliver every restored row twice
    assert(ManifestLake.readChanges(spark, dir, 3L, 4L).count() == 0L,
      "a CDC window spanning only the restore must be empty")

    // a restore whose target lost data files refuses loudly, naming them
    val victim = ManifestLake.snapshotAt(dir, 2).get.files.head
    Files.delete(java.nio.file.Paths.get(dir).resolve(victim))
    val e = intercept[IllegalStateException] { ManifestLake.restore(dir, 2) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // and a vacuumed-away manifest refuses with its own message
    val e2 = intercept[IllegalStateException] { ManifestLake.restore(dir, 99) }
    assert(e2.getMessage.contains("never committed"), e2.getMessage)
  }

  test("TIMESTAMP AS OF resolves commit wall times to versions") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("tsao").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 50).select($"id".as("doc_id"), lit("s0").as("source")), "source")
    Thread.sleep(5) // distinct wall times for the two commits
    ManifestLake.append(spark, dir,
      spark.range(50, 80).select($"id".as("doc_id"), lit("s0").as("source")), "source")
    val ts1 = ManifestLake.snapshotAt(dir, 1).get.tsMillis.get
    val ts2 = ManifestLake.snapshotAt(dir, 2).get.tsMillis.get
    assert(ts1 < ts2, s"commits must carry increasing wall times here: $ts1 vs $ts2")

    // exact boundary is inclusive; between the commits resolves to v1
    assert(ManifestLake.snapshotAsOfTimestamp(dir, ts1).get.version == 1L)
    assert(ManifestLake.snapshotAsOfTimestamp(dir, ts2 - 1).get.version == 1L)
    assert(ManifestLake.snapshotAsOfTimestamp(dir, ts2 + 1000).get.version == 2L)
    assert(ManifestLake.snapshotAsOfTimestamp(dir, ts1 - 1).isEmpty,
      "before the first commit nothing qualifies")

    // the SQL surface: TIMESTAMP AS OF a timestamp literal (Spark only
    // resolves LITERAL expressions for v2 time travel — an ISO instant
    // with explicit zone is timezone-unambiguous and millis-exact)
    def lit_(ms: Long): String = s"'${java.time.Instant.ofEpochMilli(ms)}'"
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` " +
      s"TIMESTAMP AS OF ${lit_(ts1)}").head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` " +
      s"TIMESTAMP AS OF ${lit_(ts2)}").head().getLong(0) == 80L)
    val before = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir` " +
        s"TIMESTAMP AS OF ${lit_(ts1 - 1)}").collect()
    }
    assert(before.getMessage.contains("later"), before.getMessage)

    // $files travels by time too; $history refuses (spans everything)
    assert(spark.sql(s"SELECT count(DISTINCT file) AS n FROM graft.`$dir$$files` " +
      s"TIMESTAMP AS OF ${lit_(ts1)}").head().getLong(0) ==
      ManifestLake.snapshotAt(dir, 1).get.files.length)
    val h = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir$$history` " +
        s"TIMESTAMP AS OF ${lit_(ts2)}").collect()
    }
    assert(h.getMessage.contains("every retained version"), h.getMessage)

    // the DataFrame reader's twin: .option("timestampAsOf", millis|ISO)
    assert(spark.read.format("graft").option("timestampAsOf", ts1.toString)
      .load(dir).count() == 50L)
    assert(spark.read.format("graft")
      .option("timestampAsOf", java.time.Instant.ofEpochMilli(ts2).toString)
      .load(dir).count() == 80L)
    intercept[Exception] {
      spark.read.format("graft").option("timestampAsOf", ts1.toString)
        .option("versionAsOf", "2").load(dir).count()
    }

    // a hand-written pre-ts manifest (no #ts header) is version-addressable
    // but never time-addressable — absent, not zero
    val dir2 = Files.createTempDirectory("tsao2").resolve("lake")
    val mdir = dir2.resolve("_manifests")
    Files.createDirectories(mdir)
    Files.createDirectories(dir2.resolve("source=s0"))
    Files.write(mdir.resolve("v000000000001"),
      java.util.Arrays.asList("#op:append", "source=s0/f1.parquet"))
    assert(ManifestLake.snapshotAt(dir2.toString, 1).get.tsMillis.isEmpty)
    assert(ManifestLake.snapshotAsOfTimestamp(dir2.toString, Long.MaxValue).isEmpty)

    // RESTORE TO TIMESTAMP rides the same resolution: back to the v1
    // instant, committed as a NEW version (Scala and CALL face)
    Thread.sleep(5) // the restore commit must carry a wall time > ts2
    val r = ManifestLake.restoreToTimestamp(dir, ts1)
    assert(r.version == 3L && r.op == "restore")
    assert(ManifestLake.read(spark, dir).count() == 50L)
    // the exact v2 boundary (inclusive) resolves to v2, not the
    // just-committed v3 whose wall time is later
    val row = spark.sql(s"CALL graft.restore(path => '$dir', " +
      s"timestamp => $ts2)").head()
    assert(row.getAs[Long]("restored_to") == 2L)
    assert(ManifestLake.read(spark, dir).count() == 80L)
    val eEarly = intercept[Exception](
      ManifestLake.restoreToTimestamp(dir, ts1 - 1))
    assert(eEarly.getMessage.contains("every retained"), eEarly.getMessage)
  }

  test("row-level SQL: UPDATE rebases over a concurrent append — zero rows lost") {
    // The race: an append commits AFTER the UPDATE's rewrite finishes,
    // BEFORE its commitReplace CAS. The set-union rebase must keep the
    // appended file (appends touch disjoint files, no conflict). Pinned
    // via the beforeCommitReplace seam — the SQL twin of the Scala
    // merge/delete race pins above.
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mracesql1").resolve("lake").toString
    spark.range(0, 400)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 10).as("score"))
      .repartitionByRange(4, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)
    ManifestLake.beforeCommitReplace = () =>
      ManifestLake.append(spark, dir,
        spark.range(5000, 5020).select($"id".as("doc_id"), lit("p0").as("source"),
          lit(0L).as("score")), "source", statsCols = Seq("doc_id"))
    try spark.sql(s"UPDATE graft.`$dir` SET score = -1 WHERE doc_id >= 100 AND doc_id < 150")
    finally ManifestLake.beforeCommitReplace = () => ()
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 420, "the racing append's rows must survive the rebase")
    assert(back.filter($"score" === -1).count() == 50, "the update must apply")
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.op == "update")
    assert(snap.rows.keySet == snap.files.toSet && snap.rows.values.sum == 420)
  }

  test("row-level SQL: MERGE aborts loudly when a concurrent compact replaced its inputs") {
    // The race: a compaction swaps out the very files the MERGE's
    // copy-on-write rewrite read. Committing the merge anyway would
    // resurrect pre-compact bytes (and double rows the compactor moved)
    // — commitReplace must detect the missing inputs and abort, leaving
    // the lake exactly as the compactor published it.
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mracesql2").resolve("lake").toString
    spark.range(0, 400)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 10).as("score"))
      .repartitionByRange(8, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)
    ManifestLake.beforeCommitReplace = () => {
      ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000)
      ()
    }
    val e = try intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$dir` g USING " +
        "(SELECT id AS doc_id, 'p0' AS source, -9L AS score FROM range(100, 110)) s " +
        "ON g.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    } finally ManifestLake.beforeCommitReplace = () => ()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("concurrent commit replaced files")), e.toString)
    val back = ManifestLake.read(spark, dir)
    assert(back.count() == 400, "aborted merge must not change the row count")
    assert(back.filter($"score" === -9L).count() == 0,
      "aborted merge must leave no partial update visible")
    assert(ManifestLake.latestSnapshot(dir).get.op == "compact",
      "the compactor's commit stands; the merge burned no version")
  }

  test("catalog DDL: CREATE TABLE declares schema + layout; INSERT inherits tracking") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mddl").resolve("lake").toString
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(doc_id BIGINT, source STRING, score BIGINT) PARTITIONED BY (source) " +
      "TBLPROPERTIES('statsCols'='doc_id', 'bloomCols'='doc_id')")
    val v1 = ManifestLake.latestSnapshot(dir).get
    assert(v1.op == "create" && v1.files.isEmpty)
    assert(v1.declaredPartitionCol.contains("source"))
    assert(v1.declaredStatsCols == Seq("doc_id") && v1.declaredBloomCols == Seq("doc_id"))
    assert(v1.schema.exists(_.fieldNames.toSeq == Seq("doc_id", "source", "score")))
    // the empty lake is a readable SQL citizen before any data
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").count() == 0)

    // INSERT inherits the DECLARED layout — partitioning, stats, blooms
    spark.sql(s"INSERT INTO graft.`$dir` " +
      "SELECT id AS doc_id, concat('s', id % 2) AS source, id * 3 AS score " +
      "FROM range(0, 200)")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.files.nonEmpty && v2.files.forall(_.startsWith("source=")))
    assert(v2.stats.keySet == v2.files.toSet,
      "INSERT into a declared lake must track the declared statsCols")
    assert(v2.blooms.keySet == v2.files.toSet)
    assert(v2.props == v1.props, "declared layout must ride every commit")
    assert(spark.sql(s"SELECT sum(score) AS s FROM graft.`$dir`").head().getLong(0) ==
      (0L until 200L).map(_ * 3).sum)
    // the declaration keeps protecting the index on the SCALA path too:
    // an append omitting statsCols still tracks the declared columns
    ManifestLake.append(spark, dir,
      spark.range(200, 300).select($"id".as("doc_id"),
        lit("s0").as("source"), lit(0L).as("score")), "source")
    val v3 = ManifestLake.latestSnapshot(dir).get
    assert(v3.stats.keySet == v3.files.toSet && v3.blooms.keySet == v3.files.toSet)
    // point lookup proves the bloom works end-to-end
    assert(ManifestLake.readPoint(spark, dir, "doc_id", 42L).count() == 1)

    // refusals: duplicate CREATE; mis-partitioned append; bad props
    val eDup = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir` (a BIGINT) PARTITIONED BY (a)")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(eDup).exists(_.contains("already exists")), eDup.toString)
    val ePc = intercept[IllegalArgumentException] {
      ManifestLake.append(spark, dir,
        spark.range(0, 1).select($"id".as("doc_id"), lit("x").as("source"),
          lit(0L).as("score")), "doc_id")
    }
    assert(ePc.getMessage.contains("PARTITIONED BY (source)"))
    val dir2 = Files.createTempDirectory("mddl2").resolve("lake").toString
    val eProp = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir2` (a BIGINT, p STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES('zorderCols'='a')")
    }
    assert(msgs(eProp).exists(_.contains("unknown TBLPROPERTIES")), eProp.toString)
    val eNoPart = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir2` (a BIGINT, p STRING)")
    }
    assert(msgs(eNoPart).exists(_.contains("identity PARTITIONED BY")), eNoPart.toString)
  }

  test("catalog DDL: ALTER TABLE ADD COLUMNS widens metadata-only; CTAS creates and fills") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("malter").resolve("lake").toString
    spark.range(0, 100)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 2).as("score"))
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)
    val v1 = ManifestLake.latestSnapshot(dir).get

    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (quality DOUBLE, lang STRING)")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.op == "alter" && v2.version == v1.version + 1)
    assert(v2.files == v1.files && v2.stats == v1.stats && v2.rows == v1.rows,
      "ALTER is metadata-only: no file is touched")
    assert(v2.schema.exists(_.fieldNames.toSeq ==
      Seq("doc_id", "source", "score", "quality", "lang")))
    // existing rows null-fill; new inserts carry values; old stats prune
    val back = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(back.count() == 100 && back.filter($"quality".isNull).count() == 100)
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (1000L, 'p0', 0L, 0.5D, 'en')")
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` WHERE lang = 'en'")
      .head().getLong(0) == 1)
    // refusals: duplicate add, non-add changes
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val eDup = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (score BIGINT)") }
    assert(msgs(eDup).exists(_.contains("already exist")), eDup.toString)
    // RENAME COLUMN is a FEATURE now (column mapping — ColumnMappingSpec
    // carries its pins); what still refuses is a type change
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN score TO s2")
    assert(spark.sql(s"SELECT sum(s2) FROM graft.`$dir`").head().getLong(0) >= 0L)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN s2 TO score")
    val eTyp = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN score TYPE INT") }
    assert(msgs(eTyp).nonEmpty, eTyp.toString)

    // CTAS: createTable + first INSERT through the same machinery
    val dir2 = Files.createTempDirectory("mctas").resolve("lake").toString
    spark.sql(s"CREATE TABLE graft.`$dir2` PARTITIONED BY (source) " +
      s"TBLPROPERTIES('statsCols'='doc_id') AS SELECT doc_id, source, score " +
      s"FROM graft.`$dir` WHERE doc_id < 50")
    val c = ManifestLake.latestSnapshot(dir2).get
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir2`").head().getLong(0) == 50)
    assert(c.stats.keySet == c.files.toSet, "CTAS inherits declared statsCols")
    assert(c.declaredPartitionCol.contains("source"))
  }

  test("manifest lake: retain_millis vacuum keeps restore targets whole") {
    // The restore-safety contract: a version committed inside the
    // retention window survives vacuum — manifest AND data files —
    // however small keepVersions is, so restore-to-retained ALWAYS
    // succeeds. Without the window, keepVersions=1 + a rewriting
    // commit reclaims the only copy of the old bytes and restore can
    // only fail loudly.
    val dir = Files.createTempDirectory("mretain").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("v0").as("source")),
      "source")
    val v1 = ManifestLake.latestSnapshot(dir).get.version
    // a delete REWRITES v1's file — the old bytes survive only as
    // vacuum-eligible garbage
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 50)

    // retained: everything just committed is inside a 1-day window
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L,
      retainMillis = 24L * 3600 * 1000)
    val restored = ManifestLake.restore(dir, v1)
    assert(restored.version > v1, "restore must commit a NEW version")
    assert(ManifestLake.read(spark, dir).count() == 100,
      "restore-to-retained must serve the full pre-delete corpus")

    // outside the window the old contract holds: reclaim, then refuse
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 50)
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L, retainMillis = 0L)
    val e = intercept[IllegalStateException] { ManifestLake.restore(dir, v1) }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("manifest agg pushdown: COUNT(*)/MIN/MAX answer from the manifest, zero file reads") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("maggpd").resolve("lake").toString
    spark.range(0, 500)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 2).as("score"))
      .repartitionByRange(5, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)

    def plan(sql: String) = spark.sql(sql).queryExecution.executedPlan
    // flatten through AQE wrappers (collect() does not descend into
    // AdaptiveSparkPlanExec's hidden child)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.inputPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def isLocal(sql: String): Boolean = {
      val ns = nodes(plan(sql))
      !ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]) &&
        ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec])
    }
    val q = s"SELECT count(*), min(doc_id), max(doc_id) FROM graft.`$dir`"
    assert(isLocal(q), s"expected a manifest-answered local plan:\n${plan(q)}")
    assert(spark.sql(q).head() == org.apache.spark.sql.Row(500L, 0L, 499L))

    // stays exact through EVERY commit kind (each re-derives rows/stats)
    ManifestLake.merge(spark, dir,
      spark.range(495, 510).select($"id".as("doc_id"), lit("p0").as("source"),
        lit(-1L).as("score")), Seq("doc_id"))
    assert(spark.sql(q).head() == org.apache.spark.sql.Row(510L, 0L, 509L))
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 10)
    assert(spark.sql(q).head() == org.apache.spark.sql.Row(500L, 10L, 509L))
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 10000)
    assert(isLocal(q))
    assert(spark.sql(q).head() == org.apache.spark.sql.Row(500L, 10L, 509L))

    // declines — ordinary distributed plan, same answers — when the
    // manifest can't be exact: a WHERE (rows must filter), an
    // untracked column, a non-integral type, a grouped aggregate
    assert(!isLocal(s"SELECT count(*) FROM graft.`$dir` WHERE doc_id > 100"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` WHERE doc_id > 100")
      .head().getLong(0) == 409)
    assert(!isLocal(s"SELECT min(score) FROM graft.`$dir`"))
    // count alone and min/max alone push too
    assert(isLocal(s"SELECT count(*) FROM graft.`$dir`"))
    assert(isLocal(s"SELECT max(doc_id) FROM graft.`$dir`"))
    // time travel answers from the travelled manifest
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 1")
      .head().getLong(0) == 500)

    // GROUP BY the partition column answers per PARTITION DIRECTORY —
    // the dashboard's status-histogram shape, still zero file reads
    val dir2 = Files.createTempDirectory("maggpd2").resolve("lake").toString
    spark.range(0, 300)
      .select($"id".as("doc_id"), concat(lit("s"), pmod($"id", lit(3))).as("source"),
        ($"id" * 2).as("score"))
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir2)
    val gq = s"SELECT source, count(*) AS n, min(doc_id) AS lo " +
      s"FROM graft.`$dir2` GROUP BY source ORDER BY source"
    assert(isLocal(gq), s"grouped-by-partition agg must stay manifest-only:\n${plan(gq)}")
    val got = spark.sql(gq).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("s0", 100L, 0L), ("s1", 100L, 1L), ("s2", 100L, 2L)), got.toString)
    // grouping by a NON-partition column declines to the ordinary plan
    assert(!isLocal(s"SELECT doc_id % 2, count(*) FROM graft.`$dir2` GROUP BY 1"))
  }

  test("$partitions metadata table: per-partition file/row census off one manifest parse") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mparts").resolve("lake").toString
    spark.range(0, 300)
      .select($"id".as("doc_id"), concat(lit("s"), pmod($"id", lit(3))).as("source"))
      .write.format("graft").option("partitionCol", "source").mode("append").save(dir)
    val got = spark.sql(s"SELECT * FROM graft.`$dir$$partitions` ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq("s0", "s1", "s2"))
    assert(got.map(_._2) == Seq(100L, 100L, 100L), got.toString)
    // a delete re-derives the census; VERSION AS OF reads the old one
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 30) // 10 per source
    val after = spark.sql(s"SELECT partition, rows FROM graft.`$dir$$partitions` " +
      "ORDER BY partition").collect().map(_.getLong(1)).toSeq
    assert(after == Seq(90L, 90L, 90L), after.toString)
    val v1 = spark.sql(s"SELECT partition, rows FROM graft.`$dir$$partitions` " +
      "VERSION AS OF 1 ORDER BY partition").collect().map(_.getLong(1)).toSeq
    assert(v1 == Seq(100L, 100L, 100L), v1.toString)
  }

  test("DSv2 streaming source: Trigger.AvailableNow drains the backfill paced, then terminates") {
    val dir = Files.createTempDirectory("mavail").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    (0 until 4).foreach(i =>
      ManifestLake.append(spark, dir, batch(i * 25, (i + 1) * 25), "source"))
    val ckpt = Files.createTempDirectory("mavail_ckpt").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft").option("path", dir)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("memory").queryName("graft_avail_sink")
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    val q = run()
    assert(q.awaitTermination(120000),
      "AvailableNow must TERMINATE once the pinned target drains")
    assert(spark.table("graft_avail_sink").count() == 100)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(sizes.length == 4 && sizes.forall(_ == 25),
      s"admission control still paces the AvailableNow drain: $sizes")
    // a commit landing after termination is NOT consumed until the
    // next run — which (via foreachBatch: the memory sink refuses
    // checkpoint recovery) drains exactly the one new version and stops
    ManifestLake.append(spark, dir, batch(100, 110), "source")
    val seen = new java.util.concurrent.atomic.AtomicLong
    val q2 = spark.readStream.format("graft").option("path", dir)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        seen.addAndGet(df.count()); ()
      })
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000))
    assert(seen.get() == 10, s"restart must drain ONLY the new commit, got ${seen.get()}")
  }

  /** Rows of a DSv2 stream over `stream` drained once with
    * Trigger.AvailableNow, or the failure that stopped it. */
  private def drainAvailableNow(stream: org.apache.spark.sql.DataFrame)
      : Either[Throwable, Vector[org.apache.spark.sql.Row]] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    val q = stream.writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.collect().foreach(rows.add); ()
      })
      .option("checkpointLocation", Files.createTempDirectory("mdrain_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow must terminate")
      Right(rows.asScala.toVector)
    } catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Left(e) }
    finally q.stop()
  }

  private def batchCdc(dir: String, to: Long): Vector[org.apache.spark.sql.Row] =
    spark.read.format("graft").option("path", dir)
      .option("startingVersion", "0").option("endingVersion", to.toString).load()
      .select($"doc_id", $"source").collect().toVector

  private def sortedIds(rows: Vector[org.apache.spark.sql.Row]): Vector[(Long, String)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).sorted

  test("DSv2 streaming source: a window applies the deletion vectors committed inside it") {
    val dir = Files.createTempDirectory("mwindv").resolve("lake").toString
    def batch(lo: Long, hi: Long) = spark.range(lo, hi)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    ManifestLake.append(spark, dir, batch(0, 50), "source")          // v1
    val stream = spark.readStream.format("graft").option("path", dir)
      .option("skipChangeCommits", "true").load()                    // bound at v1
    ManifestLake.append(spark, dir, batch(50, 80), "source")         // v2
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" >= 60L)         // v3
    val want = batchCdc(dir, 3L)
    assert(want.length == 60)
    val got = drainAvailableNow(stream.select($"doc_id", $"source"))
      .fold(e => fail(e), identity)
    assert(got.length == want.length,
      s"the stream delivered ${got.length} rows, the batch CDC over (0, 3] ${want.length}")
    assert(sortedIds(got) == sortedIds(want))
  }

  test("DSv2 streaming source ≡ batch CDC over one window of generated appends and DV deletes") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    trait Op
    final case class Append(n: Int) extends Op
    final case class DvDelete(mod: Int, rem: Int) extends Op
    val opGen: Gen[Op] = Gen.frequency(
      3 -> Gen.choose(1, 30).map(Append(_)),
      2 -> (for { m <- Gen.choose(2, 5); r <- Gen.choose(0, 4) } yield DvDelete(m, r % m)))
    val ops: Gen[List[Op]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_, opGen))
    val prop = Prop.forAllNoShrink(ops) { seq =>
      val dir = Files.createTempDirectory("mwinprop").resolve("lake").toString
      var next = 0L
      def append(n: Int): Unit = {
        ManifestLake.append(spark, dir, spark.range(next, next + n).select($"id".as("doc_id"),
          concat(lit("p"), ($"id" % 2).cast("string")).as("source")), "source",
          maxRecordsPerFile = 8L)
        next += n
      }
      append(20)                                                     // v1
      // both streams bind at v1; every generated commit lands inside
      // the one window their AvailableNow drain covers
      def load(skip: Boolean) = spark.readStream.format("graft").option("path", dir)
        .option("skipChangeCommits", skip.toString).load().select($"doc_id", $"source")
      val (strict, skipping) = (load(false), load(true))
      seq.foreach {
        case Append(n) => append(n)
        case DvDelete(m, r) => ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % m === r)
      }
      val end = ManifestLake.latestSnapshot(dir).get.version
      val dvCommits = (2L to end).exists(v =>
        ManifestLake.opOf(java.nio.file.Paths.get(dir), v).contains("delete-dv"))
      val want = sortedIds(batchCdc(dir, end))
      val skipOk = drainAvailableNow(skipping).map(sortedIds) == Right(want)
      val strictOk = drainAvailableNow(strict) match {
        case Left(e) => dvCommits && Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).exists(t => Option(t.getMessage).exists(
            _.contains("skipChangeCommits=false")))
        case Right(rows) => !dvCommits && sortedIds(rows) == want
      }
      Prop(skipOk && strictOk) :| s"ops $seq (end v$end): skip $skipOk, strict $strictOk"
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1).withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(r.passed, r.toString)
  }

  test("$detail metadata table: one-row lake summary incl. bucket layout, version-addressable") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mdetail").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 200).select($"id".as("doc_id"),
        concat(lit("s"), pmod($"id", lit(2))).as("source")),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"),
      bucketBy = Some(("doc_id", 4)))
    val r = spark.sql(s"SELECT * FROM graft.`$dir$$detail`").collect()
    assert(r.length == 1)
    val d = r.head
    assert(d.getAs[Long]("version") == 1L && d.getAs[String]("op") == "append")
    assert(d.getAs[Long]("rows") == 200L)
    assert(d.getAs[String]("partition_col") == "source")
    assert(d.getAs[String]("bucket_col") == "doc_id" && d.getAs[Int]("bucket_n") == 4)
    assert(d.getAs[Int]("bucket_tagged_files") == d.getAs[Int]("n_files"))
    assert(d.getAs[String]("stats_cols") == "doc_id"
      && d.getAs[String]("bloom_cols") == "doc_id")
    // grows with history; VERSION AS OF reads the old summary
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 50)
    val v2 = spark.sql(s"SELECT op, rows FROM graft.`$dir$$detail`").head()
    assert(v2.getString(0) == "delete" && v2.getLong(1) == 150L)
    val v1d = spark.sql(
      s"SELECT rows FROM graft.`$dir$$detail` VERSION AS OF 1").head()
    assert(v1d.getLong(0) == 200L)
  }

  test("$properties metadata table: SHOW TBLPROPERTIES incl. constraints and analyze stats") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mprops").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("p0").as("source")),
      "source", statsCols = Seq("doc_id"), bucketBy = Some(("doc_id", 4)))
    ManifestLake.addConstraint(spark, dir, "ids_nonneg", "doc_id >= 0")
    Cbo.analyze(spark, dir, withNdv = false)
    val props = spark.sql(s"SELECT * FROM graft.`$dir$$properties`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("constraint.ids_nonneg") == "doc_id >= 0")
    assert(props("bucketCol") == "doc_id" && props("bucketN") == "4")
    assert(props("analyze.nRows") == "100" &&
      props.contains("analyze.col.doc_id"))
    // version-addressed: before the constraint there were no
    // constraint.* rows
    val v1 = spark.sql(
      s"SELECT key FROM graft.`$dir$$properties` VERSION AS OF 1")
      .collect().map(_.getString(0))
    assert(!v1.exists(_.startsWith("constraint.")), v1.mkString(","))
  }

  test("manifest limit pushdown: LIMIT n opens a row-covering file prefix, not the lake") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mlimit").resolve("lake").toString
    spark.range(0, 1000)
      .select($"id".as("doc_id"), lit("p0").as("source"), ($"id" * 2).as("score"))
      .repartitionByRange(10, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id").mode("append").save(dir)
    def scanOf(sql: String): GraftScan = {
      val p = spark.sql(sql).queryExecution.executedPlan
      p.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GraftScan]
      }.getOrElse(fail(s"no BatchScanExec in:\n$p"))
    }
    // 10 files of 100 rows: LIMIT 10 needs one file, LIMIT 250 three
    assert(scanOf(s"SELECT * FROM graft.`$dir` LIMIT 10").effectiveFiles.length == 1)
    assert(scanOf(s"SELECT * FROM graft.`$dir` LIMIT 250").effectiveFiles.length == 3)
    assert(spark.sql(s"SELECT * FROM graft.`$dir` LIMIT 250").count() == 250)
    assert(spark.sql(s"SELECT count(DISTINCT doc_id) FROM graft.`$dir` LIMIT 10")
      .head().getLong(0) == 1000, "LIMIT above an agg must not trim the scan")
    // a residual WHERE disables the trim — a qualifying row could
    // hide in any file
    val filtered = scanOf(s"SELECT * FROM graft.`$dir` WHERE score > 1900 LIMIT 5")
    assert(filtered.effectiveFiles.length == 10,
      s"filtered LIMIT must scan all candidates: ${filtered.effectiveFiles.length}")
    assert(spark.sql(s"SELECT * FROM graft.`$dir` WHERE score > 1900 LIMIT 5")
      .count() == 5)
    // ORDER BY an UNTRACKED column ... LIMIT is a top-k over all files
    assert(scanOf(s"SELECT * FROM graft.`$dir` ORDER BY score DESC LIMIT 5")
      .effectiveFiles.length == 10)
    assert(spark.sql(s"SELECT * FROM graft.`$dir` ORDER BY score DESC LIMIT 5")
      .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(999L, 998L, 997L, 996L, 995L))
  }

  test("manifest top-k pushdown: ORDER BY tracked col LIMIT k opens only candidate files") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = Files.createTempDirectory("mtopk").resolve("lake").toString
    // 10 clustered files of 100 rows; v is half-null in every file
    spark.range(0, 1000)
      .select($"id".as("doc_id"), lit("p0").as("source"),
        when(pmod($"id", lit(100)) < 50, lit(null).cast("long"))
          .otherwise($"id").as("v"))
      .repartitionByRange(10, $"doc_id")
      .write.format("graft").option("partitionCol", "source")
      .option("statsCols", "doc_id,v").mode("append").save(dir)
    def scanOf(sql: String): GraftScan = {
      val p = spark.sql(sql).queryExecution.executedPlan
      p.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GraftScan]
      }.getOrElse(fail(s"no BatchScanExec in:\n$p"))
    }
    // ASC: the k smallest live in the first clustered file
    val ascQ = s"SELECT doc_id FROM graft.`$dir` ORDER BY doc_id LIMIT 5"
    assert(scanOf(ascQ).effectiveFiles.length == 1, scanOf(ascQ).effectiveFiles)
    assert(spark.sql(ascQ).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // DESC: the k largest live in the last clustered file
    val descQ = s"SELECT doc_id FROM graft.`$dir` ORDER BY doc_id DESC LIMIT 5"
    assert(scanOf(descQ).effectiveFiles.length == 1)
    assert(spark.sql(descQ).collect().map(_.getLong(0)).toSeq ==
      Seq(999L, 998L, 997L, 996L, 995L))
    // a k spanning file boundaries keeps exactly the covering prefix
    assert(scanOf(s"SELECT doc_id FROM graft.`$dir` ORDER BY doc_id LIMIT 150")
      .effectiveFiles.length == 2)
    // NULLS FIRST (the ASC default): nulls exist in every file, so one
    // null-rich file covers k — and every returned row is null
    val nfQ = s"SELECT v FROM graft.`$dir` ORDER BY v LIMIT 10"
    assert(scanOf(nfQ).effectiveFiles.length == 1)
    assert(spark.sql(nfQ).collect().forall(_.isNullAt(0)))
    // NULLS LAST: values only — the smallest 5 non-null v are 50..54
    val nlQ = s"SELECT v FROM graft.`$dir` ORDER BY v ASC NULLS LAST LIMIT 5"
    assert(scanOf(nlQ).effectiveFiles.length == 1)
    assert(spark.sql(nlQ).collect().map(_.getLong(0)).toSeq ==
      Seq(50L, 51L, 52L, 53L, 54L))
    // DESC NULLS LAST over v: largest values sit in the last file
    val dnQ = s"SELECT v FROM graft.`$dir` ORDER BY v DESC NULLS LAST LIMIT 3"
    assert(scanOf(dnQ).effectiveFiles.length == 1)
    assert(spark.sql(dnQ).collect().map(_.getLong(0)).toSeq == Seq(999L, 998L, 997L))
    // untracked / non-integral order columns decline (all files kept)
    assert(scanOf(s"SELECT source FROM graft.`$dir` ORDER BY source LIMIT 3")
      .effectiveFiles.length == 10)
  }

  test("manifest lake: EVERY commit path carries rows: for every live file") {
    // COUNT(*) must be answerable from the manifest alone no matter
    // which operation last rewrote a file: append, merge, delete,
    // compact, and restore all thread footer row counts into the
    // ledger. A path that dropped them would silently degrade the
    // manifest from "count index" to "file list" the first time a
    // merge or compaction ran.
    val dir = Files.createTempDirectory("mrows").resolve("lake").toString
    def pin(expect: Long, ctx: String): Unit = {
      val snap = ManifestLake.latestSnapshot(dir).get
      assert(snap.rows.keySet == snap.files.toSet,
        s"$ctx: files missing rows: ${snap.files.toSet -- snap.rows.keySet}")
      assert(snap.rows.values.sum == expect,
        s"$ctx: manifest row total ${snap.rows.values.sum} != $expect")
      assert(ManifestLake.read(spark, dir).count() == expect, ctx)
    }
    ManifestLake.append(spark, dir,
      spark.range(0, 400).select($"id".as("doc_id"), lit("r0").as("source"),
        ($"id" * 2).as("v")).repartitionByRange(4, $"doc_id"),
      "source", statsCols = Seq("doc_id"))
    pin(400, "append")

    // merge: 5 updated keys (395..399) + 10 fresh inserts (400..409)
    ManifestLake.merge(spark, dir,
      spark.range(395, 410).select($"id".as("doc_id"), lit("r0").as("source"),
        lit(-1L).as("v")), Seq("doc_id"))
    pin(410, "merge")

    ManifestLake.deleteWhere(spark, dir, $"doc_id" >= 300 && $"doc_id" < 320)
    pin(390, "delete")

    val restoreTo = ManifestLake.latestSnapshot(dir).get.version
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000)
    pin(390, "compact")

    ManifestLake.restore(dir, restoreTo)
    pin(390, "restore")

    // streaming batch path too
    ManifestLake.appendBatch(spark, dir,
      spark.range(1000, 1010).select($"id".as("doc_id"), lit("r0").as("source"),
        lit(0L).as("v")), "source", "rowsapp", 1L)
    pin(400, "appendBatch")
  }

  test("DSv2 idempotent writes: txnAppId+txnVersion dedupe a retried batch job") {
    val dir = Files.createTempDirectory("mdsv2txn").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 20).select($"id".as("doc_id"), lit("p0").as("source")),
      "source", statsCols = Seq("doc_id"))
    val batch = spark.range(100, 110)
      .select($"id".as("doc_id"), lit("p0").as("source"))
    def write(ver: Long): Unit = batch.write.format("graft")
      .option("path", dir).option("txnAppId", "nightly")
      .option("txnVersion", ver.toString).mode("append").save()
    write(1L)
    assert(ManifestLake.read(spark, dir).count() == 30)
    // the orchestrator re-runs the same job version: no-op, no version burned
    val v = ManifestLake.latestSnapshot(dir).get.version
    write(1L)
    assert(ManifestLake.read(spark, dir).count() == 30, "retry must dedupe")
    assert(ManifestLake.latestSnapshot(dir).get.version == v)
    // the NEXT job version lands, and the high-water advances
    write(2L)
    assert(ManifestLake.read(spark, dir).count() == 40)
    assert(ManifestLake.latestSnapshot(dir).get.txns.get("nightly").contains(2L))
    // one option without the other refuses loudly
    val e = intercept[Exception] {
      batch.write.format("graft").option("path", dir)
        .option("txnAppId", "nightly").mode("append").save()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("txnVersion"))))
  }

  test("scoped compaction: OPTIMIZE WHERE touches only the named partitions") {
    val dir = Files.createTempDirectory("mscoped").resolve("lake").toString
    val docs = spark.range(0, 300).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 3).cast("string")).as("source"))
    ManifestLake.append(spark, dir, docs.repartition($"source"), "source",
      maxRecordsPerFile = 7L, statsCols = Seq("doc_id"))
    val before = ManifestLake.latestSnapshot(dir).get
    val stats = ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 50L, onlyPartitions = Some(Set("source=s1")))
    // only s1 was rewritten...
    assert(stats.map(_.partition) == Seq("s1"))
    val after = ManifestLake.latestSnapshot(dir).get
    val s0Files = before.files.filter(_.startsWith("source=s0"))
    val s2Files = before.files.filter(_.startsWith("source=s2"))
    assert(s0Files.forall(after.files.contains) &&
      s2Files.forall(after.files.contains),
      "out-of-scope partitions' files must ride through untouched")
    assert(after.files.count(_.startsWith("source=s1")) == 2)
    // ...content intact everywhere
    assert(ManifestLake.read(spark, dir).count() == 300)
    // an unknown partition name refuses loudly instead of no-opping
    val e = intercept[IllegalArgumentException] {
      ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 50L,
        onlyPartitions = Some(Set("source=zz")))
    }
    assert(e.getMessage.contains("unknown partition"))
    // SQL face: CALL compact(only_partitions => ...) scopes identically
    spark.conf.set("spark.sql.catalog.graft_scoped",
      classOf[GraftCatalog].getName)
    val out = spark.sql(s"CALL graft_scoped.compact(path => '$dir', " +
      "target_records => 50, only_partitions => 'source=s2')").collect().head
    assert(ManifestLake.latestSnapshot(dir).get.files
      .count(_.startsWith("source=s2")) == 2, out.toString)
    assert(ManifestLake.latestSnapshot(dir).get.files
      .count(_.startsWith("source=s0")) == 15,
      "s0 must still be untouched after the scoped CALL")
  }
}
