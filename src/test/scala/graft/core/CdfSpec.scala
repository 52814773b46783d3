package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The change feed's faces — [[ManifestLake.readChangeFeed]], the
  * batch options and the streaming source — pinned against the model
  * and against the reconstruction law (folding the feed from v0
  * rebuilds [[ManifestLake.read]]'s multiset, a read that shares no
  * code with the feed's scan). All faces plan from one scan
  * ([[GraftCdfScan]]) over one op-dispatch ([[GraftCdf.legsOf]]). */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  private def mkLake(dir: String): Unit = {
    val df = spark.range(0, 200)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df, "source",
      maxRecordsPerFile = 32L, statsCols = Seq("doc_id"))
  }

  /** The reconstruction law over a `mkLake`-shaped lake: the feed
    * folded from v0 (insert/postimage add, delete/preimage remove)
    * must equal the table's exact multiset as [[ManifestLake.read]]
    * serves it. */
  private def assertFeedRebuildsTable(dir: String): Unit = {
    type K = (Long, String, Long)
    val v = ManifestLake.latestSnapshot(dir).get.version
    val folded = scala.collection.mutable.Map.empty[K, Int].withDefaultValue(0)
    ManifestLake.readChangeFeed(spark, dir, 0L, v)
      .select($"doc_id", $"source", $"n_chars", $"_change_type", $"_commit_version")
      .collect()
      .sortBy(_.getLong(4)) // fold in commit order; within-version order is multiset-neutral
      .foreach { r =>
        val k: K = (r.getLong(0), r.getString(1), r.getLong(2))
        r.getString(3) match {
          case "insert" | "update_postimage" => folded(k) += 1
          case "delete" | "update_preimage" =>
            assert(folded(k) > 0, s"feed removes a row the fold doesn't hold: $k")
            folded(k) -= 1
          case other => fail(s"unexpected change type $other")
        }
      }
    val table = ManifestLake.read(spark, dir)
      .select($"doc_id", $"source", $"n_chars").collect()
      .groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .view.mapValues(_.length).toMap
    val rebuilt = folded.filter(_._2 > 0).toMap
    assert(rebuilt == table,
      s"fold-only=${(rebuilt.toSet -- table.toSet).take(3)} " +
        s"table-only=${(table.toSet -- rebuilt.toSet).take(3)}")
    assert(table.nonEmpty && table.values.sum.toLong ==
      ManifestLake.read(spark, dir).count())
  }

  test("DSv2 batch change feed ≡ the Scala readChangeFeed, row for row") {
    val dir = tmp("cdf_batch")
    mkLake(dir)                                                    // v1
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)   // v2
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 4,
      Seq("n_chars" -> lit(-1L)))                                  // v3
    ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 1024L * 1024)                         // v4
    ManifestLake.append(spark, dir, spark.range(1000, 1010)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                     // v5
    val v = ManifestLake.latestSnapshot(dir).get.version

    val dsv2 = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", v.toString)
      .load()
    val scalaFeed = ManifestLake.readChangeFeed(spark, dir, 0L, v)
    assert(dsv2.schema.fieldNames.toSeq == scalaFeed.schema.fieldNames.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String, Long)] =
      df.select($"doc_id", $"source", $"n_chars", $"_change_type",
        $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet
    val a = rows(dsv2); val b = rows(scalaFeed)
    assert(a == b, s"dsv2-only=${(a -- b).take(3)} scalaFeed-only=${(b -- a).take(3)}")
    assert(a.count(_._4 == "insert") == 210 && a.count(_._4 == "delete") == 20 &&
      a.count(_._4 == "update_preimage") == 1 &&
      a.count(_._4 == "update_postimage") == 1)
    // a reference outside the feed's own scan: the V1 read
    assertFeedRebuildsTable(dir)

    // sub-window: only the delete commit
    val w = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load()
    assert(w.count() == 20L &&
      w.select($"_change_type").distinct().head().getString(0) == "delete")

    // a window-less batch read refuses; so does an invalid option value
    intercept[Exception] {
      spark.read.format("graft").option("path", dir)
        .option("readChangeFeed", "true").load().count()
    }
    intercept[Exception] {
      spark.read.format("graft").option("path", dir)
        .option("readChangeFeed", "sometimes").load().count()
    }
    // a COW commit in the window refuses at planning
    ManifestLake.deleteWhere(spark, dir, $"doc_id" === 7L)         // v6
    val e = intercept[Exception] {
      spark.read.format("graft").option("path", dir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "5").option("endingVersion", "6")
        .load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("copy-on-write")), e.toString)
  }

  test("CDF stream under Trigger.AvailableNow drains one version per micro-batch with maxVersionsPerTrigger=1") {
    val dir = tmp("cdf_avail_now")
    mkLake(dir)                                                    // v1
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)   // v2
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 4,
      Seq("n_chars" -> lit(-1L)))                                  // v3
    ManifestLake.append(spark, dir, spark.range(1000, 1010)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                     // v4
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val ckpt = Files.createTempDirectory("cdf_avail_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        windows.add(df.select($"_commit_version").distinct().as[Long].collect().toSet)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    val ws = windows.asScala.toVector.filter(_.nonEmpty)
    assert(ws.length > 1, s"AvailableNow ran one micro-batch: $ws")
    assert(ws.forall(_.size <= 1), s"a window covered several versions: $ws")
    assert(ws.flatten.sorted == Vector(1L, 2L, 3L, 4L), ws.toString)
  }

  test("streaming change feed tails row-level changes; COW kills it") {
    val dir = tmp("cdf_stream")
    mkLake(dir)                                                    // v1
    val ckpt = Files.createTempDirectory("cdf_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("cdf_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      def byType(): Map[String, Long] = spark.table("cdf_sink")
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType() == Map("insert" -> 200L), byType().toString)
      // a MoR delete arrives as row-level deletes
      ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)
      q.processAllAvailable()
      assert(byType() == Map("insert" -> 200L, "delete" -> 20L))
      // a MoR update arrives as pre+post images; compaction is silent
      ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 4,
        Seq("n_chars" -> lit(-1L)))
      ManifestLake.compact(spark, dir, "source",
        targetRecordsPerFile = 1024L * 1024)
      q.processAllAvailable()
      assert(byType() == Map("insert" -> 200L, "delete" -> 20L,
        "update_preimage" -> 1L, "update_postimage" -> 1L))
      assert(spark.table("cdf_sink")
        .filter($"_change_type" === "update_postimage").head()
        .getAs[Long]("n_chars") == -1L)
      // a COW mutation fails the stream (no row-level record exists)
      ManifestLake.deleteWhere(spark, dir, $"doc_id" === 7L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("copy-on-write")), e.toString)
    } finally q.stop()
  }

  test("enableChangeDataFeed: COW delete ≡ MoR delete feed; SQL UPDATE diff ≡ MoR update feed") {
    // two identical lakes; one mutates merge-on-read, one copy-on-write
    // with the CDF property set — the change FEEDS must agree row for
    // row on (columns, change_type), though the mechanics differ
    // completely (DV position diff vs commit-time sidecar).
    val mor = tmp("cdf_mor"); val cow = tmp("cdf_cow")
    mkLake(mor); mkLake(cow)
    ManifestLake.setProperties(cow, Map("enableChangeDataFeed" -> "true")) // v2: silent
    def feedOf(dir: String, from: Long, to: Long): Set[(Long, String, Long, String)] =
      ManifestLake.readChangeFeed(spark, dir, from, to)
        .select($"doc_id", $"source", $"n_chars", $"_change_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet

    // DELETE: Scala COW path records matched rows directly
    ManifestLake.deleteWhereDv(spark, mor, $"doc_id" % 10 === 3)     // mor v2
    ManifestLake.deleteWhere(spark, cow, $"doc_id" % 10 === 3)       // cow v3
    val morDel = feedOf(mor, 1L, 2L); val cowDel = feedOf(cow, 2L, 3L)
    assert(morDel == cowDel && cowDel.size == 20,
      s"mor-only=${(morDel -- cowDel).take(3)} cow-only=${(cowDel -- morDel).take(3)}")
    assert(ManifestLake.latestSnapshot(cow).get.cdfFiles.nonEmpty &&
      ManifestLake.latestSnapshot(cow).get.cdfFiles.forall(_.startsWith("_cdf/")))

    // UPDATE: the SQL ReplaceData path reconstructs pre/post images by
    // exact multiset diff (the assignment must CHANGE the row — a
    // bit-identical image cancels; documented)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    ManifestLake.updateWhereDv(spark, mor, $"doc_id" % 50 === 7,
      Seq("n_chars" -> ($"n_chars" + 100000L)))                      // mor v3
    spark.sql(s"UPDATE graft.`$cow` SET n_chars = n_chars + 100000 " +
      "WHERE doc_id % 50 = 7")                                       // cow v4
    val morUpd = feedOf(mor, 2L, 3L); val cowUpd = feedOf(cow, 3L, 4L)
    assert(morUpd == cowUpd && cowUpd.count(_._4 == "update_preimage") == 4 &&
      cowUpd.count(_._4 == "update_postimage") == 4,
      s"mor-only=${(morUpd -- cowUpd).take(3)} cow-only=${(cowUpd -- morUpd).take(3)}")

    // the DSv2 batch face serves the sidecar legs identically, and
    // carries the commit wall time
    val v = ManifestLake.latestSnapshot(cow).get.version
    val dsv2 = spark.read.format("graft").option("path", cow)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", v.toString).load()
    val scalaFeed = ManifestLake.readChangeFeed(spark, cow, 0L, v)
    assert(dsv2.schema.fieldNames.toSeq == scalaFeed.schema.fieldNames.toSeq)
    def typed(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, String, Long)] =
      df.select($"doc_id", $"source", $"n_chars", $"_change_type", $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet
    val a = typed(dsv2); val b = typed(scalaFeed)
    assert(a == b, s"dsv2-only=${(a -- b).take(3)} scalaFeed-only=${(b -- a).take(3)}")
    assert(dsv2.filter($"_commit_timestamp".isNull).count() == 0,
      "every commit carries #ts — the feed's _commit_timestamp is non-null")
    // _commit_timestamp agrees with the manifest's wall time per version
    val tsByV = (1L to v).map(x =>
      x -> ManifestLake.snapshotAt(cow, x).get.tsMillis.get).toMap
    scalaFeed.select($"_commit_version", $"_commit_timestamp").distinct().collect()
      .foreach(r => assert(r.getTimestamp(1).getTime == tsByV(r.getLong(0))))
    // a reference outside the feed's own scan: the V1 read, per lake
    assertFeedRebuildsTable(mor)
    assertFeedRebuildsTable(cow)
  }

  test("Scala merge with CDF records the exact three-way change record") {
    val dir = tmp("cdf_merge")
    mkLake(dir)
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true"))
    // 3 updates hit existing keys (10, 11, 12), 2 are fresh inserts
    val updates = spark.range(0, 5).select(
      (when($"id" < 3, $"id" + 10).otherwise($"id" + 9000)).as("doc_id"),
      lit("s0").as("source"), lit(-5L).as("n_chars"))
    ManifestLake.merge(spark, dir, updates, Seq("doc_id"))           // v3
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = ManifestLake.readChangeFeed(spark, dir, v - 1, v)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 3L, "update_postimage" -> 3L,
      "insert" -> 2L), byType.toString)
    // preimages carry the OLD values, postimages the update's
    assert(feed.filter($"_change_type" === "update_preimage" && $"doc_id" === 10)
      .head().getAs[Long]("n_chars") == 100L)
    assert(feed.filter($"_change_type" === "update_postimage")
      .select($"n_chars").distinct().head().getLong(0) == -5L)
  }

  /** Aggregate-view hardening: MULTI-dimensional group keys including
    * NULL dims (a NULL group key is a group like any other — the fold
    * joins null-safely, where a usingColumns join would strand the
    * current row and duplicate the group), and SUM's SQL NULL
    * contract (NULL values contribute nothing; an all-NULL group
    * renders SQL NULL — the hidden `__graft_nn_*` non-null count
    * distinguishes "no non-null value yet" from "sum is zero"). */
  test("aggregate view: multi-dim keys with NULL dims fold null-safely; SUM's null contract holds") {
    val src = tmp("amv2_src"); val view = tmp("amv2_view")
    // 60 rows over (source, grp) where grp is NULL for a third of rows
    // and n_chars is NULL for grp=g1 entirely (the all-NULL-sum group)
    val df = spark.range(0, 60).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
      when($"id" % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("g"), ($"id" % 3).cast("string"))).as("grp"),
      when($"id" % 3 === 1, lit(null).cast("long"))
        .otherwise($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, src, df, "source",
      maxRecordsPerFile = 16L, statsCols = Seq("doc_id"))            // v1
    ManifestLake.setProperties(src,
      Map("enableChangeDataFeed" -> "true"))                         // v2
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 7 === 2)      // v3
    ManifestLake.updateWhereDv(spark, src, $"doc_id" % 11 === 5,
      Seq("n_chars" -> lit(999L)))                                   // v4
    val aggs = Seq(ManifestLake.AggSpec("n_rows", "count"),
      ManifestLake.AggSpec("sum_chars", "sum", "n_chars"))
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("grp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_chars",
        org.apache.spark.sql.types.LongType))), "source")
    val ckpt = Files.createTempDirectory("amv2_ckpt").toString
    def drain(): Unit = {
      val q = ManifestLake.maintainAggView(spark, src, view,
        Seq("source", "grp"), aggs, "amv2", ckpt, "source")
      assert(q.awaitTermination(120000))
    }
    def assertConverged(tag: String): Unit = {
      val got = ManifestLake.read(spark, view)
        .select($"source", $"grp", $"n_rows", $"sum_chars")
      val want = ManifestLake.read(spark, src).groupBy($"source", $"grp")
        .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"))
        .select($"source", $"grp", $"n_rows", $"sum_chars")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$tag: view must equal the GROUP BY recompute (null dims and " +
          "all-NULL sums included)")
    }
    drain(); assertConverged("backfill")
    // the NULL-dim groups really exist and really folded
    assert(ManifestLake.read(spark, view).filter($"grp".isNull).count() == 2,
      "one NULL-grp group per source must be in the view")
    // SQL-NULL contract: the grp=g1 values are all NULL except the 999
    // updates — the group whose surviving values are ALL NULL renders
    // SQL NULL (not 0), the one holding a live 999 renders 999
    val g1 = ManifestLake.read(spark, view).filter($"grp" === "g1")
      .select($"sum_chars").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(g1.toSet == Set(None, Some(999L)),
      s"g1 sums: one all-NULL group (NULL) + one updated (999): ${g1.toSeq}")
    // keep mutating THROUGH the null-dim groups, drain, re-converge
    ManifestLake.deleteWhereDv(spark, src, $"grp".isNull &&
      $"doc_id" % 2 === 0)                                           // v5
    drain(); assertConverged("after deleting inside the NULL-dim group")
  }

  /** The SQL face of the aggregate view: one CALL creates the view
    * lake (schema DERIVED by analyzing the aggregate against the
    * source's logical schema) and drains it; later CALLs fold only the
    * windows committed since — `CREATE MATERIALIZED VIEW` plus
    * `REFRESH` in one procedure. */
  test("CALL graft.maintain_agg_view: create-if-absent + exactly-once refresh through the SQL face") {
    val src = tmp("amvp_src"); val view = tmp("amvp_view")
    val ckpt = Files.createTempDirectory("amvp_ckpt").toString
    mkLake(src)                                                      // v1
    ManifestLake.setProperties(src,
      Map("enableChangeDataFeed" -> "true"))                         // v2
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 9 === 4)      // v3
    spark.conf.set("spark.sql.catalog.graft_amvp",
      classOf[GraftCatalog].getName)
    def call(): org.apache.spark.sql.Row = spark.sql(
      s"CALL graft_amvp.maintain_agg_view('$src', '$view', 'source', " +
        "'n_docs:count,sum_chars:sum:n_chars', 'amvp', " +
        s"'$ckpt')").head()
    def assertConverged(tag: String): Unit = {
      val got = ManifestLake.read(spark, view)
        .select($"source", $"n_docs", $"sum_chars")
      val want = ManifestLake.read(spark, src).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"n_chars"), lit(0L)).as("sum_chars"))
        .select($"source", $"n_docs", $"sum_chars")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, tag)
    }
    val r1 = call() // creates the view lake, backfills v1–v3
    assertConverged("first CALL backfills")
    assert(r1.getLong(1) == 2L, s"two source groups, got ${r1.getLong(1)}")
    // the derived schema used Spark's aggregate result types
    val vs = ManifestLake.latestSnapshot(view).get.schema.get
    assert(vs("n_docs").dataType == org.apache.spark.sql.types.LongType &&
      vs("sum_chars").dataType == org.apache.spark.sql.types.LongType, vs.sql)
    // later mutations + a second CALL = an incremental REFRESH
    ManifestLake.updateWhereDv(spark, src, $"doc_id" % 5 === 1,
      Seq("n_chars" -> ($"n_chars" + 1000L)))                        // v4
    call()
    assertConverged("second CALL refreshes incrementally")
    // a third CALL with no new commits is a no-op (gated, still green)
    val before = ManifestLake.latestSnapshot(view).get.version
    call()
    assertConverged("idle CALL is safe")
    assert(ManifestLake.latestSnapshot(view).get.version <= before + 1,
      "an idle refresh must not rebuild the view")
  }

  /** The join view's SQL face: one CALL = create-if-absent (schema
    * ANALYZED from the projection over both lakes' logical schemas) +
    * one drain of BOTH feeds under paired appIds/checkpoints. */
  test("CALL graft.maintain_join_view: create-if-absent + both-feed refresh through the SQL face") {
    val fact = tmp("jvp_fact"); val dim = tmp("jvp_dim")
    val view = tmp("jvp_view")
    val fckpt = Files.createTempDirectory("jvp_fckpt").toString
    val dckpt = Files.createTempDirectory("jvp_dckpt").toString
    mkLake(fact)                                                     // f v1
    ManifestLake.setProperties(fact,
      Map("enableChangeDataFeed" -> "true"))                         // f v2
    ManifestLake.append(spark, dim, Seq(("s0", 10L, "p"), ("s1", 20L, "p"))
      .toDF("source", "w", "p"), "p")                                // d v1
    ManifestLake.setProperties(dim,
      Map("enableChangeDataFeed" -> "true"))                         // d v2
    spark.conf.set("spark.sql.catalog.graft_jvp",
      classOf[GraftCatalog].getName)
    def call(): org.apache.spark.sql.Row = spark.sql(
      s"CALL graft_jvp.maintain_join_view('$fact', '$dim', '$view', " +
        "'doc_id', 'source', 'source', " +
        "'f.doc_id,f.source,f.n_chars,d.w', 'jvp', " +
        s"'$fckpt', '$dckpt', 'source')").head()
    def assertJoin(tag: String): Unit = {
      val got = ManifestLake.read(spark, view)
        .select($"doc_id", $"source", $"n_chars", $"w")
      val want = ManifestLake.read(spark, fact).alias("f")
        .join(ManifestLake.read(spark, dim).alias("d"),
          col("f.source") === col("d.source"), "inner")
        .select(col("f.doc_id"), col("f.source"), col("f.n_chars"),
          col("d.w"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, tag)
    }
    val r1 = call()
    assertJoin("first CALL creates + backfills both sides")
    assert(r1.getLong(1) == 200L, s"200 joined rows, got ${r1.getLong(1)}")
    val vs = ManifestLake.latestSnapshot(view).get.schema.get
    assert(vs("w").dataType == org.apache.spark.sql.types.LongType &&
      vs.fieldNames.toSeq == Seq("doc_id", "source", "n_chars", "w"), vs.sql)
    // churn BOTH sides, one CALL refreshes both feeds
    ManifestLake.deleteWhereDv(spark, fact, $"doc_id" % 10 === 0)    // f v3
    ManifestLake.updateWhereDv(spark, dim, $"source" === "s1",
      Seq("w" -> lit(99L)))                                          // d v3
    call()
    assertJoin("second CALL refreshes fact AND dim increments")
    assert(ManifestLake.read(spark, view)
      .filter($"source" === "s1" && $"w" =!= 99L).isEmpty,
      "the dim update must have propagated")
    // bad projection refuses loudly
    val e = intercept[Exception](spark.sql(
      s"CALL graft_jvp.maintain_join_view('$fact', '$dim', '$view', " +
        "'doc_id', 'source', 'source', 'f.doc_id,x.w', 'jvp2', " +
        s"'$fckpt', '$dckpt', 'source')").head())
    assert(e.getMessage.contains("f.col or d.col"), e.getMessage)
  }

  /** THE PERMANENT CONTRACT for SQL MERGE's change record (pinned, not
    * a gap): ReplaceData hands the engine whole rewritten file groups
    * with no per-row clause marker, so file contents CANNOT attribute
    * an added row to its WHEN clause — pairing pre/postimages would be
    * a guess. The SQL MERGE feed therefore uses Iceberg's
    * changelog-scan NET labels (`delete`/`insert`), diverging from
    * Delta's clause-exact `update_pre/postimage`; consumers needing
    * the exact three-way record use the Scala [[ManifestLake.merge]],
    * which knows its matched rows directly. The two records are
    * information-equivalent modulo attribution — relabeling the Scala
    * record's update images to net labels reproduces the SQL feed
    * row for row, which is exactly what this test pins. */
  test("SQL MERGE CDF contract: net delete/insert labels ≡ the Scala three-way record modulo attribution") {
    val a = tmp("cdf_mrg_scala"); val b = tmp("cdf_mrg_sql")
    mkLake(a); mkLake(b)
    ManifestLake.setProperties(a, Map("enableChangeDataFeed" -> "true"))
    ManifestLake.setProperties(b, Map("enableChangeDataFeed" -> "true"))
    // 3 updates hit existing keys (10, 11, 12), 2 are fresh inserts
    val updates = spark.range(0, 5).select(
      (when($"id" < 3, $"id" + 10).otherwise($"id" + 9000)).as("doc_id"),
      lit("s0").as("source"), lit(-5L).as("n_chars"))
    ManifestLake.merge(spark, a, updates, Seq("doc_id"))             // a v3
    spark.conf.set("spark.sql.catalog.graft_mrg",
      classOf[GraftCatalog].getName)
    spark.sql(s"MERGE INTO graft_mrg.`$b` g USING " +
      "(SELECT id + 10 AS doc_id, 's0' AS source, -5L AS n_chars " +
      " FROM range(0, 3) " +
      " UNION ALL SELECT id + 9003, 's0', -5L FROM range(0, 2)) s " +
      "ON g.doc_id = s.doc_id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")                              // b v3
    def feedOf(dir: String): Seq[(Long, String, Long, String)] =
      ManifestLake.readChangeFeed(spark, dir, 2L, 3L)
        .select($"doc_id", $"source", $"n_chars", $"_change_type")
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getString(3)))
    val sqlFeed = feedOf(b)
    // (a) the SQL labels are exactly the net pair
    assert(sqlFeed.map(_._4).toSet == Set("delete", "insert"),
      sqlFeed.map(_._4).distinct.toString)
    // (b) relabeling the Scala record reproduces the SQL feed as a
    // multiset — the same rows change, only clause attribution differs
    val relabeled = feedOf(a).map {
      case (id, s, n, "update_preimage")  => (id, s, n, "delete")
      case (id, s, n, "update_postimage") => (id, s, n, "insert")
      case other                          => other
    }
    def ms(xs: Seq[(Long, String, Long, String)]) =
      xs.groupBy(identity).view.mapValues(_.size).toMap
    assert(ms(relabeled) == ms(sqlFeed),
      s"scala-only=${(ms(relabeled).toSet -- ms(sqlFeed).toSet).take(3)} " +
        s"sql-only=${(ms(sqlFeed).toSet -- ms(relabeled).toSet).take(3)}")
    // (c) both tables converged to the same multiset (modulo key align)
    assert(ManifestLake.read(spark, b).count() ==
      ManifestLake.read(spark, a).count())
  }

  test("CDF diff after DROP COLUMN: COW DML and restore emit no spurious records for carried rows") {
    // A COW rewrite builds its files from the LOGICAL schema — the
    // coldrop-hidden physical column is absent and null-fills on read.
    // The multiset diff must therefore run over VISIBLE columns only:
    // diffing the hidden column would make every carried-unchanged row
    // in a rewritten file differ (old value vs null) and emit a
    // spurious pre/post pair per carried row.
    val dir = tmp("cdf_coldrop")
    mkLake(dir)                                                      // v1
    ManifestLake.setProperties(dir,
      Map("enableChangeDataFeed" -> "true"))                         // v2
    ManifestLake.dropColumn(dir, "n_chars")                          // v3 (metadata)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    // COW UPDATE: 5 matched rows (1,41,81,121,161), files of 32 rows —
    // every rewritten file carries ~27 unchanged rows that must cancel
    spark.sql(s"UPDATE graft.`$dir` SET source = concat(source, 'u') " +
      "WHERE doc_id % 40 = 1")                                       // v4 (COW)
    val upd = ManifestLake.readChangeFeed(spark, dir, 3L, 4L)
    assert(!upd.columns.contains("n_chars"),
      "the dropped column must not surface in the feed")
    val byType = upd.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 5L, "update_postimage" -> 5L),
      s"carried rows leaked into the diff: $byType")
    assert(upd.filter($"_change_type" === "update_postimage")
      .select($"source").distinct().collect().map(_.getString(0)).toSet
      == Set("s1u"))
    // RESTORE across the post-drop rewrite: same hazard, same law —
    // the snapshot diff is exactly the 5 updated rows flipping back
    ManifestLake.restore(spark, dir, 3L)                             // v5
    val res = ManifestLake.readChangeFeed(spark, dir, 4L, 5L)
    val resByType = res.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resByType == Map("delete" -> 5L, "insert" -> 5L),
      s"carried rows leaked into the restore diff: $resByType")
    assert(res.filter($"_change_type" === "insert")
      .select($"source").distinct().collect().map(_.getString(0)).toSet
      == Set("s1"))
    // the reconstruction law still holds over the whole history
    assert(ManifestLake.read(spark, dir).count() == 200L)
  }

  test("CDF sidecars: invisible to plain reads/time travel, vacuumed with their manifest") {
    val dir = tmp("cdf_vac")
    mkLake(dir)
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true"))
    val before = ManifestLake.read(spark, dir).count()
    ManifestLake.deleteWhere(spark, dir, $"doc_id" < 10)             // v3: sidecar
    assert(ManifestLake.read(spark, dir).count() == before - 10,
      "sidecar rows must not leak into the plain read")
    val sidecars = ManifestLake.latestSnapshot(dir).get.cdfFiles
    assert(sidecars.nonEmpty)
    def onDisk(f: String): Boolean =
      Files.exists(java.nio.file.Paths.get(dir).resolve(f))
    assert(sidecars.forall(onDisk))
    // while v3 is protected the sidecars stay (grace 0 = age no bar)
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(sidecars.forall(onDisk), "protected version keeps its change record")
    // push v3 out of retention: its sidecars are reclaimed garbage
    ManifestLake.append(spark, dir, spark.range(5000, 5001)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                       // v4
    ManifestLake.append(spark, dir, spark.range(5001, 5002)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                       // v5
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(sidecars.forall(f => !onDisk(f)),
      "retired version's change record is reclaimed")
  }

  test("CDF stream survives a default-mode DELETE FROM when the property is set") {
    val dir = tmp("cdf_cowstream")
    mkLake(dir)
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true"))
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val ckpt = Files.createTempDirectory("cdf_cow_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdf_cow_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // default write.delete.mode IS copy-on-write — exactly the
      // combination that used to kill the stream by construction
      assert(ManifestLake.latestSnapshot(dir).get.declaredDeleteMode ==
        "copy-on-write")
      spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id % 10 = 3")
      q.processAllAvailable()
      val byType = spark.table("cdf_cow_sink")
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("insert" -> 200L, "delete" -> 20L), byType.toString)
    } finally q.stop()
  }

  test("checkpointed CDF stream fails loudly when its next offset was vacuumed; a fresh start resumes") {
    val dir = tmp("cdf_vacstream")
    mkLake(dir)                                                      // v1
    val ckpt = Files.createTempDirectory("cdf_vs_ckpt").toString
    // a FILE sink: the memory sink refuses checkpoint recovery, and the
    // whole point here is the restart path
    val out = Files.createTempDirectory("cdf_vs_out").toString
    def startSink() = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = startSink()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).count() == 200L)
    // advance history PAST a full-manifest checkpoint (every 16th
    // version) with cheap metadata commits, so vacuum can genuinely
    // retire the checkpointed offset's manifest: a protected delta
    // only pins its #base chain down to the nearest checkpoint —
    // versions below v16 then fall out entirely
    (2 to 16).foreach { i =>
      ManifestLake.setProperties(dir, Map("write.delete.mode" ->
        (if (i % 2 == 0) "merge-on-read" else "copy-on-write")))     // v2..v16
    }
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 3)            // v17
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    assert(ManifestLake.snapshotAt(dir, 1L).isEmpty, "v1 must be retired")
    // the restart must FAIL with the named error, never silently skip
    // the vacuumed window
    val q2 = startSink()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(10000)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("retired by vacuum")), e.toString)
    q2.stop()
    // a FRESH start (new checkpoint) inside the retention window resumes
    val ckpt2 = Files.createTempDirectory("cdf_vs_ckpt2").toString
    val latest = ManifestLake.latestSnapshot(dir).get.version
    val q3 = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("streamStartingVersion", latest.toString).load()
      .writeStream.format("memory").queryName("cdf_vs_sink3")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try {
      q3.processAllAvailable()
      val rows = spark.table("cdf_vs_sink3")
      assert(rows.count() == 3L && rows.select($"_change_type").distinct()
        .head().getString(0) == "delete",
        "the fresh start serves the retained window's changes")
    } finally q3.stop()
  }

  test("timestamp-addressed windows: startingTimestamp/endingTimestamp ≡ their version window") {
    val dir = tmp("cdf_tswin")
    mkLake(dir)                                                      // v1
    Thread.sleep(5)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)     // v2
    Thread.sleep(5)
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 4,
      Seq("n_chars" -> lit(-1L)))                                    // v3
    Thread.sleep(5)
    ManifestLake.append(spark, dir, spark.range(900, 910)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                       // v4
    def ts(v: Long): Long = ManifestLake.snapshotAt(dir, v).get.tsMillis.get
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select($"doc_id", $"_change_type", $"_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // start = first commit at-or-after ts(v2) INCLUSIVE; end = last
    // commit at-or-before ts(v3) — exactly the (1, 3] version window
    val byTs = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingTimestamp", ts(2).toString)
      .option("endingTimestamp", ts(3).toString).load()
    val byV = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "3").load()
    assert(rows(byTs) == rows(byV) && rows(byTs).nonEmpty)
    // ISO-8601 form resolves identically
    val iso = java.time.Instant.ofEpochMilli(ts(2)).toString
    val byIso = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingTimestamp", iso)
      .option("endingTimestamp",
        java.time.Instant.ofEpochMilli(ts(3)).toString).load()
    assert(rows(byIso) == rows(byV))
    // the plain CDC read takes the same options: (ts(v4), ts(v4)] = v4's adds
    val cdc = spark.read.format("graft").option("path", dir)
      .option("startingTimestamp", ts(4).toString)
      .option("endingTimestamp", ts(4).toString).load()
    assert(cdc.count() == 10L)
    // mixing forms on ONE endpoint refuses; an out-of-range start refuses
    intercept[Exception] {
      spark.read.format("graft").option("path", dir)
        .option("startingVersion", "1")
        .option("startingTimestamp", ts(2).toString)
        .option("endingVersion", "3").load()
    }
    intercept[Exception] {
      spark.read.format("graft").option("path", dir)
        .option("startingTimestamp", (ts(4) + 60000L).toString)
        .option("endingTimestamp", (ts(4) + 120000L).toString).load().count()
    }
  }

  test("reconstruction law: folding the feed from v0 rebuilds the table's exact multiset") {
    // THE invariant a change feed exists to provide: a downstream
    // materialized view maintained purely from the feed (insert → add,
    // delete/update_preimage → remove, update_postimage → add) must
    // equal the table itself — across a mixed history of every
    // mutation mechanic the lake has (MoR and COW, Scala and SQL,
    // merge, compaction interleaved and invisible).
    val dir = tmp("cdf_law")
    mkLake(dir)                                                      // v1 insert
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true")) // v2
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 7 === 1)      // v3 MoR delete
    ManifestLake.deleteWhere(spark, dir, $"doc_id" % 11 === 2)       // v4 COW delete
    spark.sql(s"UPDATE graft.`$dir` SET n_chars = n_chars + 7 " +
      "WHERE doc_id % 5 = 3")                                        // v5 COW SQL update
    ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 1024L * 1024)                           // v6 invisible
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" % 13 === 4,
      Seq("n_chars" -> ($"n_chars" - 3L)))                           // v7 MoR update
    val upserts = spark.range(0, 8).select(
      (when($"id" < 4, $"id" * 9 + 9).otherwise($"id" + 7000)).as("doc_id"),
      lit("s1").as("source"), lit(-7L).as("n_chars"))
    ManifestLake.merge(spark, dir, upserts, Seq("doc_id"))           // v8 merge
    spark.sql(s"DELETE FROM graft.`$dir` WHERE doc_id % 17 = 6")     // v9 COW SQL delete
    ManifestLake.appendBatch(spark, dir, spark.range(8000, 8020)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 2).as("n_chars")), "source", appId = "law", batchId = 0L) // v10
    ManifestLake.restore(spark, dir, 5L)                             // v11 restore
    ManifestLake.appendBatch(spark, dir, spark.range(9000, 9010)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 3).as("n_chars")), "source", appId = "law", batchId = 1L) // v12
    assertFeedRebuildsTable(dir)
  }

  test("restore on a CDF-enabled lake records the snapshot diff; feeds and streams ride through") {
    val dir = tmp("cdf_restore")
    mkLake(dir)                                                    // v1
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true")) // v2
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)   // v3: -20 rows
    spark.sql(s"UPDATE graft.`$dir` SET n_chars = n_chars + 100000 " +
      "WHERE doc_id % 50 = 7")                                     // v4: 4 rows
    // the METADATA-ONLY restore refuses while content differs — it
    // cannot record the change a CDF consumer depends on
    val e = intercept[IllegalStateException](ManifestLake.restore(dir, 2L))
    assert(e.getMessage.contains("enableChangeDataFeed") &&
      e.getMessage.contains("restore(spark"), e.getMessage)
    // the SparkSession overload records the diff as sidecars
    val snap5 = ManifestLake.restore(spark, dir, 2L)               // v5
    assert(snap5.op == "restore" && snap5.cdfFiles.nonEmpty &&
      snap5.cdfFiles.forall(_.startsWith("_cdf/")))
    // content restored exactly
    val now = ManifestLake.read(spark, dir).select($"doc_id", $"n_chars")
    val then2 = ManifestLake.read(spark, dir,
      ManifestLake.snapshotAt(dir, 2L)).select($"doc_id", $"n_chars")
    assert(now.exceptAll(then2).isEmpty && then2.exceptAll(now).isEmpty)
    // the restore window's legs are the exact logical diff: the 4
    // updated images leave (`delete`), the 20 deleted rows and the 4
    // original images come back (`insert`)
    val legs = ManifestLake.readChangeFeed(spark, dir, 4L, 5L)
      .select($"doc_id", $"n_chars", $"_change_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(legs.count(_._3 == "delete") == 4 &&
      legs.filter(_._3 == "delete").forall(_._2 >= 100000),
      legs.filter(_._3 == "delete").mkString(", "))
    val ins = legs.filter(_._3 == "insert")
    assert(ins.length == 24, s"${ins.length}: ${ins.take(6).mkString(", ")}")
    assert(ins.count(_._1 % 10 == 3) == 20 &&
      ins.count(t => t._1 % 50 == 7 && t._2 < 100000) == 4)
    // a CDF stream drains THROUGH the restore instead of dying
    val ckpt = Files.createTempDirectory("cdf_restore_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdf_restore_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cdf_restore_sink")
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = ManifestLake.readChangeFeed(spark, dir, 0L, 5L)
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"stream=$streamed batch=$batch")
    } finally { q.stop(); spark.catalog.dropTempView("cdf_restore_sink") }
    // a content-identical restore through the overload is a no-op
    // commit path (already-there rule), not an empty sidecar commit
    assert(ManifestLake.restore(spark, dir, 5L).version == 5L)
    // ...and on a lake WITHOUT the property, the overload is exactly
    // the metadata-only restore: no sidecars, the feed still refuses
    val plain = tmp("cdf_restore_plain")
    mkLake(plain)                                                  // v1
    ManifestLake.deleteWhere(spark, plain, $"doc_id" % 10 === 3)   // v2 COW
    val r = ManifestLake.restore(spark, plain, 1L)                 // v3
    assert(r.op == "restore" && r.cdfFiles.isEmpty)
    val e2 = intercept[IllegalStateException](
      ManifestLake.readChangeFeed(spark, plain, 2L, 3L).collect())
    assert(e2.getMessage.contains("restore") ||
      e2.getMessage.contains("copy-on-write"), e2.getMessage)
  }

  test("CDF stream with streamStartingVersion=latest tails only new changes") {
    val dir = tmp("cdf_tail")
    mkLake(dir)                                                    // v1: skipped
    val ckpt = Files.createTempDirectory("cdf_tail_ckpt").toString
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("streamStartingVersion", "latest").load()
      .writeStream.format("memory").queryName("cdf_tail_sink")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_tail_sink").count() == 0L,
        "latest = no backfill of the pre-start history")
      ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 5)
      q.processAllAvailable()
      val rows = spark.table("cdf_tail_sink")
        .select($"_change_type").distinct().collect().map(_.getString(0)).toSeq
      assert(spark.table("cdf_tail_sink").count() == 5L && rows == Seq("delete"))
    } finally q.stop()
  }

  test("scd2: update chains, delete, and delete-then-reinsert pair intervals exactly") {
    val dir = tmp("cdf_scd2")
    def row(id: Long, chars: Long) = spark.range(id, id + 1)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        lit(chars).as("n_chars"))
    // v1: three keys
    ManifestLake.append(spark, dir,
      row(1, 10).union(row(2, 20)).union(row(3, 30)), "source",
      statsCols = Seq("doc_id"))
    // v2: update key 1 (close [1,2), open [2,...))
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 1,
      Seq("n_chars" -> lit(11L)))
    // v3: delete key 2 (close [1,3))
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 2)
    // v4: REINSERT key 2 (a second, disjoint interval for one key)
    ManifestLake.append(spark, dir, row(2, 22), "source")
    // v5: update key 1 AGAIN (three-interval chain)
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 1,
      Seq("n_chars" -> lit(12L)))
    val v = ManifestLake.latestSnapshot(dir).get.version
    val got = ManifestLake.scd2(spark, dir, 0L, v, Seq("doc_id"))
      .select($"doc_id", $"n_chars", $"valid_from", $"valid_to", $"is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == Set(
      (1L, 10L, 1L, 2L, false),   // key 1: v1 image, replaced at v2
      (1L, 11L, 2L, 5L, false),   //        v2 image, replaced at v5
      (1L, 12L, 5L, -1L, true),   //        v5 image, live
      (2L, 20L, 1L, 3L, false),   // key 2: deleted at v3
      (2L, 22L, 4L, -1L, true),   //        reinserted at v4, live
      (3L, 30L, 1L, -1L, true)),  // key 3: untouched
      got.toString)
    // the current slice of the history table == the lake itself
    val current = ManifestLake.scd2(spark, dir, 0L, v, Seq("doc_id"))
      .filter($"is_current").select($"doc_id", $"n_chars")
    val live = ManifestLake.read(spark, dir).select($"doc_id", $"n_chars")
    assert(current.exceptAll(live).isEmpty && live.exceptAll(current).isEmpty)

    // incremental maintenance ≡ the full rebuild at EVERY split point
    // of the same 5-version history (update chains, delete, reinsert)
    val full = ManifestLake.scd2(spark, dir, 0L, v, Seq("doc_id"))
    (1L until v).foreach { mid =>
      val hist = ManifestLake.scd2(spark, dir, 0L, mid, Seq("doc_id"))
      val inc = ManifestLake.scd2Increment(spark, dir, hist, mid, v,
        Seq("doc_id"))
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"split at v$mid must reproduce the full history")
    }
  }

  /** The streaming materialized view ([[ManifestLake.maintainView]]):
    * a CDF stream drives exactly-once maintenance steps into a view
    * lake. Pinned: backfill convergence from an EMPTY view (the
    * multi-commit window fold — insert-then-delete of one key inside
    * one window must not resurrect), maintenance through MoR + COW
    * mutations AND a restore, redelivery idempotence (the same
    * batch id applied twice is a no-op), and the fresh-checkpoint/
    * same-appId contract (gated out — stale replay can never corrupt
    * the view). */
  test("streaming materialized view: exactly-once maintenance converges through mutations and restore") {
    val src = tmp("mv_src"); val view = tmp("mv_view")
    mkLake(src)                                                    // v1
    ManifestLake.setProperties(src, Map("enableChangeDataFeed" -> "true")) // v2
    spark.conf.set("spark.sql.catalog.graft_mv", classOf[GraftCatalog].getName)
    // mutate BEFORE the view exists: the backfill window spans
    // insert→delete/update chains, the fold edge the naive maintainer
    // resurrects rows on
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 10 === 3)   // v3
    spark.sql(s"UPDATE graft_mv.`$src` SET n_chars = n_chars + 5 " +
      "WHERE doc_id % 20 = 6")                                     // v4 (COW, parity flip)
    def transform(rows: org.apache.spark.sql.DataFrame) = rows
      .filter($"n_chars" % 2 === 0)
      .select($"doc_id", $"source", ($"n_chars" * 2).as("n2"))
    // empty view lake with the transform's schema
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n2",
        org.apache.spark.sql.types.LongType))), "source",
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val ckpt = Files.createTempDirectory("mv_ckpt").toString
    def drain(): Unit = {
      val q = ManifestLake.maintainView(spark, src, view, Seq("doc_id"),
        transform, "mv", ckpt, "source", statsCols = Seq("doc_id"),
        bloomCols = Seq("doc_id"))
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    }
    def assertConverged(tag: String): Unit = {
      val got = ManifestLake.read(spark, view).select($"doc_id", $"source", $"n2")
      val want = transform(ManifestLake.read(spark, src))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$tag: view must equal transform(src), row for row")
    }
    drain()
    assertConverged("backfill from empty")
    // live mutations + a RESTORE, then another drain
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 7 === 2)    // v5
    ManifestLake.restore(spark, src, 4L)                           // v6 (reverts v5)
    spark.sql(s"UPDATE graft_mv.`$src` SET n_chars = n_chars + 1 " +
      "WHERE doc_id % 13 = 1")                                     // v7
    drain()
    assertConverged("through MoR + restore + COW")
    // redelivery idempotence: re-apply the LAST batch id with a
    // representative window — the high-water gate must no-op
    val hw = ManifestLake.latestSnapshot(view).get.txns("mv")
    val before = ManifestLake.read(spark, view).count()
    val vNow = ManifestLake.latestSnapshot(src).get.version
    val window = ManifestLake.readChangeFeed(spark, src, 4L, vNow)
    assert(!ManifestLake.maintainViewBatch(spark, view, Seq("doc_id"),
      transform, "mv", hw, window, "source"),
      "a redelivered batch id must be gated out")
    assert(ManifestLake.read(spark, view).count() == before,
      "the gated redelivery must not touch the view")
    assertConverged("after gated redelivery")
    // fresh checkpoint + SAME appId: every replayed batch id is under
    // the high-water — gated out, the view cannot be corrupted
    val ckpt2 = Files.createTempDirectory("mv_ckpt2").toString
    val q2 = ManifestLake.maintainView(spark, src, view, Seq("doc_id"),
      transform, "mv", ckpt2, "source")
    assert(q2.awaitTermination(120000))
    assertConverged("stale replay gated by the high-water")
  }

  /** The vacuum/maintenance coupling (r16): a registered maintainer's
    * high-water pins every LATER source version — manifests, data
    * files, DVs and change sidecars — so aggressive retention can
    * never strand a lagging view's next feed window or its min/max
    * rescan; once the view drains, the pin advances and retention
    * proceeds. The SQL face surfaces who pinned what. */
  test("maintainer registry: vacuum keeps a lagging view's window; retire proceeds after the drain") {
    val src = tmp("maint_src"); val view = tmp("maint_view")
    mkLake(src)                                                    // v1
    ManifestLake.setProperties(src, Map("enableChangeDataFeed" -> "true")) // v2
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType))), "source")
    val ckpt = Files.createTempDirectory("maint_ckpt").toString
    def transform(rows: org.apache.spark.sql.DataFrame) =
      rows.select($"doc_id", $"source", $"n_chars")
    def drain(): Unit = {
      val q = ManifestLake.maintainView(spark, src, view, Seq("doc_id"),
        transform, "maint-app", ckpt, "source")
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    }
    drain() // backfill: registry lands with the window's max version
    val reg0 = ManifestLake.maintainers(src)
    assert(reg0.map(m => (m.appId, m.viewDir)) ==
      Vector(("maint-app", view)), s"got $reg0")
    val hw0 = reg0.head.highWater
    assert(hw0 >= 1L, "backfill must record the drained window's end")
    // source moves on while the view LAGS: MoR delete + COW update
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 10 === 3)   // v3
    spark.conf.set("spark.sql.catalog.graft_maint",
      classOf[GraftCatalog].getName)
    spark.sql(s"UPDATE graft_maint.`$src` SET n_chars = n_chars + 5 " +
      "WHERE doc_id % 20 = 6")                                     // v4 (COW)
    val vNow = ManifestLake.latestSnapshot(src).get.version
    // aggressive retention against the lagging view: every version
    // above hw0 is pinned — nothing the lagging window needs goes
    val reclaimedLagging = ManifestLake.vacuum(src, keepVersions = 1,
      graceMillis = 0L)
    assert(reclaimedLagging == 0L,
      s"a lagging maintainer must pin the whole window (reclaimed " +
        s"$reclaimedLagging)")
    // the lagging window is still fully consumable (sidecars + DV
    // diffs + the COW originals all survived the sweep)
    val lagWindow = ManifestLake.readChangeFeed(spark, src, hw0, vNow)
    assert(lagWindow.count() > 0, "the lagging feed window must read")
    // the SQL face names the pin: floor + who holds it
    val row = spark.sql(s"CALL graft_maint.vacuum(path => '$src', " +
      "keep_versions => 1, grace_millis => 0)").collect().head
    assert(row.getLong(row.fieldIndex("maintainer_pin_floor")) == hw0)
    assert(row.getString(row.fieldIndex("maintainers"))
      .contains("maint-app"), s"got $row")
    // the view drains: the pin advances to the new high-water
    drain()
    assert(ManifestLake.maintainers(src).head.highWater == vNow)
    // exceptAll is POSITIONAL — read the view under the transform's
    // column order (the lake commits its partition column last)
    assert(transform(ManifestLake.read(spark, view)).exceptAll(
      transform(ManifestLake.read(spark, src))).isEmpty, "view converged")
    // retire now proceeds: the COW-superseded originals fall out
    val reclaimedDrained = ManifestLake.vacuum(src, keepVersions = 1,
      graceMillis = 0L)
    assert(reclaimedDrained > 0L,
      "after the drain, retention must actually retire the history")
    // a malformed registry record fails the vacuum LOUDLY — never
    // silently unprotects
    val bad = java.nio.file.Paths.get(src).resolve("_maintainers")
      .resolve("broken")
    Files.write(bad, "not-a-record\n".getBytes)
    val e = intercept[IllegalStateException] {
      ManifestLake.vacuum(src, keepVersions = 1, graceMillis = 0L)
    }
    assert(e.getMessage.contains("malformed maintainer"))
    Files.delete(bad)
    // the staleness escape hatch: an ABANDONED maintainer (old
    // heartbeat) keeps pinning under the protective default, and
    // stops pinning only when the operator names a staleness window.
    // Fresh COW garbage first (superseded originals referenced only
    // by pre-latest versions), then an ancient-heartbeat lagger.
    spark.sql(s"UPDATE graft_maint.`$src` SET n_chars = n_chars + 1 " +
      "WHERE doc_id % 31 = 3")
    ManifestLake.registerMaintainer(src, "maint-app", view, 2L) // re-lag
    val regFile = java.nio.file.Paths.get(src).resolve("_maintainers")
      .resolve("maint-app")
    val aged = Files.readAllLines(regFile).toArray.map(_.toString).map {
      case l if l.startsWith("ts:") => "ts:1000"
      case l => l
    }
    Files.write(regFile, aged.mkString("\n").getBytes)
    assert(ManifestLake.vacuum(src, keepVersions = 1, graceMillis = 0L,
      dryRun = true, maintainerStaleMillis = 0L) == 0L,
      "the protective default honors even an ancient heartbeat")
    assert(ManifestLake.vacuum(src, keepVersions = 1, graceMillis = 0L,
      dryRun = true, maintainerStaleMillis = 60000L) > 0L,
      "an explicit staleness window releases an abandoned maintainer's pin")
    // decommission: deregister releases the pin
    ManifestLake.deregisterMaintainer(src, "maint-app")
    assert(ManifestLake.maintainers(src).isEmpty)
  }

  /** Decimal AVG/SUM state honesty (r16): the fold refuses DECIMAL
    * input columns loudly at construction — its double (avg) /
    * fixed-precision re-add (sum) state would silently diverge from
    * SQL decimal semantics over long histories. */
  test("aggregate view: DECIMAL sum/avg inputs refuse loudly at construction") {
    val src = tmp("dec_src"); val view = tmp("dec_view")
    val df = spark.range(0, 50)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).cast("decimal(20,2)").as("amount"))
    ManifestLake.append(spark, src, df, "source")                  // v1
    ManifestLake.setProperties(src, Map("enableChangeDataFeed" -> "true")) // v2
    val v = ManifestLake.latestSnapshot(src).get.version
    val window = ManifestLake.readChangeFeed(spark, src, 0L, v)
    Seq("sum", "avg").foreach { f =>
      val e = intercept[IllegalArgumentException] {
        ManifestLake.maintainAggViewBatch(spark, view, Seq("source"),
          Seq(ManifestLake.AggSpec("n", "count"),
            ManifestLake.AggSpec("agg_amount", f, "amount")),
          "dec-app", 0L, window, "source")
      }
      assert(e.getMessage.contains("DECIMAL"), s"$f: ${e.getMessage}")
    }
    // the documented escape hatch folds fine: cast to double upstream
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_amount",
        org.apache.spark.sql.types.DoubleType))), "source")
    assert(ManifestLake.maintainAggViewBatch(spark, view, Seq("source"),
      Seq(ManifestLake.AggSpec("n", "count"),
        ManifestLake.AggSpec("sum_amount", "sum", "amount_d")),
      "dec-app", 0L,
      window.withColumn("amount_d", $"amount".cast("double")), "source"))
    val got = ManifestLake.readAggView(spark, view)
      .orderBy($"source").collect()
    assert(got.map(_.getLong(got.head.fieldIndex("n"))).sum == 50L)
  }

  /** Carries q174's law outside its benched path: a keyed σπ view
    * maintained from ONE feed window (deleteKeysDv affected keys, then
    * append the passing postimages/inserts) must equal the transform
    * recomputed from the final source, row for row — through BOTH
    * mutation mechanics, including postimages that parity-flip INTO
    * and OUT OF the view filter (the edge a naive upsert-only
    * maintainer gets wrong). */
  test("incremental view maintenance from the feed ≡ full recompute") {
    val src = tmp("cdf_ivm_src"); val view = tmp("cdf_ivm_view")
    mkLake(src)                                                    // v1
    ManifestLake.setProperties(src, Map("enableChangeDataFeed" -> "true")) // v2
    // view: rows whose n_chars lands in even 20-buckets, projected
    def transform(rows: org.apache.spark.sql.DataFrame) = rows
      .filter(($"n_chars" / 10) % 2 === 0)
      .select($"doc_id", $"source", ($"n_chars" * 2).as("n2"))
    ManifestLake.append(spark, view, transform(ManifestLake.read(spark, src)),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val builtAt = ManifestLake.latestSnapshot(src).get.version
    // both mechanics; the update's +10 flips (n_chars/10) parity, so
    // postimages ENTER and LEAVE the view
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 19 === 0)   // v3
    spark.conf.set("spark.sql.catalog.graft_ivmspec",
      classOf[GraftCatalog].getName)
    spark.sql(s"UPDATE graft_ivmspec.`$src` SET n_chars = n_chars + 10 " +
      "WHERE doc_id % 7 = 3")                                      // v4 (COW)
    val nowAt = ManifestLake.latestSnapshot(src).get.version
    val feed = ManifestLake.readChangeFeed(spark, src, builtAt, nowAt)
    ManifestLake.deleteKeysDv(spark, view, feed.select($"doc_id"),
      Seq("doc_id"))
    val adds = transform(feed.filter($"_change_type" === "insert" ||
        $"_change_type" === "update_postimage")
      .select($"doc_id", $"source", $"n_chars"))
    if (!adds.isEmpty)
      ManifestLake.append(spark, view, adds, "source",
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val maintained = ManifestLake.read(spark, view)
      .select($"doc_id", $"source", $"n2")
    val recomputed = transform(ManifestLake.read(spark, src))
    assert(maintained.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(maintained).isEmpty,
      "incremental maintenance must equal the full recompute, row for row")
    // ...and the discipline survives a RESTORE of the source (q180's
    // whole purpose): the restore commit's sidecar diff feeds the SAME
    // maintenance loop — no reset to a full recompute
    ManifestLake.restore(spark, src, 2L)
    val v2end = ManifestLake.latestSnapshot(src).get.version
    val feed2 = ManifestLake.readChangeFeed(spark, src, nowAt, v2end)
    ManifestLake.deleteKeysDv(spark, view, feed2.select($"doc_id"),
      Seq("doc_id"))
    val adds2 = transform(feed2.filter($"_change_type" === "insert" ||
        $"_change_type" === "update_postimage")
      .select($"doc_id", $"source", $"n_chars"))
    if (!adds2.isEmpty)
      ManifestLake.append(spark, view, adds2, "source",
        statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val maintained2 = ManifestLake.read(spark, view)
      .select($"doc_id", $"source", $"n2")
    val recomputed2 = transform(ManifestLake.read(spark, src))
    assert(maintained2.exceptAll(recomputed2).isEmpty &&
      recomputed2.exceptAll(maintained2).isEmpty,
      "maintenance through a RESTORE must equal the full recompute")
    assert(recomputed2.count() == transform(ManifestLake.read(spark, src,
      ManifestLake.snapshotAt(src, 2L))).count(),
      "the restore actually reverted the source (the leg is not vacuous)")
    // the flip edge actually fired both ways in this history
    val updatedKeys = feed.filter($"_change_type" === "update_postimage")
      .select($"doc_id")
    val entered = transform(ManifestLake.read(spark, src)
      .join(updatedKeys, Seq("doc_id"), "left_semi")).count()
    val updated = updatedKeys.count()
    assert(updated > 0 && entered > 0 && entered < updated,
      s"want postimages both inside and outside the view: $entered/$updated")
  }

  /** The aggregate materialized view ([[ManifestLake.maintainAggView]]):
    * a GROUP-BY view maintained by folding feed deltas (insert/
    * postimage adds, delete/preimage subtracts) through the
    * single-commit [[ManifestLake.replaceKeysBatch]]. Pinned: the
    * maintained view ≡ the GROUP BY recomputed from the source at
    * EVERY drain point — through MoR delete, COW update (a pre/post
    * pair whose count delta is zero but sum delta isn't), a restore,
    * and a group deleted to extinction (its row must LEAVE the view);
    * redelivery idempotence; stale-replay gating under a fresh
    * checkpoint; and the negative-count refusal for a feed window not
    * anchored at the view's high-water. */
  test("aggregate view: delta-fold maintenance ≡ GROUP BY recompute through mutations, restore, group exit") {
    val src = tmp("amv_src"); val view = tmp("amv_view")
    mkLake(src)                                                      // v1
    ManifestLake.setProperties(src,
      Map("enableChangeDataFeed" -> "true"))                         // v2
    spark.conf.set("spark.sql.catalog.graft_amv",
      classOf[GraftCatalog].getName)
    // mutate BEFORE the view exists — the backfill spans chains
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 10 === 3)     // v3
    spark.sql(s"UPDATE graft_amv.`$src` SET n_chars = n_chars + 5 " +
      "WHERE doc_id % 20 = 6")                                       // v4 (COW; count Δ=0, sum Δ≠0)
    val aggs = Seq(ManifestLake.AggSpec("n_docs", "count"),
      ManifestLake.AggSpec("sum_chars", "sum", "n_chars"))
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_docs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sum_chars",
        org.apache.spark.sql.types.LongType))), "source",
      statsCols = Seq("source"))
    val ckpt = Files.createTempDirectory("amv_ckpt").toString
    def drain(): Unit = {
      val q = ManifestLake.maintainAggView(spark, src, view, Seq("source"),
        aggs, "amv", ckpt, "source", statsCols = Seq("source"))
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    }
    def assertConverged(tag: String): Unit = {
      val got = ManifestLake.read(spark, view)
        .select($"source", $"n_docs", $"sum_chars")
      // SQL-NULL contract: an all-NULL group's SUM renders NULL, so
      // the recompute needs no COALESCE shim anymore
      val want = ManifestLake.read(spark, src).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$tag: view must equal the GROUP BY recompute, row for row")
    }
    drain()
    assertConverged("backfill from empty")
    // live mutations, a restore, and a group driven to extinction
    ManifestLake.append(spark, src, spark.range(9000, 9005)
      .select($"id".as("doc_id"), lit("s2").as("source"),
        ($"id" * 10).as("n_chars")), "source")                       // v5: new group s2
    ManifestLake.deleteWhereDv(spark, src, $"doc_id" % 7 === 2)      // v6
    ManifestLake.restore(spark, src, 5L)                             // v7 (reverts v6)
    spark.sql(s"UPDATE graft_amv.`$src` SET n_chars = n_chars + 1 " +
      "WHERE doc_id % 13 = 1")                                       // v8 (COW)
    ManifestLake.deleteWhereDv(spark, src, $"source" === "s2")       // v9: s2 → extinct
    drain()
    assertConverged("through append + MoR + restore + COW + group exit")
    assert(ManifestLake.read(spark, view)
      .filter($"source" === "s2").count() == 0,
      "a group deleted to extinction must leave the view")
    // redelivery idempotence: the high-water gate must no-op
    val hw = ManifestLake.latestSnapshot(view).get.txns("amv")
    val before = ManifestLake.read(spark, view).collect().toSet
    val vNow = ManifestLake.latestSnapshot(src).get.version
    val window = ManifestLake.readChangeFeed(spark, src, 4L, vNow)
    assert(!ManifestLake.maintainAggViewBatch(spark, view, Seq("source"),
      aggs, "amv", hw, window, "source"),
      "a redelivered batch id must be gated out")
    assert(ManifestLake.read(spark, view).collect().toSet == before,
      "the gated redelivery must not touch the view")
    // fresh checkpoint + SAME appId: stale replay gated out
    val ckpt2 = Files.createTempDirectory("amv_ckpt2").toString
    val q2 = ManifestLake.maintainAggView(spark, src, view, Seq("source"),
      aggs, "amv", ckpt2, "source")
    assert(q2.awaitTermination(120000))
    assertConverged("stale replay gated by the high-water")
    // a window NOT anchored at the view's high-water fails loudly:
    // three stacked deletes of every s0 row drive the count negative
    val bogus1 = ManifestLake.read(spark, src).filter($"source" === "s0")
      .withColumn("_change_type", lit("delete"))
    val bogus = bogus1.union(bogus1).union(bogus1)
    val ex = intercept[Throwable] {
      ManifestLake.maintainAggViewBatch(spark, view, Seq("source"), aggs,
        "amv-unanchored", 0L, bogus, "source")
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(ex).contains("negative group count"), messages(ex))
    assertConverged("refused fold must not touch the view")
  }

  /** A `replace-keys` commit ([[ManifestLake.replaceKeysBatch]] — the
    * aggregate-view maintainer's single-CAS delete+append) must emit
    * BOTH halves on the change feed: a `delete` leg for the replaced
    * rows (its DV additions) and an `insert` leg for their successors.
    * Before this pin it fell through the append default, serving the
    * inserts and silently dropping the retractions — a CDF consumer
    * CHAINED on a maintained view (a view over a view) would fold
    * wrong change sets. Pinned on the Scala load and the DSv2 options. */
  test("replace-keys commits emit delete+insert legs — chained CDF consumers fold exactly") {
    val dir = tmp("cdf_rk")
    ManifestLake.append(spark, dir,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"), "k")     // v1
    // replace groups a,b: a gets a successor row, b goes extinct
    val applied = ManifestLake.replaceKeysBatch(spark, dir,
      Seq("a", "b").toDF("k"), Seq(("a", 100L)).toDF("k", "v"),
      Seq("k"), "rk-cdf", 0L, "k")
    assert(applied)                                                  // v2
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = ManifestLake.readChangeFeed(spark, dir, 1L, v)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
      df.select($"k", $"v", $"_change_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows(feed) == Set(("a", 1L, "delete"), ("b", 2L, "delete"),
      ("a", 100L, "insert")),
      s"replace-keys must retract the replaced rows AND insert the new: ${rows(feed)}")
    val dsv2 = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", v.toString)
      .load()
    assert(rows(dsv2) == rows(feed), "DSv2 options must agree with readChangeFeed")
    // the chained-consumer law: folding the full feed from zero
    // reproduces the lake state exactly
    val folded = ManifestLake.readChangeFeed(spark, dir, 0L, v)
      .groupBy($"k").agg(
        sum(when($"_change_type".isin("insert", "update_postimage"), 1L)
          .otherwise(-1L)).as("n"),
        sum(when($"_change_type".isin("insert", "update_postimage"), $"v")
          .otherwise(-$"v")).as("sv"))
      .filter($"n" > 0).select($"k", $"sv".as("v"))
    val state = ManifestLake.read(spark, dir).select($"k", $"v")
    assert(folded.exceptAll(state).isEmpty && state.exceptAll(folded).isEmpty,
      "feed-fold must reproduce the lake state")
  }

  /** MIN/MAX/AVG aggregate views and the SQL-NULL SUM contract
    * ([[ManifestLake.AggSpec]]): inserts fold forward
    * (least/greatest); a retraction that TOUCHES a group's current
    * extreme triggers a rescan of THAT GROUP ONLY against the source
    * at the window end; AVG is hidden-sum/non-null-count sugar; and a
    * group whose live values are ALL NULL renders SQL NULL for
    * sum/avg/min/max (the hidden `__graft_nn_*` state tells "no
    * non-null value" apart from "sum is zero"). Convergence is pinned
    * against the full GROUP BY recompute at every drain — through a
    * delete OF the max row (the rescan leg), a COW update moving a
    * minimum (pre-image retraction ties the extreme), an all-NULL
    * group's birth, partial death and extinction, and a restore. */
  test("min/max/avg aggregate view: group-scoped rescan on extreme retraction + SQL-NULL rendering") {
    val src = tmp("amv2_src"); val view = tmp("amv2_view")
    mkLake(src)                                                      // v1
    ManifestLake.setProperties(src,
      Map("enableChangeDataFeed" -> "true"))                         // v2
    spark.conf.set("spark.sql.catalog.graft_amv2",
      classOf[GraftCatalog].getName)
    val aggs = Seq(ManifestLake.AggSpec("n_docs", "count"),
      ManifestLake.AggSpec("sum_chars", "sum", "n_chars"),
      ManifestLake.AggSpec("avg_chars", "avg", "n_chars"),
      ManifestLake.AggSpec("min_chars", "min", "n_chars"),
      ManifestLake.AggSpec("max_id", "max", "doc_id"))
    // the view is created with the VISIBLE schema only — the first
    // drain must evolve the hidden state columns in
    import org.apache.spark.sql.types._
    ManifestLake.create(view, StructType(Seq(
      StructField("source", StringType), StructField("n_docs", LongType),
      StructField("sum_chars", LongType), StructField("avg_chars", DoubleType),
      StructField("min_chars", LongType), StructField("max_id", LongType))),
      "source", statsCols = Seq("source"))
    val ckpt = Files.createTempDirectory("amv2_ckpt").toString
    def drain(): Unit = {
      val q = ManifestLake.maintainAggView(spark, src, view, Seq("source"),
        aggs, "amv2", ckpt, "source", statsCols = Seq("source"))
      assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    }
    def assertConverged(tag: String): Unit = {
      val face = ManifestLake.readAggView(spark, view)
      assert(!face.columns.exists(_.startsWith("__graft_")),
        "readAggView must hide the fold state")
      val got = face.select($"source", $"n_docs", $"sum_chars",
        $"avg_chars", $"min_chars", $"max_id")
      val want = ManifestLake.read(spark, src).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          avg($"n_chars".cast("double")).as("avg_chars"),
          min($"n_chars").as("min_chars"), max($"doc_id").as("max_id"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$tag: view must equal the GROUP BY recompute, row for row — " +
          s"got=${got.orderBy($"source").collect().take(4).toSeq} " +
          s"want=${want.orderBy($"source").collect().take(4).toSeq}")
    }
    drain(); assertConverged("backfill from empty")
    // RESCAN leg: delete exactly the row holding each group's current
    // max_id — a pure fold would keep the dead extreme forever
    val maxIds = ManifestLake.read(spark, src).groupBy($"source")
      .agg(max($"doc_id").as("m")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    ManifestLake.deleteWhereDv(spark, src,
      maxIds.map { case (s0, m) => $"source" === s0 && $"doc_id" === m }
        .reduce(_ || _))                                             // v3
    drain(); assertConverged("delete of the max row → group rescan")
    // a COW update that moves each group's MINIMUM up: the pre-image
    // retraction ties min_chars, rescan again (and sum/avg refold)
    val minChars = ManifestLake.read(spark, src).groupBy($"source")
      .agg(min($"n_chars").as("m")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    spark.sql(s"UPDATE graft_amv2.`$src` SET n_chars = n_chars + 100000 " +
      s"WHERE ${minChars.map { case (s0, m) =>
        s"(source = '$s0' AND n_chars = $m)" }.mkString(" OR ")}")   // v4 (COW)
    drain(); assertConverged("COW update moving the minimum")
    // SQL-NULL: a new group whose n_chars are ALL NULL — count is
    // live, sum/avg/min render NULL; then partial death (no rescan:
    // null retractions never touch an extreme) and full extinction
    ManifestLake.append(spark, src, spark.range(9000, 9006)
      .select($"id".as("doc_id"), lit("sN").as("source"),
        lit(null).cast("long").as("n_chars")), "source")             // v5
    drain()
    assertConverged("all-NULL group birth")
    val sn = ManifestLake.readAggView(spark, view).filter($"source" === "sN")
      .select($"n_docs", $"sum_chars", $"avg_chars", $"min_chars", $"max_id")
      .head()
    assert(sn.getLong(0) == 6L && sn.isNullAt(1) && sn.isNullAt(2) &&
      sn.isNullAt(3) && sn.getLong(4) == 9005L,
      s"all-NULL group must render SQL NULL for sum/avg/min: $sn")
    ManifestLake.deleteWhereDv(spark, src,
      $"source" === "sN" && $"doc_id" < 9003)                        // v6
    drain(); assertConverged("all-NULL group partial death")
    ManifestLake.deleteWhereDv(spark, src, $"source" === "sN")       // v7
    drain(); assertConverged("extinction")
    assert(ManifestLake.readAggView(spark, view)
      .filter($"source" === "sN").count() == 0,
      "a group deleted to extinction must leave the view")
    // ride a restore: revert the extinction, the feed's restore
    // sidecars re-insert the NULL rows and the fold re-births the group
    ManifestLake.restore(spark, src, 6L)                             // v8
    drain(); assertConverged("restore re-birth")
    // min/max WITHOUT srcDir refuses at the batch face
    val e = intercept[IllegalArgumentException] {
      ManifestLake.maintainAggViewBatch(spark, view, Seq("source"), aggs,
        "amv2-nosrc", 999L, ManifestLake.read(spark, src).limit(0)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(99L)), "source")
    }
    assert(e.getMessage.contains("srcDir"), e.getMessage)
  }

  /** STRING min/max: the fold (least/greatest — UTF8 order) and the
    * rescan (min/max aggregates) agree with the recompute on a string
    * value column, through a delete OF the current extremes. */
  test("min/max aggregate view over a STRING column: fold and rescan agree with the recompute") {
    val src = tmp("amv_str_src"); val view = tmp("amv_str_view")
    ManifestLake.append(spark, src, spark.range(0, 60).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
      concat(lit("w"), lpad(($"id" * 37 % 100).cast("string"), 2, "0"))
        .as("word")), "source", statsCols = Seq("doc_id"))          // v1
    ManifestLake.setProperties(src, Map("enableChangeDataFeed" -> "true"))
    import org.apache.spark.sql.types._
    ManifestLake.create(view, StructType(Seq(
      StructField("source", StringType), StructField("n", LongType),
      StructField("wmin", StringType), StructField("wmax", StringType))),
      "source", statsCols = Seq("source"))
    val aggs = Seq(ManifestLake.AggSpec("n", "count"),
      ManifestLake.AggSpec("wmin", "min", "word"),
      ManifestLake.AggSpec("wmax", "max", "word"))
    val ckpt = Files.createTempDirectory("amv_str_ckpt").toString
    def drain(): Unit = {
      val q = ManifestLake.maintainAggView(spark, src, view, Seq("source"),
        aggs, "amv-str", ckpt, "source", statsCols = Seq("source"))
      assert(q.awaitTermination(120000))
    }
    def converged(tag: String): Unit = {
      val got = ManifestLake.readAggView(spark, view)
        .select($"source", $"n", $"wmin", $"wmax")
      val want = ManifestLake.read(spark, src).groupBy($"source")
        .agg(count(lit(1)).as("n"), min($"word").as("wmin"),
          max($"word").as("wmax"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, tag)
    }
    drain(); converged("string backfill")
    // delete every row holding a group's current min OR max word —
    // both extremes retract, the rescan finds the next ones
    val ext = ManifestLake.read(spark, src).groupBy($"source")
      .agg(min($"word").as("lo"), max($"word").as("hi")).collect()
      .flatMap(r => Seq((r.getString(0), r.getString(1)),
        (r.getString(0), r.getString(2))))
    ManifestLake.deleteWhereDv(spark, src,
      ext.map { case (s0, w) => $"source" === s0 && $"word" === w }
        .reduce(_ || _))                                             // v3
    drain(); converged("string extreme retraction → rescan")
  }

  /** The nullability-understatement corruption, pinned end-to-end: a
    * lake whose first append carried a NON-NULLABLE column must serve
    * later NULL values of that column AS NULLS on every face. Before
    * the evolveSchema relaxation fix, the manifest kept
    * `nullable=false` forever and the DSv2 readers (plain scan and
    * change feed alike) bound that flag into codegen — NULL slots came
    * back as garbage zeros with no error anywhere. */
  test("a null append RELAXES committed nullability — DSv2 faces serve NULL, never garbage zero") {
    val dir = tmp("cdf_nullable")
    // spark.range arithmetic is non-nullable → committed nullable=false
    ManifestLake.append(spark, dir, spark.range(0, 5)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                       // v1
    assert(!ManifestLake.latestSnapshot(dir).get.schema.get("n_chars").nullable)
    ManifestLake.append(spark, dir, spark.range(5, 8)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        lit(null).cast("long").as("n_chars")), "source")             // v2
    assert(ManifestLake.latestSnapshot(dir).get.schema.get("n_chars").nullable,
      "the nullable append must relax the committed flag")
    val v = ManifestLake.latestSnapshot(dir).get.version
    // plain DSv2 scan
    val scan = spark.read.format("graft").option("path", dir).load()
    assert(scan.filter($"n_chars".isNull).count() == 3L,
      "the plain scan must serve the NULLs as NULLs")
    assert(scan.filter($"n_chars" === 0L).count() == 1L,
      "…and exactly doc 0 actually holds zero")
    // DSv2 change feed
    val feed = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", v.toString)
      .load()
    assert(feed.filter($"n_chars".isNull).count() == 3L,
      "the change feed must serve the NULLs as NULLs")
    // the DDL face of the same law: a metadata-only ADD COLUMNS lands
    // NULLABLE even if declared NOT NULL — every pre-add file
    // null-fills the new column, and a committed nullable=false would
    // read those slots as garbage zeros
    ManifestLake.alterSchema(dir, Seq(ManifestLake.AlterAddColumns(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType, nullable = false)))))
    assert(ManifestLake.latestSnapshot(dir).get.schema.get("extra").nullable,
      "ADD COLUMNS must commit nullable (old files null-fill)")
    assert(spark.read.format("graft").option("path", dir).load()
      .filter($"extra".isNull).count() == 8L,
      "every pre-add row must serve NULL for the added column")
  }

  /** JOIN-SHAPED MATERIALIZED VIEW (fact ⋈ dim, r16): the fact side
    * is [[ManifestLake.maintainView]] with the shared
    * [[ManifestLake.joinViewTransform]]; the dim side is
    * [[ManifestLake.maintainJoinViewDim]] re-deriving every fact row
    * whose foreign key the window touched. Laws: convergence to the
    * SQL inner join of the CURRENT lakes through dim
    * insert/update/delete and fact churn (insert appears, update
    * propagates, delete orphans vanish — including facts the fact
    * feed never mentioned); dim-before-fact load order is an empty
    * step, not an error; redelivered batch ids are gated out. */
  test("join view: both maintainers converge to the inner join through dim churn") {
    val fact = tmp("jv_fact"); val dim = tmp("jv_dim")
    val view = tmp("jv_view")
    val fckpt = Files.createTempDirectory("jv_fckpt").toString
    val dckpt = Files.createTempDirectory("jv_dckpt").toString
    // dim FIRST (facts not seeded yet): k0..k2 with a value column
    ManifestLake.append(spark, dim, spark.range(0, 3)
      .select(concat(lit("k"), $"id".cast("string")).as("k"),
        ($"id" * 100).as("v"), lit("p").as("p")), "p")             // dim v1
    ManifestLake.setProperties(dim, Map("enableChangeDataFeed" -> "true"))
    val project: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      j => j.select(col("f.doc_id").as("doc_id"), col("f.k").as("k"),
        col("f.n").as("n"), col("d.v").as("v"))
    val transform = ManifestLake.joinViewTransform(spark, dim, "k", "k", project)
    ManifestLake.create(view, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))), "k",
      statsCols = Seq("doc_id"))
    def drainDim(): Unit = {
      val q = ManifestLake.maintainJoinViewDim(spark, dim, view, fact,
        Seq("doc_id"), "k", "k", transform, "jv-dim", dckpt, "k")
      assert(q.awaitTermination(120000), "dim drain must terminate")
    }
    def drainFact(): Unit = {
      val q = ManifestLake.maintainView(spark, fact, view, Seq("doc_id"),
        transform, "jv-fact", fckpt, "k", statsCols = Seq("doc_id"))
      assert(q.awaitTermination(120000), "fact drain must terminate")
    }
    def assertJoin(tag: String): Unit = {
      val got = ManifestLake.read(spark, view)
        .select($"doc_id", $"k", $"n", $"v")
      val want = project(ManifestLake.read(spark, fact).alias("f")
        .join(ManifestLake.read(spark, dim).alias("d"),
          col("f.k") === col("d.k"), "inner"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$tag: view must equal the inner join, row for row")
    }
    // dim-before-fact: the dim drain on an unseeded fact lake is an
    // EMPTY STEP that still bumps the txn (loading dims first is the
    // normal order, not an error)
    drainDim()
    assert(ManifestLake.latestSnapshot(view).get.txns.contains("jv-dim"),
      "the empty step must still bump the dim maintainer's txn")
    assert(ManifestLake.read(spark, view).isEmpty)
    // facts: doc 0..19 over k0..k3 — k3 rows are ORPHANS (no dim row)
    ManifestLake.append(spark, fact, spark.range(0, 20)
      .select($"id".as("doc_id"),
        concat(lit("k"), ($"id" % 4).cast("string")).as("k"),
        ($"id" * 7).as("n")), "k",
      maxRecordsPerFile = 4L, statsCols = Seq("doc_id"))           // fact v1
    ManifestLake.setProperties(fact, Map("enableChangeDataFeed" -> "true"))
    drainFact()
    assertJoin("fact backfill (orphan k3 rows excluded by the inner join)")
    // dim churn in ONE window: UPDATE k1's value, DELETE k2 (its fact
    // rows must vanish though the fact feed never mentions them),
    // INSERT k3 (the pre-existing orphans must APPEAR)
    ManifestLake.updateWhereDv(spark, dim, col("k") === "k1",
      Seq("v" -> lit(111L)))
    ManifestLake.deleteWhereDv(spark, dim, col("k") === "k2")
    ManifestLake.append(spark, dim, Seq(("k3", 300L, "p"))
      .toDF("k", "v", "p"), "p")
    drainDim()
    assertJoin("dim churn: update propagated, orphans appeared, k2 vanished")
    assert(ManifestLake.read(spark, view).filter($"k" === "k2").isEmpty,
      "k2's view rows must be gone")
    assert(ManifestLake.read(spark, view).filter($"k" === "k3").count() == 5L,
      "k3's orphans must have appeared")
    assert(ManifestLake.read(spark, view).filter($"k" === "k1" && $"v" =!= 111L).isEmpty,
      "k1's new value must have propagated")
    // fact churn drains through the fact side against the churned dim
    ManifestLake.deleteWhereDv(spark, fact, col("doc_id") < 4)
    ManifestLake.append(spark, fact, Seq((100L, "k3", 9L))
      .toDF("doc_id", "k", "n"), "k")
    drainFact()
    assertJoin("fact churn against the churned dim")
    // redelivery: the dim maintainer's high-water gates a replayed id
    val hw = ManifestLake.latestSnapshot(view).get.txns("jv-dim")
    val before = ManifestLake.read(spark, view).count()
    val dv = ManifestLake.latestSnapshot(dim).get.version
    val window = ManifestLake.readChangeFeed(spark, dim, 0L, dv)
    assert(!ManifestLake.maintainJoinViewDimBatch(spark, view, fact,
      Seq("doc_id"), "k", "k", transform, "jv-dim", hw, window, "k",
      dimDir = dim), "a redelivered dim batch id must be gated out")
    assert(ManifestLake.read(spark, view).count() == before,
      "the gated redelivery must not touch the view")
  }
}
