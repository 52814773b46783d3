package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Column mapping ([[ManifestLake.renameColumn]] /
  * [[ManifestLake.dropColumn]]) — Delta's column-mapping name mode:
  * RENAME and DROP are metadata-only property commits; parquet bytes,
  * manifest stats/blooms, partition directories and bucket
  * declarations keep the PHYSICAL name forever, and the logical name
  * exists only at the API boundary. Pinned here: both file
  * generations read under the new name, writes land physical, time
  * travel serves era-correct names, DROP hides without deleting,
  * every DML face translates, and the refusal matrix. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  private def mkLake(dir: String): Unit = {
    val df = spark.range(0, 100)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df, "source",
      maxRecordsPerFile = 32L, statsCols = Seq("doc_id", "n_chars"))
  }

  test("RENAME is metadata-only: both file generations read under the new name; writes land physical") {
    val dir = tmp("cm_rename")
    mkLake(dir)                                                   // v1: gen-1 files
    val filesBefore = ManifestLake.latestSnapshot(dir).get.files.toSet
    ManifestLake.renameColumn(dir, "n_chars", "chars")            // v2: props only
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.files.toSet == filesBefore, "no byte rewritten")
    assert(v2.op == "alter" && v2.renames == Map("n_chars" -> "chars"))
    // gen-2 append UNDER THE NEW NAME
    ManifestLake.append(spark, dir, spark.range(100, 150)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("chars")), "source", maxRecordsPerFile = 32L,
      statsCols = Seq("doc_id", "chars"))                         // v3
    val snap = ManifestLake.latestSnapshot(dir).get
    // the read serves BOTH generations under the logical name
    val out = ManifestLake.read(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "chars", "source"))
    assert(out.count() == 150L)
    assert(out.agg(sum($"chars")).head().getLong(0) ==
      (0L until 150L).map(_ * 10).sum)
    // the staged gen-2 bytes carry the PHYSICAL name (footer proof)
    val gen2 = snap.files.filterNot(filesBefore.contains)
    assert(gen2.nonEmpty)
    val footer = spark.read.parquet(s"$dir/${gen2.head}")
    assert(footer.columns.contains("n_chars") && !footer.columns.contains("chars"),
      footer.columns.mkString(","))
    // and the manifest's skipping stats stayed keyed on the physical
    // name — a logical-name range read still prunes through them
    val hits = ManifestLake.readWhere(spark, dir, "chars", 100, 200)
    assert(hits.columns.contains("chars"))
    assert(hits.select($"doc_id").as[Long].collect().sorted.toSeq == (10L to 20L))
    // time travel BELOW the rename serves the era's name (Delta's rule)
    val old = ManifestLake.read(spark, dir, ManifestLake.snapshotAt(dir, 1L))
    assert(old.columns.toSeq == Seq("doc_id", "n_chars", "source"))
    // rename BACK to the physical name drops the mapping entry
    ManifestLake.renameColumn(dir, "chars", "n_chars")
    assert(!ManifestLake.latestSnapshot(dir).get.mappingActive)
    assert(ManifestLake.read(spark, dir).columns.contains("n_chars"))
  }

  test("DROP hides committed bytes from reads but not from time travel; re-ADD of the physical name refuses") {
    val dir = tmp("cm_drop")
    mkLake(dir)                                                   // v1
    ManifestLake.dropColumn(dir, "n_chars")                       // v2
    val out = ManifestLake.read(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "source"))
    assert(out.count() == 100L)
    // time travel to the pre-drop version still serves the column
    val old = ManifestLake.read(spark, dir, ManifestLake.snapshotAt(dir, 1L))
    assert(old.columns.contains("n_chars"))
    assert(old.agg(sum($"n_chars")).head().getLong(0) ==
      (0L until 100L).map(_ * 10).sum)
    // appends no longer carry it; reads stay clean
    ManifestLake.append(spark, dir, spark.range(100, 120)
      .select($"id".as("doc_id"), lit("s0").as("source")), "source")
    assert(ManifestLake.read(spark, dir).count() == 120L)
    // the physical name stays reserved: re-ADD refuses (committed
    // bytes still carry it and would resurrect)
    val e = intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq(org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType))))
    assert(e.getMessage.contains("already exist"), e.getMessage)
    // dropped names no longer name a column for writes either
    val e2 = intercept[Exception](ManifestLake.append(spark, dir,
      spark.range(0, 1).select($"id".as("doc_id"), lit("s0").as("source"),
        lit(1L).as("n_chars")), "source"))
    assert(e2.getMessage != null)
  }

  test("every Scala DML face translates: DV delete/update, keyed delete, merge, feed, constraints") {
    val dir = tmp("cm_dml")
    mkLake(dir)                                                   // v1
    ManifestLake.setProperties(dir, Map("enableChangeDataFeed" -> "true")) // v2
    ManifestLake.renameColumn(dir, "n_chars", "chars")            // v3
    // MoR delete with a predicate over the LOGICAL name
    val del = ManifestLake.deleteWhereDv(spark, dir, $"chars" > 900)
    assert(del == 9L) // chars 910..990
    assert(ManifestLake.read(spark, dir).count() == 91L)
    // MoR update assigning the LOGICAL name from the LOGICAL name
    val upd = ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 5L,
      Seq("chars" -> ($"chars" + 1000000L)))
    assert(upd == 1L)
    assert(ManifestLake.read(spark, dir).filter($"chars" > 1000000L)
      .select($"doc_id").as[Long].head() == 5L)
    // the change feed serves the logical name
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = ManifestLake.readChangeFeed(spark, dir, 3L, v)
    assert(feed.columns.contains("chars") && !feed.columns.contains("n_chars"))
    assert(feed.filter($"_change_type" === "delete").count() == 9L)
    // keyed MoR delete with a LOGICAL-named key frame
    val removed = ManifestLake.deleteKeysDv(spark, dir,
      spark.range(0, 3).select($"id".as("doc_id")), Seq("doc_id"))
    assert(removed == 3L)
    // merge with a LOGICAL-shaped updates frame
    val stats0 = ManifestLake.merge(spark, dir, spark.range(10, 12)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        lit(7L).as("chars")), Seq("doc_id"))
    assert(stats0.rowsUpdated + stats0.rowsInserted == 2L)
    assert(ManifestLake.read(spark, dir)
      .filter($"doc_id".isin(10L, 11L) && $"chars" === 7L).count() == 2L)
    // COW delete with a logical predicate
    ManifestLake.deleteWhere(spark, dir, $"chars" === 7L)
    assert(ManifestLake.read(spark, dir).filter($"chars" === 7L).count() == 0L)
    // a constraint added AFTER the rename references the logical name
    // and enforces on writes (which stage physical bytes)
    ManifestLake.addConstraint(spark, dir, "chars_nonneg", "chars >= 0")
    val e = intercept[Throwable](ManifestLake.append(spark, dir,
      spark.range(500, 505).select($"id".as("doc_id"),
        lit("s0").as("source"), lit(-1L).as("chars")), "source"))
    def msgs(t: Throwable): List[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toList
    assert(msgs(e).exists(_.contains("chars_nonneg")), msgs(e).mkString("\n"))
    // ...and now the column cannot be renamed or dropped from under it
    val e2 = intercept[IllegalStateException](
      ManifestLake.renameColumn(dir, "chars", "nchars2"))
    assert(e2.getMessage.contains("chars_nonneg"), e2.getMessage)
    val e3 = intercept[IllegalStateException](
      ManifestLake.dropColumn(dir, "chars"))
    assert(e3.getMessage.contains("chars_nonneg"), e3.getMessage)
  }

  test("a DV delete over a renamed column's logical name prunes files through the manifest") {
    val dir = tmp("cm_prune")
    mkLake(dir)                                                   // v1
    ManifestLake.renameColumn(dir, "n_chars", "chars")            // v2
    val snap = ManifestLake.latestSnapshot(dir).get
    val cands = ManifestLake.selfCandidates(spark, snap, $"chars" > 900)
    assert(cands.isDefined, "the logical-name predicate must resolve")
    assert(cands.get.nonEmpty && cands.get.length < snap.files.length,
      s"${cands.get.length} of ${snap.files.length} files kept")
    // every file holding a match survives the pruning
    val holding = snap.files.filter(f =>
      !spark.read.parquet(s"$dir/$f").filter($"n_chars" > 900).isEmpty).toSet
    assert(holding.nonEmpty && holding.subsetOf(cands.get.toSet))
    assert(ManifestLake.deleteWhereDv(spark, dir, $"chars" > 900) == 9L)
    assert(ManifestLake.read(spark, dir).count() == 91L)
  }

  test("renamed column: the DSv2, SQL and streaming change feeds serve it under its logical name") {
    val dir = tmp("cm_feed_rename")
    mkLake(dir)                                                   // v1
    ManifestLake.renameColumn(dir, "n_chars", "chars")            // v2
    ManifestLake.deleteWhereDv(spark, dir, $"chars" > 900)        // v3
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 5L,
      Seq("chars" -> ($"chars" + 1000000L)))                      // v4
    val v = ManifestLake.latestSnapshot(dir).get.version
    type R = (Long, String, Long, String, Long)
    def rows(df: org.apache.spark.sql.DataFrame): Set[R] =
      df.select($"doc_id", $"source", $"chars", $"_change_type", $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getLong(4))).toSet
    // the model: 100 inserts, 9 deletes (chars 910..990), one update
    def src(i: Long) = s"s${i % 2}"
    val model: Set[R] = (0L until 100L).map(i => (i, src(i), i * 10, "insert", 1L)).toSet ++
      (91L until 100L).map(i => (i, src(i), i * 10, "delete", 3L)) ++
      Set[R]((5L, "s1", 50L, "update_preimage", 4L),
        (5L, "s1", 1000050L, "update_postimage", 4L))
    val feed = ManifestLake.readChangeFeed(spark, dir, 0L, v)
    // committed column order, the renamed column under its logical name
    assert(feed.columns.toSeq == Seq("doc_id", "source", "chars",
      "_change_type", "_commit_version", "_commit_timestamp"), feed.columns.mkString(","))
    assert(rows(feed) == model,
      s"feed-only=${(rows(feed) -- model).take(3)} model-only=${(model -- rows(feed)).take(3)}")
    val dsv2 = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", v.toString).load()
    assert(rows(dsv2) == model)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW cm_feed USING graft OPTIONS " +
      s"(path '$dir', readChangeFeed 'true', startingVersion '0', endingVersion '$v')")
    assert(rows(spark.sql("SELECT * FROM cm_feed")) == model)
    val streamed = new java.util.concurrent.ConcurrentLinkedQueue[R]()
    val q = spark.readStream.format("graft").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows(df).foreach(streamed.add); ()
      }
      .option("checkpointLocation", Files.createTempDirectory("cm_feed_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "AvailableNow drain must terminate")
    finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(streamed.asScala.toVector.sorted == model.toVector.sorted)
  }

  test("dropped columns: the DSv2 change feed hides a top-level and a nested drop") {
    val dir = tmp("cm_feed_drop")
    val df = spark.range(0, 100).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
      ($"id" * 10).as("n_chars"),
      struct(
        concat(lit("l"), ($"id" % 3).cast("string")).as("lang"),
        ($"id" * 2).as("score"),
        concat(lit("x"), $"id".cast("string")).as("extra")).as("meta"))
    ManifestLake.append(spark, dir, df, "source",
      maxRecordsPerFile = 32L, statsCols = Seq("doc_id"))         // v1
    ManifestLake.dropColumn(dir, "n_chars")                       // v2
    ManifestLake.dropColumn(dir, Seq("meta", "extra"))            // v3
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)  // v4
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", v.toString).load()
    assert(!feed.columns.contains("n_chars"), feed.columns.mkString(","))
    val meta = feed.schema(feed.schema.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("lang", "score"), meta.sql)
    val got = feed.select($"doc_id", $"source", $"meta.lang", $"meta.score",
        $"_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet
    def row(i: Long, t: String) = (i, s"s${i % 2}", s"l${i % 3}", i * 2, t)
    val model = (0L until 100L).map(row(_, "insert")).toSet ++
      (0L until 100L).filter(_ % 10 == 3).map(row(_, "delete"))
    assert(got == model,
      s"feed-only=${(got -- model).take(3)} model-only=${(model -- got).take(3)}")
    assert(ManifestLake.readChangeFeed(spark, dir, 0L, v).columns.toSeq == feed.columns.toSeq)
  }

  test("SQL face: ALTER TABLE RENAME/DROP COLUMN; SELECT, INSERT, UPDATE, DELETE all translate; time travel era-correct") {
    val dir = tmp("cm_sql")
    mkLake(dir)                                                   // v1
    spark.conf.set("spark.sql.catalog.graft_cm", classOf[GraftCatalog].getName)
    def t = s"graft_cm.`$dir`"
    spark.sql(s"ALTER TABLE $t RENAME COLUMN n_chars TO chars")   // v2
    // SELECT under the new name, across the pre-rename generation
    assert(spark.sql(s"SELECT sum(chars) AS s FROM $t").head().getLong(0) ==
      (0L until 100L).map(_ * 10).sum)
    // filters on the renamed column still PRUNE through the physical
    // stats: a range touching one narrow slice must not break; and the
    // values must be exact
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE chars BETWEEN 100 AND 200")
      .head().getLong(0) == 11L)
    // INSERT under the new name; the staged bytes carry the physical
    spark.sql(s"INSERT INTO $t VALUES (100, 's0', 1000)")         // v3
    assert(spark.sql(s"SELECT chars FROM $t WHERE doc_id = 100").head().getLong(0) == 1000L)
    // COW UPDATE and DELETE with logical-name predicates/assignments
    spark.sql(s"UPDATE $t SET chars = chars + 1 WHERE doc_id = 100") // v4
    assert(spark.sql(s"SELECT chars FROM $t WHERE doc_id = 100").head().getLong(0) == 1001L)
    spark.sql(s"DELETE FROM $t WHERE chars = 1001")               // v5
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 100L)
    // time travel BELOW the rename serves the era's name
    val old = spark.read.format("graft").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(old.columns.contains("n_chars") && !old.columns.contains("chars"))
    // aggregate pushdown stays manifest-exact (doc_id 100 was deleted)
    assert(spark.sql(s"SELECT max(doc_id) AS m FROM $t").head().getLong(0) == 99L)
    // DROP COLUMN hides it from SQL reads; VERSION AS OF still has it
    spark.sql(s"ALTER TABLE $t DROP COLUMN chars")                // v6
    assert(!spark.sql(s"SELECT * FROM $t").columns.contains("chars"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 100L)
    val preDrop = spark.read.format("graft").option("path", dir)
      .option("versionAsOf", "5").load()
    assert(preDrop.columns.contains("chars"))
    // type changes keep refusing (the mapping cannot reinterpret bytes)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ALTER COLUMN doc_id TYPE INT"))
    assert(e.getMessage != null)
  }

  test("SPJ survives a renamed bucket key: co-located join still plans zero shuffles under the logical name") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      def walk(p: SparkPlan): Int = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case s => (if (s.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
          s.children.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val a = tmp("cm_spj_a"); val b = tmp("cm_spj_b")
    val docs = spark.range(0, 500)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, a, docs, "source", bucketBy = Some(("doc_id", 8)))
    ManifestLake.append(spark, b,
      docs.select($"doc_id", $"source", ($"n_chars" * 2).as("score2")),
      "source", bucketBy = Some(("doc_id", 8)))
    // rename the BUCKET KEY on one side: the manifest keeps the
    // physical bucket declaration; the scan must report the LOGICAL
    // spelling so Spark can still match the join keys
    ManifestLake.renameColumn(a, "doc_id", "key_id")
    spark.conf.set("spark.sql.catalog.graft_cmspj",
      classOf[GraftCatalog].getName)
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"SELECT a.key_id, a.n_chars, b.score2 FROM graft_cmspj.`$a` a " +
          s"JOIN graft_cmspj.`$b` b ON a.key_id = b.doc_id")
      val n = shuffles(df)
      assert(n == 0,
        s"renamed-bucket-key join must stay zero-shuffle, saw $n")
      val rows = df.collect()
      assert(rows.length == 500 && rows.forall(r =>
        r.getAs[Long]("score2") == 2L * r.getAs[Long]("n_chars")))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("refusal matrix: clashes, structural columns, unknown names") {
    val dir = tmp("cm_refuse")
    mkLake(dir)
    // rename to an existing logical name
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, "n_chars", "doc_id"))
    // unknown source column
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, "nope", "x"))
    // rename, then rename ANOTHER column to the first's physical name
    ManifestLake.renameColumn(dir, "n_chars", "chars")
    val e = intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, "doc_id", "n_chars"))
    assert(e.getMessage.contains("physical"), e.getMessage)
    // ADD COLUMNS under a name equal to a renamed column's LOGICAL name
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq(org.apache.spark.sql.types.StructField("chars",
        org.apache.spark.sql.types.LongType))))
    // the old name no longer resolves after the rename
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, "n_chars", "x"))
    // partition / bucket / last-column drops refuse
    intercept[IllegalArgumentException](ManifestLake.dropColumn(dir, "source"))
    ManifestLake.dropColumn(dir, "chars")
    intercept[IllegalArgumentException](ManifestLake.dropColumn(dir, "chars"))
    // doc_id + source remain; dropping doc_id is fine, then source is
    // both partition col AND last column — refused twice over
    ManifestLake.dropColumn(dir, "doc_id")
    intercept[IllegalArgumentException](ManifestLake.dropColumn(dir, "source"))
  }

  private def mkNestedLake(dir: String): Unit = {
    val df = spark.range(0, 100).select(
      $"id".as("doc_id"),
      concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
      struct(
        concat(lit("l"), ($"id" % 3).cast("string")).as("lang"),
        ($"id" * 2).as("score"),
        concat(lit("x"), $"id".cast("string")).as("extra")).as("meta"))
    ManifestLake.append(spark, dir, df, "source",
      maxRecordsPerFile = 32L, statsCols = Seq("doc_id"))
  }

  test("NESTED rename/drop: metadata-only through struct paths; both generations read; writes land physical") {
    val dir = tmp("cm_nested")
    mkNestedLake(dir)                                             // v1
    val filesBefore = ManifestLake.latestSnapshot(dir).get.files.toSet
    ManifestLake.renameColumn(dir, Seq("meta", "lang"), "language") // v2
    ManifestLake.dropColumn(dir, Seq("meta", "extra"))              // v3
    val v3 = ManifestLake.latestSnapshot(dir).get
    assert(v3.files.toSet == filesBefore, "no byte rewritten")
    assert(v3.nestedRenames == Map(Seq("meta", "lang") -> "language") &&
      v3.nestedDrops == Set(Seq("meta", "extra")))
    // the read serves the LOGICAL struct: renamed leaf, dropped leaf
    // hidden, order and values intact
    val out = ManifestLake.read(spark, dir)
    val metaT = out.schema(out.schema.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT.fieldNames.toSeq == Seq("language", "score"), metaT.sql)
    assert(out.select($"meta.language").distinct().count() == 3)
    assert(out.agg(sum($"meta.score")).head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
    // gen-2 append under the LOGICAL shape
    ManifestLake.append(spark, dir, spark.range(100, 150).select(
      $"id".as("doc_id"), lit("s0").as("source"),
      struct(lit("l9").as("language"), ($"id" * 2).as("score")).as("meta")),
      "source", maxRecordsPerFile = 32L)                          // v4
    val all = ManifestLake.read(spark, dir)
    assert(all.count() == 150L)
    assert(all.agg(sum($"meta.score")).head().getLong(0) ==
      (0L until 150L).map(_ * 2).sum)
    // the staged gen-2 bytes carry PHYSICAL nested names, with the
    // dropped leaf re-inserted as a typed NULL — one physical shape
    // across every file generation
    val gen2 = ManifestLake.latestSnapshot(dir).get.files
      .filterNot(filesBefore.contains)
    assert(gen2.nonEmpty)
    val footer = spark.read.parquet(s"$dir/${gen2.head}")
    val footMeta = footer.schema(footer.schema.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(footMeta.fieldNames.toSeq == Seq("lang", "score", "extra"),
      footMeta.sql)
    assert(footer.filter($"meta.extra".isNotNull).count() == 0,
      "the dropped leaf lands as NULL in post-drop files")
    // time travel is era-correct: v1 serves lang + extra with values
    val old = ManifestLake.read(spark, dir, ManifestLake.snapshotAt(dir, 1L))
    val oldMeta = old.schema(old.schema.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(oldMeta.fieldNames.toSeq == Seq("lang", "score", "extra"))
    assert(old.filter($"meta.extra".isNull).count() == 0)
    // rename chains address by the CURRENT logical path; renaming back
    // to the physical name drops the mapping entry
    ManifestLake.renameColumn(dir, Seq("meta", "language"), "lng") // v5
    assert(ManifestLake.read(spark, dir).select($"meta.lng").count() == 150L)
    ManifestLake.renameColumn(dir, Seq("meta", "lng"), "lang")     // v6
    assert(ManifestLake.latestSnapshot(dir).get.nestedRenames.isEmpty)
  }

  test("NESTED mapping through SQL: ALTER/SELECT/UPDATE translate; the CDF diff stays exact over the clipped struct") {
    val dir = tmp("cm_nested_sql")
    mkNestedLake(dir)                                             // v1
    ManifestLake.setProperties(dir,
      Map("enableChangeDataFeed" -> "true"))                      // v2
    spark.conf.set("spark.sql.catalog.graft_cmn",
      classOf[GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft_cmn.`$dir` " +
      "RENAME COLUMN meta.lang TO language")                      // v3
    spark.sql(s"ALTER TABLE graft_cmn.`$dir` DROP COLUMN meta.extra") // v4
    // SELECT under the logical nested name
    val langs = spark.sql(
      s"SELECT DISTINCT meta.language FROM graft_cmn.`$dir`").count()
    assert(langs == 3L)
    // COW UPDATE after the nested drop: rewritten files clip the
    // dropped leaf, but the multiset diff compares the clipped shape —
    // exactly the matched rows appear in the feed, carried rows cancel
    spark.sql(s"UPDATE graft_cmn.`$dir` SET doc_id = doc_id + 1000 " +
      "WHERE doc_id % 25 = 3")                                    // v5 (COW)
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = ManifestLake.readChangeFeed(spark, dir, v - 1, v)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 4L, "update_postimage" -> 4L),
      s"carried rows leaked into the nested-clipped diff: $byType")
    // the feed serves the LOGICAL nested shape
    assert(feed.select($"meta.language").distinct().count() <= 3)
    // and the final corpus is intact under the logical view
    val sumScore = ManifestLake.read(spark, dir)
      .agg(sum($"meta.score")).head().getLong(0)
    assert(sumScore == (0L until 100L).map(_ * 2).sum)
  }

  test("NESTED refusal matrix: arrays, last visible field, sibling clashes, dotted names") {
    val dir = tmp("cm_nested_refuse")
    val df = spark.range(0, 20).select(
      $"id".as("doc_id"), lit("s0").as("source"),
      struct(($"id" * 2).as("a"), ($"id" * 3).as("b")).as("pair"),
      array(struct($"id".as("v"))).as("arr"))
    ManifestLake.append(spark, dir, df, "source")
    // paths through arrays are not addressable
    val e1 = intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, Seq("arr", "v"), "w"))
    assert(e1.getMessage.contains("non-struct"), e1.getMessage)
    // unknown path / unknown root
    intercept[IllegalArgumentException](
      ManifestLake.dropColumn(dir, Seq("pair", "nope")))
    intercept[IllegalArgumentException](
      ManifestLake.dropColumn(dir, Seq("nope", "a")))
    // sibling collision (logical and physical)
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, Seq("pair", "a"), "b"))
    // dotted target name is ambiguous with a path
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, Seq("pair", "a"), "x.y"))
    // last visible field of its struct: drop one, the second refuses
    ManifestLake.dropColumn(dir, Seq("pair", "a"))
    val e2 = intercept[IllegalArgumentException](
      ManifestLake.dropColumn(dir, Seq("pair", "b")))
    assert(e2.getMessage.contains("last visible"), e2.getMessage)
    // a dropped path no longer resolves
    intercept[IllegalArgumentException](
      ManifestLake.renameColumn(dir, Seq("pair", "a"), "c"))
    // a CHECK constraint on the root refuses nested rename/drop
    ManifestLake.addConstraint(spark, dir, "pos", "pair.b >= 0")
    val e3 = intercept[IllegalStateException](
      ManifestLake.renameColumn(dir, Seq("pair", "b"), "c"))
    assert(e3.getMessage.contains("constraint"), e3.getMessage)
  }

  test("NESTED ADD COLUMNS: metadata-only; old files null-fill the new leaf; composes with rename/drop") {
    val dir = tmp("cm_nested_add")
    mkNestedLake(dir)                                             // v1
    val filesBefore = ManifestLake.latestSnapshot(dir).get.files.toSet
    spark.conf.set("spark.sql.catalog.graft_cma2",
      classOf[GraftCatalog].getName)
    spark.sql(s"ALTER TABLE graft_cma2.`$dir` " +
      "ADD COLUMNS (meta.rank BIGINT)")                           // v2: props/schema only
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.files.toSet == filesBefore, "no byte rewritten")
    val metaT = v2.schema.get(v2.schema.get.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT.fieldNames.toSeq == Seq("lang", "score", "extra", "rank"))
    // old files NULL-FILL the new leaf, on BOTH read paths
    assert(ManifestLake.read(spark, dir)
      .filter($"meta.rank".isNotNull).count() == 0)
    assert(spark.read.format("graft").option("path", dir).load()
      .filter($"meta.rank".isNotNull).count() == 0)
    // gen-2 append under the NEW shape; one scan serves both
    ManifestLake.append(spark, dir, spark.range(100, 120).select(
      $"id".as("doc_id"), lit("s0").as("source"),
      struct(lit("l9").as("lang"), ($"id" * 2).as("score"),
        lit("x").as("extra"), ($"id" % 5).as("rank")).as("meta")),
      "source", maxRecordsPerFile = 32L)                          // v3
    val all = ManifestLake.read(spark, dir)
    assert(all.count() == 120L &&
      all.filter($"meta.rank".isNotNull).count() == 20L)
    // an OLD-shaped frame refuses loudly (writers must carry the leaf)
    val e0 = intercept[IllegalStateException](
      ManifestLake.append(spark, dir, spark.range(0, 1).select(
        $"id".as("doc_id"), lit("s0").as("source"),
        struct(lit("l0").as("lang"), $"id".as("score"),
          lit("x").as("extra")).as("meta")), "source"))
    assert(e0.getMessage.contains("schema evolution"), e0.getMessage)
    // time travel is era-correct: v1 has no 'rank'
    val old = ManifestLake.read(spark, dir, ManifestLake.snapshotAt(dir, 1L))
    assert(!old.schema(old.schema.fieldIndex("meta")).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("rank"))
    // composes with the mapping DDL: rename the new leaf, drop another
    ManifestLake.renameColumn(dir, Seq("meta", "rank"), "tier")    // v4
    ManifestLake.dropColumn(dir, Seq("meta", "extra"))             // v5
    assert(ManifestLake.read(spark, dir)
      .agg(sum($"meta.tier")).head().getLong(0) ==
      (100L until 120L).map(_ % 5).sum)
    // refusal matrix: sibling collision (live, renamed, and DROPPED —
    // the physical name stays reserved), NOT NULL, non-struct parent
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq("meta"), Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.LongType))))
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq("meta"), Seq(org.apache.spark.sql.types.StructField("tier",
        org.apache.spark.sql.types.LongType))))
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq("meta"), Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq("meta"), Seq(org.apache.spark.sql.types.StructField("nn",
        org.apache.spark.sql.types.LongType, nullable = false))))
    intercept[IllegalArgumentException](ManifestLake.addColumns(dir,
      Seq("doc_id"), Seq(org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType))))
  }

  test("atomic ALTER: one statement is one commit — a mid-list refusal commits nothing") {
    val dir = tmp("cm_atomic")
    mkLake(dir)                                                   // v1
    val v1 = ManifestLake.latestSnapshot(dir).get
    // second change collides → the WHOLE statement aborts: no version
    // bump, no mapping entry from the first change
    intercept[IllegalArgumentException](ManifestLake.alterSchema(dir, Seq(
      ManifestLake.AlterRenameColumn("n_chars", "w"),
      ManifestLake.AlterRenameColumn("doc_id", "source"))))
    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.version == v1.version && after.renames.isEmpty,
      "a refused multi-change ALTER must commit nothing")
    // sequential visibility inside one statement: rename then address
    // the NEW name — one commit, both applied
    ManifestLake.alterSchema(dir, Seq(
      ManifestLake.AlterRenameColumn("n_chars", "w"),
      ManifestLake.AlterWidenColumn("w", org.apache.spark.sql.types.LongType),
      ManifestLake.AlterSetProps(Map("write.delete.mode" -> "merge-on-read"))))
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.version == v1.version + 1, "one statement = one commit")
    assert(v2.renames == Map("n_chars" -> "w") &&
      v2.declaredDeleteMode == "merge-on-read")
    // the SQL face: a multi-column ADD with a clash commits nothing
    spark.conf.set("spark.sql.catalog.graft_cma",
      classOf[GraftCatalog].getName)
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft_cma.`$dir` ADD COLUMNS (x BIGINT, doc_id BIGINT)"))
    val v3 = ManifestLake.latestSnapshot(dir).get
    assert(v3.version == v2.version &&
      !v3.schema.get.fieldNames.contains("x"),
      "a refused SQL ADD COLUMNS must commit nothing")
  }

  /** LEGACY dotted prop keys: pre-nested-DDL builds only refused '=',
    * '\n', '\r' in column names, so a lake may legally carry
    * `colmap.a.b=x` for a TOP-LEVEL physical column literally named
    * "a.b". Reinterpreting every dotted key as a nested field path
    * would silently stop applying that rename (or misroute it under an
    * unrelated struct root). The disambiguation is schema-driven:
    * whole-key match → top-level; root-is-struct → nested; otherwise
    * top-level fallback. Pure parse pin over hand-built snapshots. */
  test("legacy dotted colmap/coldrop keys on non-struct roots stay TOP-LEVEL mappings") {
    import org.apache.spark.sql.types._
    // a lake whose physical column is literally named "a.b"
    val dottedCol = StructType(Seq(
      StructField("a.b", LongType), StructField("k", StringType)))
    val s1 = ManifestLake.Snapshot(1L, Vector.empty,
      schema = Some(dottedCol),
      props = Map("colmap.a.b" -> "x", "coldrop.a.b" -> ""))
    assert(s1.renames == Map("a.b" -> "x") && s1.nestedRenames.isEmpty,
      s"whole-key schema match must stay top-level: ${s1.nestedRenames}")
    assert(s1.droppedCols == Set("a.b") && s1.nestedDrops.isEmpty)
    // same key, but "a" IS a committed struct column → nested wins
    val structRoot = StructType(Seq(
      StructField("a", StructType(Seq(StructField("b", LongType)))),
      StructField("k", StringType)))
    val s2 = ManifestLake.Snapshot(1L, Vector.empty,
      schema = Some(structRoot), props = Map("colmap.a.b" -> "x"))
    assert(s2.nestedRenames == Map(Seq("a", "b") -> "x") &&
      s2.renames.isEmpty)
    // root neither a whole column nor a struct: a legacy top-level
    // mapping whose column was since widened away — keep it top-level
    // (inert), never misroute it under an unrelated root
    val plainRoot = StructType(Seq(
      StructField("a", LongType), StructField("k", StringType)))
    val s3 = ManifestLake.Snapshot(1L, Vector.empty,
      schema = Some(plainRoot), props = Map("colmap.a.b" -> "x"))
    assert(s3.nestedRenames.isEmpty && s3.renames == Map("a.b" -> "x"))
  }
}
