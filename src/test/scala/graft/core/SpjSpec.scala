package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

import graft.SparkSpec

/** Storage-partitioned joins over the manifest lake
  * ([[GraftScan.outputPartitioning]] + [[KeyedFilePartition]]): with
  * `spark.sql.sources.v2.bucketing.enabled`, two lakes partitioned on
  * the same column join — and aggregate on that column — with ZERO
  * shuffle exchanges. The pins here are the 100 TB claim itself: the
  * exchange SPJ deletes is the dominant cost of a co-partitioned
  * fact⋈fact join at scale, and a regression that silently reintroduces
  * it would never be caught by a correctness oracle (the rows stay
  * right; only the plan rots). */
class SpjSpec extends SparkSpec {

  /** Executes the frame, then counts shuffle exchanges in the FINAL
    * physical plan (descending through AQE's re-planned subtree —
    * the pre-execution string of an adaptive plan still shows the
    * speculative exchanges AQE may later elide). */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // materialized AQE stages are leaves (children = Nil) that hide
      // their exchange inside `plan` — descend or undercount
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s =>
        (if (s.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
          s.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def withSpj[T](on: Boolean)(body: => T): T = {
    val c = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.sources.v2.bucketing.enabled", on.toString)
      c.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", on.toString)
      // pin the join shape: without this the dim-sized sides broadcast
      // and the assertion would pass for the wrong reason
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  test("SPJ: co-partitioned lakes join + aggregate on the layout key with zero shuffles") {
    import spark.implicits._
    val a = Files.createTempDirectory("spj_a").resolve("lake").toString
    val b = Files.createTempDirectory("spj_b").resolve("lake").toString
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"source", $"n_chars")
    ManifestLake.append(spark, a, docs, "source")
    ManifestLake.append(spark, b,
      docs.groupBy($"source").agg(
        count(lit(1)).as("n_src"), sum($"n_chars".cast("long")).as("chars_src")),
      "source")

    def joined: DataFrame = {
      val la = spark.read.format("graft").load(a)
      val lb = spark.read.format("graft").load(b)
      la.join(lb, "source")
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), max($"n_src").as("n_src"),
          sum($"n_chars".cast("long")).as("chars"), max($"chars_src").as("chars_src"))
    }

    val (spjRows, spjShuffles) = withSpj(on = true) {
      val df = joined
      (df.orderBy($"source").collect().toSeq, shuffles(df))
    }
    assert(spjShuffles == 0,
      s"co-partitioned lake join must plan zero shuffle exchanges, saw $spjShuffles")

    // same rows with SPJ off (the baseline plan shuffles — proving the
    // pin measures the exchange, not a trivially exchange-free query)
    val (offRows, offShuffles) = withSpj(on = false) {
      val df = joined
      (df.orderBy($"source").collect().toSeq, shuffles(df))
    }
    assert(offShuffles > 0, "baseline (SPJ off) should shuffle — pin is vacuous")
    assert(spjRows == offRows, "SPJ changed the join's rows")
    // the per-source aggregates agree with their own join-side copies —
    // the join really matched every source to its dim row
    spjRows.foreach { r =>
      assert(r.getAs[Long]("n_src") * 1L == r.getAs[Long]("n"))
      assert(r.getAs[Long]("chars_src") == r.getAs[Long]("chars"))
    }
  }

  test("SPJ: final aggregation grouped by the partition column needs no exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spj_agg").resolve("lake").toString
    val docs = Tables.documents(spark, Sf0001).select($"doc_id", $"source")
    ManifestLake.append(spark, dir, docs, "source")
    val (rows, n) = withSpj(on = true) {
      val df = spark.read.format("graft").load(dir)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      (df.orderBy($"source").collect().toSeq, shuffles(df))
    }
    assert(n == 0, s"groupBy(partition col) over a keyed scan must not shuffle, saw $n")
    val expect = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .orderBy($"source").collect().toSeq
    assert(rows == expect)
  }

  test("SPJ: bucketed lakes join on the BUCKET KEY (doc_id) with zero shuffles") {
    import spark.implicits._
    val a = Files.createTempDirectory("spjb_a").resolve("lake").toString
    val b = Files.createTempDirectory("spjb_b").resolve("lake").toString
    val docs = Tables.documents(spark, Sf0001)
      .select($"doc_id", $"source", $"n_chars")
    ManifestLake.append(spark, a, docs, "source", bucketBy = Some(("doc_id", 8)))
    ManifestLake.append(spark, b,
      docs.select($"doc_id", $"source",
        ($"n_chars" * 2).cast("long").as("score2")),
      "source", bucketBy = Some(("doc_id", 8)))
    // bucket layout declared + every file tagged
    val snapA = ManifestLake.latestSnapshot(a).get
    assert(snapA.declaredBucket.contains(("doc_id", 8)))
    assert(snapA.files.nonEmpty && snapA.files.forall(snapA.buckets.contains))
    // bucket transforms resolve through the CATALOG's function catalog
    spark.conf.set("spark.sql.catalog.graft_spjb", classOf[GraftCatalog].getName)
    def joined: DataFrame = spark.sql(
      s"SELECT a.doc_id, a.n_chars, b.score2 FROM graft_spjb.`$a` a " +
        s"JOIN graft_spjb.`$b` b ON a.doc_id = b.doc_id")
    val (rows, n) = withSpj(on = true) {
      val df = joined
      (df.orderBy($"doc_id").collect().toSeq, shuffles(df))
    }
    assert(n == 0,
      s"bucket-co-located join on the bucket key must not shuffle, saw $n")
    val (offRows, offN) = withSpj(on = false) {
      val df = joined
      (df.orderBy($"doc_id").collect().toSeq, shuffles(df))
    }
    assert(offN > 0, "baseline (SPJ off) should shuffle — bucket pin is vacuous")
    assert(rows == offRows, "bucket SPJ changed the join's rows")
    assert(rows.nonEmpty && rows.forall(r =>
      r.getAs[Long]("score2") == 2L * r.getAs[Number]("n_chars").longValue()))
    // aggregation grouped by the bucket key clusters the same way —
    // bucket(n, doc_id) co-locates equal doc_ids, so the final agg
    // needs no exchange either
    val (aggRows, aggN) = withSpj(on = true) {
      val df = spark.sql(s"SELECT doc_id, COUNT(*) AS n, SUM(n_chars) AS c " +
        s"FROM graft_spjb.`$a` GROUP BY doc_id")
      (df.count(), shuffles(df))
    }
    assert(aggRows > 0)
    assert(aggN == 0, s"groupBy(bucket key) over a keyed scan must not shuffle, saw $aggN")
  }

  test("SPJ: bucket placement survives merge/delete; COW rewrite degrades the report, not the rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spjb_dml").resolve("lake").toString
    val mk = (from: Long, until: Long) => spark.range(from, until)
      .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10L).as("score"))
    ManifestLake.append(spark, dir, mk(0, 400), "source",
      maxRecordsPerFile = 50L, bucketBy = Some(("doc_id", 4)),
      statsCols = Seq("doc_id"))
    // a conflicting explicit spec refuses — declared layout is law
    assert(scala.util.Try(ManifestLake.append(spark, dir, mk(400, 410), "source",
      bucketBy = Some(("doc_id", 16)))).isFailure)
    // merge + delete preserve full bucket coverage (their rewrites
    // restage through the bucketed writer)
    ManifestLake.merge(spark, dir,
      mk(100, 120).withColumn("score", lit(-1L)), Seq("doc_id"))
    ManifestLake.deleteWhere(spark, dir, $"doc_id" >= 300 && $"doc_id" < 310)
    val afterDml = ManifestLake.latestSnapshot(dir).get
    assert(afterDml.files.nonEmpty && afterDml.files.forall(afterDml.buckets.contains),
      "merge/delete must keep every file bucket-tagged")
    // compaction preserves tags: units are (partition, bucket) cells,
    // so maintenance never mixes buckets or erodes SPJ coverage
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1000L)
    val afterCompact = ManifestLake.latestSnapshot(dir).get
    assert(afterCompact.files.nonEmpty &&
      afterCompact.files.forall(afterCompact.buckets.contains),
      "bucket-cell compaction must keep every file tagged")
    assert(afterCompact.buckets.values.toSet.size == 4,
      "compaction must keep all 4 bucket cells distinct")
    // SQL copy-on-write (UPDATE) routes its rewrite per (partition,
    // bucket) with the engine-wide placement rule — tags stay FULL,
    // the rows stay right, and rebucket finds nothing to repair
    withSpj(on = true) {
      spark.conf.set("spark.sql.catalog.graft_spjd", classOf[GraftCatalog].getName)
      spark.sql(s"UPDATE graft_spjd.`$dir` SET score = -2 WHERE doc_id < 5")
      val afterCow = ManifestLake.latestSnapshot(dir).get
      assert(afterCow.files.forall(afterCow.buckets.contains),
        "COW rewrite must keep every file bucket-tagged")
      val df = spark.sql(s"SELECT doc_id, score FROM graft_spjd.`$dir`")
      assert(df.count() == 390) // 400 appended − 10 deleted; merge upserted in place
      assert(df.filter($"score" === -2L).count() == 5)
      assert(spark.sql(s"CALL graft_spjd.rebucket('$dir')")
        .collect().head.getInt(0) == 0, "full coverage — nothing to rebucket")
      // placement INTEGRITY, not just coverage: every file's rows must
      // hash to its claimed bucket — a tag that lied here would make
      // SPJ silently co-locate wrong rows and corrupt join results
      afterCow.files.foreach { f =>
        val wrong = spark.read.parquet(s"$dir/$f")
          .filter(pmod(hash($"doc_id"), lit(4)) =!= afterCow.buckets(f))
          .count()
        assert(wrong == 0, s"file $f claims bucket ${afterCow.buckets(f)} " +
          s"but holds $wrong foreign rows")
      }
    }
  }

  test("SPJ: one-side shuffle — an arbitrary delta shuffles INTO the lake's bucketing") {
    import spark.implicits._
    val lake = Files.createTempDirectory("spjb_shuf").resolve("lake").toString
    ManifestLake.append(spark, lake,
      spark.range(0, 10000).select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 3).as("v")),
      "source", bucketBy = Some(("doc_id", 8)))
    spark.conf.set("spark.sql.catalog.graft_shuf", classOf[GraftCatalog].getName)
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.shuffle.enabled")
    try withSpj(on = true) {
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      spark.range(0, 500).select($"id".as("doc_id"), ($"id" * 7).as("w"))
        .createOrReplaceTempView("spjb_delta")
      val df = spark.sql(s"SELECT l.doc_id, l.v, d.w FROM graft_shuf.`$lake` l " +
        "JOIN spjb_delta d ON l.doc_id = d.doc_id")
      val n = shuffles(df)
      // exactly ONE exchange: the delta side, repartitioned by the
      // lake's OWN bucket function (Spark evaluates GraftBucketFunction
      // to place the delta rows); the 100 TB lake side never moves
      assert(n == 1, s"only the delta side should shuffle, saw $n exchanges")
      // 500/500 matches is the placement-parity proof: if the V2
      // function disagreed with the write-side rule by even one row,
      // that key would land in the wrong partition and the match lost
      assert(df.count() == 500)
      assert(df.agg(sum($"w")).head().getLong(0) == (0L until 500L).map(_ * 7).sum)
      // baseline: without storage partitioning both sides shuffle
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val offN = shuffles(spark.sql(s"SELECT l.doc_id, l.v, d.w FROM graft_shuf.`$lake` l " +
        "JOIN spjb_delta d ON l.doc_id = d.doc_id"))
      assert(offN >= 2, s"baseline should shuffle both sides, saw $offN exchanges")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
    }
  }

  test("SPJ: late-declared bucketing — legacy files untagged, CALL rebucket repairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spjb_late").resolve("lake").toString
    val mk = (from: Long, until: Long) => spark.range(from, until)
      .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10L).as("score"))
    // v1: unbucketed append (legacy data)
    ManifestLake.append(spark, dir, mk(0, 100), "source")
    // v2: a bucketed append ADOPTS and declares the layout; the legacy
    // files stay untagged, so the scan must NOT report co-location
    ManifestLake.append(spark, dir, mk(100, 200), "source",
      bucketBy = Some(("doc_id", 4)))
    val mixed = ManifestLake.latestSnapshot(dir).get
    assert(mixed.declaredBucket.contains(("doc_id", 4)))
    assert(!mixed.files.forall(mixed.buckets.contains),
      "legacy files must stay untagged until rebucketed")
    // repair: rewrite EXACTLY the untagged files, coverage complete
    spark.conf.set("spark.sql.catalog.graft_late", classOf[GraftCatalog].getName)
    val n = spark.sql(s"CALL graft_late.rebucket('$dir')").collect().head.getInt(0)
    assert(n > 0)
    val fixed = ManifestLake.latestSnapshot(dir).get
    assert(fixed.op == "rebucket" && fixed.files.forall(fixed.buckets.contains))
    val df = spark.sql(s"SELECT doc_id, score FROM graft_late.`$dir`")
    assert(df.count() == 200)
    assert(df.agg(sum($"score")).head().getLong(0) == (0L until 200L).map(_ * 10).sum)
    // idempotent
    assert(spark.sql(s"CALL graft_late.rebucket('$dir')")
      .collect().head.getInt(0) == 0)
    // post-declaration appends inherit the layout — nothing untagged
    ManifestLake.append(spark, dir, mk(200, 210), "source")
    val tagged = ManifestLake.latestSnapshot(dir).get
    assert(tagged.files.forall(tagged.buckets.contains))
  }

  test("SPJ: rebucket rebases over a concurrent append — zero rows lost") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spjb_race").resolve("lake").toString
    val mk = (from: Long, until: Long, tagless: Boolean) => {
      val df = spark.range(from, until)
        .select($"id".as("doc_id"), lit("s0").as("source"))
      ManifestLake.append(spark, dir, df, "source",
        bucketBy = if (tagless) None else Some(("doc_id", 4)))
    }
    mk(0, 100, true)   // legacy untagged
    mk(100, 200, false) // declares the layout
    // the race, pinned: an append commits AFTER rebucket's rewrites,
    // BEFORE its CAS — the set-union rebase must keep it
    val n = ManifestLake.rebucket(spark, dir, () => {
      ManifestLake.append(spark, dir,
        spark.range(200, 250).select($"id".as("doc_id"), lit("s0").as("source")),
        "source")
      ()
    })
    assert(n > 0)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.read(spark, dir).count() == 250,
      "rebase must keep the racing append's rows")
    assert(snap.files.forall(snap.buckets.contains),
      "the racing append inherited the layout, so coverage is full")
  }

  test("bucket function: V2 produceResult agrees with the write-side placement rule") {
    import spark.implicits._
    val fn = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val expect = spark.range(-5, 100)
      .select($"id", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash($"id"),
        lit(16)).as("b"))
      .collect()
    expect.foreach { r =>
      val got = fn.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](16, r.getLong(0))))
      assert(got == r.getInt(1), s"placement mismatch for key ${r.getLong(0)}")
    }
    // unsupported key types refuse at bind, not silently mis-place
    assert(scala.util.Try(GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("k", DoubleType))))).isFailure)
  }

  test("writer creation: bucketCol/bucketN options create a bucketed lake") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spjb_w").resolve("lake").toString
    spark.range(0, 100).select($"id".as("doc_id"), lit("s").as("source"))
      .write.format("graft").option("partitionCol", "source")
      .option("bucketCol", "doc_id").option("bucketN", "4")
      .mode("append").save(dir)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.declaredBucket.contains(("doc_id", 4)))
    assert(snap.files.nonEmpty && snap.files.forall(snap.buckets.contains))
    // later SQL INSERTs inherit the declared layout
    spark.conf.set("spark.sql.catalog.graft_spjw", classOf[GraftCatalog].getName)
    spark.range(100, 120).select($"id".as("doc_id"), lit("s").as("source"))
      .createOrReplaceTempView("spjw_src")
    spark.sql(s"INSERT INTO graft_spjw.`$dir` SELECT doc_id, source FROM spjw_src")
    val v2 = ManifestLake.latestSnapshot(dir).get
    assert(v2.files.forall(v2.buckets.contains), "INSERT must stay bucketed")
    // half-declared options refuse
    val half = Files.createTempDirectory("spjb_w2").resolve("lake").toString
    assert(scala.util.Try(
      spark.range(0, 5).select($"id".as("doc_id"), lit("s").as("source"))
        .write.format("graft").option("partitionCol", "source")
        .option("bucketCol", "doc_id").mode("append").save(half)).isFailure)
  }

  test("SPJ off (default): planning and row-level scans are unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("spj_off").resolve("lake").toString
    ManifestLake.append(spark, dir,
      spark.range(0, 100).select($"id".as("doc_id"), lit("s0").as("source")),
      "source")
    // default conf: the scan reports unknown partitioning and splits
    // carry no keys — exactly the pre-SPJ planner input
    val scan = spark.read.format("graft").load(dir)
    assert(scan.count() == 100)
    // DML through the row-level path still plans (rowLevel scans never
    // report key grouping even with the conf on)
    withSpj(on = true) {
      spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
      spark.sql(s"UPDATE graft.`$dir` SET doc_id = doc_id + 1000 WHERE doc_id < 10")
      assert(spark.read.format("graft").load(dir)
        .filter($"doc_id" >= 1000).count() == 10)
    }
  }
}
