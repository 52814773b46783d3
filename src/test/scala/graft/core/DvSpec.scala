package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion vectors ([[ManifestLake.deleteWhereDv]] + [[DvStore]]):
  * merge-on-read targeted deletion. The invariants pinned here are the
  * feature's whole value at 100 TB:
  *  - a DV delete NEVER rewrites or removes a data file (cost ∝
  *    deleted rows, not affected bytes);
  *  - every read path filters the deleted positions out;
  *  - rewrites (compact / COW delete / merge) read THROUGH the DV and
  *    purge it — deleted rows can never resurrect;
  *  - restore across a DV commit resurrects exactly;
  *  - vacuum reclaims superseded sidecars but never referenced ones.
  */
class DvSpec extends SparkSpec {

  private def mkLake(dir: String, n: Long = 200L, buckets: Option[(String, Int)] = None): Unit = {
    import spark.implicits._
    val df = spark.range(0, n)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df, "source",
      statsCols = Seq("doc_id"), bucketBy = buckets)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  test("DV delete removes rows without touching a single data file") {
    import spark.implicits._
    val dir = tmp("dv_basic")
    mkLake(dir)
    val before = ManifestLake.latestSnapshot(dir).get
    val deleted = ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)
    assert(deleted == 20L)
    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.files == before.files, "merge-on-read: the file set must not change")
    assert(after.op == "delete-dv")
    assert(after.dvs.nonEmpty && after.dvs.keySet.subsetOf(after.files.toSet))
    assert(after.dvs.valuesIterator.map(_.count).sum == 20L)
    // every read path excludes the rows
    val read = ManifestLake.read(spark, dir)
    assert(read.count() == 180L)
    assert(read.filter($"doc_id" % 10 === 3).count() == 0L)
    // point lookup through the bloom/stats path too
    assert(ManifestLake.readWhere(spark, dir, "doc_id", BigDecimal(3), BigDecimal(3))
      .count() == 0L)
    assert(ManifestLake.readWhere(spark, dir, "doc_id", BigDecimal(4), BigDecimal(4))
      .count() == 1L)
  }

  test("second DV delete on the same file unions; idempotent re-delete is free") {
    import spark.implicits._
    val dir = tmp("dv_union")
    mkLake(dir)
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 10) == 10L)
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 20) == 10L,
      "rows already deleted must not re-count")
    assert(ManifestLake.read(spark, dir).count() == 180L)
    // same-predicate re-run: zero new deletions, no commit
    val v = ManifestLake.latestSnapshot(dir).get.version
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 20) == 0L)
    assert(ManifestLake.latestSnapshot(dir).get.version == v,
      "a no-match DV delete must not commit")
  }

  test("compact purges DVs: applies them, re-packs, drops the entries") {
    import spark.implicits._
    val dir = tmp("dv_compact")
    mkLake(dir)
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 4 === 1) == 50L)
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1024L * 1024)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.dvs.isEmpty, "compaction is the DV purge path")
    val read = ManifestLake.read(spark, dir)
    assert(read.count() == 150L)
    assert(read.filter($"doc_id" % 4 === 1).count() == 0L,
      "deleted rows must not resurrect through the rewrite")
    // rows: segments reflect the purged truth — COUNT from manifest
    assert(snap.files.forall(snap.rows.contains) &&
      snap.files.map(snap.rows).sum == 150L)
  }

  test("COW delete reads through DVs — no resurrection, exact counts, rewrite purges") {
    import spark.implicits._
    val dir = tmp("dv_cow")
    mkLake(dir)
    // ids 0-9 DV-deleted: the files holding ids 0-24 now carry DVs
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 10) == 10L)
    val dvFiles = ManifestLake.latestSnapshot(dir).get.dvs.keySet
    assert(dvFiles.nonEmpty)
    // overlapping COW delete: ids 10-19 are its only ALIVE matches —
    // they live in the DV'd files, which must be rewritten THROUGH the
    // DV (ids 0-9 stay dead) and shed their dv entries
    val cow = ManifestLake.deleteWhere(spark, dir, $"doc_id" < 20)
    assert(cow == 10L, s"COW delete must not re-count DV-deleted rows, got $cow")
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(ManifestLake.read(spark, dir).count() == 180L)
    assert(ManifestLake.read(spark, dir).filter($"doc_id" < 20).count() == 0L,
      "DV-deleted rows must not resurrect through the COW rewrite")
    assert(dvFiles.forall(f => !snap.files.contains(f)) && snap.dvs.isEmpty,
      "the rewritten files left the ledger and took their DVs with them")
  }

  test("restore across a DV delete resurrects; restore after it keeps it") {
    import spark.implicits._
    val dir = tmp("dv_restore")
    mkLake(dir)
    val v1 = ManifestLake.latestSnapshot(dir).get.version
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 7)
    val v2 = ManifestLake.latestSnapshot(dir).get.version
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 8)
    assert(ManifestLake.read(spark, dir).count() == 198L)
    // back to v2: only the first delete applies
    ManifestLake.restore(dir, v2)
    assert(ManifestLake.read(spark, dir).count() == 199L)
    assert(ManifestLake.read(spark, dir).filter($"doc_id" === 7).count() == 0L)
    // back to v1: full resurrection — the DV entry must NOT ride along
    ManifestLake.restore(dir, v1)
    assert(ManifestLake.read(spark, dir).count() == 200L)
  }

  test("vacuum reclaims superseded sidecars, never referenced ones") {
    import spark.implicits._
    val dir = tmp("dv_vacuum")
    mkLake(dir)
    // both ids live in the same file (odd ids, first range chunk) —
    // the second delete SUPERSEDES that file's sidecar with a union
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 1)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 3)
    val live = ManifestLake.latestSnapshot(dir).get.dvs.values.map(_.path).toSet
    val dvDir = Paths.get(dir).resolve("_dv")
    val all = {
      val st = Files.list(dvDir)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(p => s"_dv/${p.getFileName}").toSet }
      finally st.close()
    }
    assert(live.subsetOf(all) && all.size > live.size,
      "the superseded sidecar should still be on disk pre-vacuum")
    ManifestLake.vacuum(dir, keepVersions = 1, graceMillis = 0L)
    val remaining = {
      val st = Files.list(dvDir)
      try { import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(p => s"_dv/${p.getFileName}").toSet }
      finally st.close()
    }
    assert(remaining == live, s"vacuum must keep exactly the referenced sidecars: $remaining vs $live")
    // and the lake still reads correctly after reclamation
    assert(ManifestLake.read(spark, dir).count() == 198L)
  }

  test("race pins: DV delete vs concurrent append rebases; vs rewrite aborts") {
    import spark.implicits._
    val dir = tmp("dv_race")
    mkLake(dir)
    // append lands between sidecar writes and the CAS — set-union keeps it
    val n = ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 5, () => {
      val extra = spark.range(1000, 1010)
        .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10).as("n_chars"))
      ManifestLake.append(spark, dir, extra, "source", statsCols = Seq("doc_id"))
      ()
    })
    assert(n == 1L)
    assert(ManifestLake.read(spark, dir).count() == 209L,
      "the racing append's rows and the DV delete must both survive")
    // a rewrite that replaced the target file aborts the DV delete
    intercept[IllegalStateException] {
      ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 6, () => {
        ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1024L * 1024); ()
      })
    }
    // and a racing DV delete on the SAME file aborts too (ids 11 and
    // 13 are odd — post-compact they share the single s1 file)
    intercept[IllegalStateException] {
      ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 11, () => {
        ManifestLake.deleteWhereDv(spark, dir, $"doc_id" === 13); ()
      })
    }
  }

  test("SQL scan filters DV'd positions; COUNT(*) pushes NET; MIN/MAX declines") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_dv", classOf[GraftCatalog].getName)
    val dir = tmp("dv_sql")
    mkLake(dir, n = 500L)
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" >= 490) == 10L)

    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.inputPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    // the DSv2 scan excludes deleted rows
    assert(spark.sql(s"SELECT * FROM graft_dv.`$dir` WHERE doc_id >= 480")
      .collect().map(_.getLong(0)).sorted.sameElements(480L until 490L))
    // COUNT(*) still answers from the manifest — NET of the DV
    val cq = s"SELECT count(*) FROM graft_dv.`$dir`"
    assert(nodes(spark.sql(cq).queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      "COUNT(*) must stay manifest-answered under a DV")
    assert(spark.sql(cq).head().getLong(0) == 490L)
    // MIN/MAX must NOT push (a deleted row could have been the max) —
    // and the fallback distributed plan returns the DV-filtered truth
    val mq = s"SELECT max(doc_id) FROM graft_dv.`$dir`"
    assert(!nodes(spark.sql(mq).queryExecution.executedPlan)
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      "MAX over a DV'd lake must not answer from stale footer stats")
    assert(spark.sql(mq).head().getLong(0) == 489L)
    // LIMIT file-prefix accounting is net: ask for more rows than the
    // DV'd tail can give
    assert(spark.sql(s"SELECT doc_id FROM graft_dv.`$dir` LIMIT 495")
      .count() == 490L)
    // ORDER BY ... LIMIT declines the file-skip but stays correct
    assert(spark.sql(
      s"SELECT doc_id FROM graft_dv.`$dir` ORDER BY doc_id DESC LIMIT 3")
      .collect().map(_.getLong(0)).sameElements(Array(489L, 488L, 487L)))
    // SQL DELETE (row-level COW) over the remaining rows reads THROUGH
    // the DV: deleted rows must not resurrect into the rewrite
    spark.sql(s"DELETE FROM graft_dv.`$dir` WHERE doc_id >= 450")
    assert(spark.sql(s"SELECT count(*) FROM graft_dv.`$dir`").head().getLong(0) == 450L)
    assert(spark.sql(s"SELECT max(doc_id) FROM graft_dv.`$dir`").head().getLong(0) == 449L)
  }

  test("SPJ keyed splits survive a DV: bucketed join stays zero-shuffle and exact") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_dvb", classOf[GraftCatalog].getName)
    val dir = tmp("dv_spj")
    mkLake(dir, n = 300L, buckets = Some(("doc_id", 4)))
    val other = tmp("dv_spj2")
    mkLake(other, n = 300L, buckets = Some(("doc_id", 4)))
    assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 3 === 0) == 100L)
    val prevB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevT = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"SELECT a.doc_id FROM graft_dvb.`$dir` a JOIN graft_dvb.`$other` b " +
          "ON a.doc_id = b.doc_id")
      val rows = df.collect()
      assert(rows.length == 200, "DV-deleted keys must drop out of the join")
      assert(rows.forall(_.getLong(0) % 3 != 0))
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case s =>
          (if (s.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) 1
           else 0) + s.children.map(walk).sum
      }
      assert(walk(df.queryExecution.executedPlan) == 0,
        "a pending DV must not break bucket co-location")
    } finally {
      prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      prevT.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("MoR UPDATE: matched rows DV-delete + re-append in one commit, no file rewritten") {
    import spark.implicits._
    val dir = tmp("dv_upd")
    mkLake(dir)
    val before = ManifestLake.latestSnapshot(dir).get
    val n = ManifestLake.updateWhereDv(spark, dir, $"doc_id" % 10 === 3,
      Seq("n_chars" -> lit(-1L)))
    assert(n == 20L)
    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.op == "update-dv")
    assert(before.files.forall(after.files.contains),
      "merge-on-read: no existing file leaves the ledger")
    val added = after.files.filterNot(before.files.toSet)
    assert(added.nonEmpty, "updated images land as fresh files")
    assert(after.dvs.valuesIterator.map(_.count).sum == 20L)
    // one atomic commit: the version advanced exactly once
    assert(after.version == before.version + 1)
    // read-back: updated rows show the new value exactly once
    val read = ManifestLake.read(spark, dir)
    assert(read.count() == 200L, "UPDATE changes no row count")
    assert(read.filter($"n_chars" === -1L).count() == 20L)
    assert(read.filter($"doc_id" % 10 === 3 && $"n_chars" =!= -1L).count() == 0L)
    // new files inherit the stats plane all current files track
    assert(added.forall(f => after.stats.get(f).exists(_.exists(_.col == "doc_id"))),
      "update must not erode data skipping")
    // idempotence arithmetic: re-running matches the SAME logical rows
    // (they now live in the new files), deletes their new positions
    assert(ManifestLake.updateWhereDv(spark, dir, $"doc_id" % 10 === 3,
      Seq("n_chars" -> lit(-1L))) == 20L)
    assert(ManifestLake.read(spark, dir).count() == 200L)
  }

  test("MoR UPDATE can move rows across partitions; compact purges; no-match is free") {
    import spark.implicits._
    val dir = tmp("dv_updmove")
    mkLake(dir)
    val n = ManifestLake.updateWhereDv(spark, dir, $"doc_id" < 6,
      Seq("source" -> lit("s9")))
    assert(n == 6L)
    val read = ManifestLake.read(spark, dir)
    assert(read.filter($"source" === "s9").count() == 6L)
    assert(read.filter($"doc_id" < 6 && $"source" =!= "s9").count() == 0L)
    assert(ManifestLake.latestSnapshot(dir).get.files.exists(_.startsWith("source=s9/")),
      "an assignment to the partition column routes images to the new directory")
    // compact purges the DVs and the content survives exactly
    ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1024L * 1024)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.dvs.isEmpty)
    assert(ManifestLake.read(spark, dir).filter($"source" === "s9").count() == 6L)
    // no-match: zero rows, no commit burned
    val v = snap.version
    assert(ManifestLake.updateWhereDv(spark, dir, $"doc_id" === -1L,
      Seq("n_chars" -> lit(0L))) == 0L)
    assert(ManifestLake.latestSnapshot(dir).get.version == v)
  }

  test("MoR UPDATE refuses type flips and unknown columns; races abort like DV delete") {
    import spark.implicits._
    val dir = tmp("dv_updguard")
    mkLake(dir)
    intercept[IllegalStateException] {
      ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 1,
        Seq("n_chars" -> lit("oops")))
    }
    intercept[IllegalArgumentException] {
      ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 1,
        Seq("nope" -> lit(1L)))
    }
    // the determinism contract is ENFORCED, not just documented: the
    // matched frame feeds two actions through a persisted frame, and a
    // recomputed rand() predicate/assignment would desynchronize the
    // position sidecars from the appended images
    intercept[IllegalArgumentException] {
      ManifestLake.updateWhereDv(spark, dir, rand() > 0.5,
        Seq("n_chars" -> lit(0L)))
    }
    intercept[IllegalArgumentException] {
      ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 1,
        Seq("n_chars" -> (rand() * 100).cast("long")))
    }
    // concurrent append rebases (set-union keeps both)
    val n = ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 5,
      Seq("n_chars" -> lit(-5L)), () => {
        val extra = spark.range(1000, 1010)
          .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10).as("n_chars"))
        ManifestLake.append(spark, dir, extra, "source", statsCols = Seq("doc_id"))
        ()
      })
    assert(n == 1L)
    // UPDATE preserves row count: 200 original + 10 racing appends
    assert(ManifestLake.read(spark, dir).count() == 210L)
    assert(ManifestLake.read(spark, dir).filter($"n_chars" === -5L).count() == 1L)
    // a rewrite that replaced the target file aborts the update
    intercept[IllegalStateException] {
      ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 6,
        Seq("n_chars" -> lit(-6L)), () => {
          ManifestLake.compact(spark, dir, "source", targetRecordsPerFile = 1024L * 1024); ()
        })
    }
  }

  test("CALL update_vectors: the SQL MoR UPDATE surface") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_dvu", classOf[GraftCatalog].getName)
    val dir = tmp("dv_updsql")
    mkLake(dir)
    val row = spark.sql(s"CALL graft_dvu.update_vectors(path => '$dir', " +
      "predicate => 'doc_id % 10 = 3', " +
      "assignments => 'n_chars = -doc_id; source = source')").head()
    assert(row.getLong(0) == 20L && row.getInt(1) > 0)
    val read = spark.sql(s"SELECT * FROM graft_dvu.`$dir`")
    assert(read.count() == 200L)
    assert(read.filter($"n_chars" === -$"doc_id" && $"doc_id" =!= 0).count() == 20L)
    // CDC stays blind to the update commit, like COW UPDATE
    val v = ManifestLake.latestSnapshot(dir).get.version
    assert(ManifestLake.readChanges(spark, dir, 1L, v).count() == 0L,
      "update-dv must be CDC-invisible")
  }

  test("readChanges applies the window-end deletion vectors, like the DSv2 CDC window") {
    import spark.implicits._
    val dir = tmp("dv_cdc_window")
    def slice(lo: Long, hi: Long) = spark.range(lo, hi).select($"id".as("doc_id"),
      lit("s0").as("source"), ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, slice(0, 50), "source")     // v1
    ManifestLake.append(spark, dir, slice(50, 80), "source")    // v2
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" >= 60)     // v3
    val changes = ManifestLake.readChanges(spark, dir, 0L, 3L)
    assert(changes.count() == 60L, "rows a DV in the window deleted must not appear")
    assert(changes.agg(min($"doc_id"), max($"doc_id")).head() ===
      org.apache.spark.sql.Row(0L, 59L))
    assert(spark.read.format("graft").option("path", dir)
      .option("startingVersion", "0").option("endingVersion", "3")
      .load().count() == 60L)
  }

  test("Scala/CALL DML detection is manifest-pruned: out-of-range files never open") {
    import spark.implicits._
    val dir = tmp("dv_prune")
    // doc_id-clustered layout so per-file ranges are disjoint
    val df = spark.range(0, 400)
      .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df.repartitionByRange(8, $"doc_id"),
      "source", statsCols = Seq("doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    // physically hide a file whose range can't hold doc_id < 10: if
    // detection opens it anyway, the scan throws file-not-found — the
    // strongest possible "never opened" pin
    val far = snap.files.find(f => snap.stats(f)
      .exists(st => st.col == "doc_id" && ManifestLake.Bound.cmp(
        st.min, ManifestLake.Bound.Num(BigDecimal(200))).exists(_ > 0))).get
    val src = Paths.get(dir).resolve(far)
    val hidden = Paths.get(dir).resolve(far + ".hidden")
    Files.move(src, hidden)
    try {
      assert(ManifestLake.deleteWhereDv(spark, dir, $"doc_id" < 10) == 10L)
      assert(ManifestLake.updateWhereDv(spark, dir,
        $"doc_id" >= 10 && $"doc_id" < 15, Seq("n_chars" -> lit(-1L))) == 5L)
    } finally Files.move(hidden, src)
    val read = ManifestLake.read(spark, dir)
    assert(read.count() == 390L)
    assert(read.filter($"n_chars" === -1L).count() == 5L)
  }

  test("deleteKeysDv: key-frame MoR delete, distributed, manifest-pruned, idempotent") {
    import spark.implicits._
    val dir = tmp("dv_keys")
    val df = spark.range(0, 400)
      .select($"id".as("doc_id"), lit("s0").as("source"), ($"id" * 10).as("n_chars"))
    ManifestLake.append(spark, dir, df.repartitionByRange(8, $"doc_id"),
      "source", statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val snap = ManifestLake.latestSnapshot(dir).get
    // hide a file whose range can't hold the keys: detection opening
    // it anyway would throw file-not-found — the "never opened" pin
    val far = snap.files.find(f => snap.stats(f)
      .exists(st => st.col == "doc_id" && ManifestLake.Bound.cmp(
        st.min, ManifestLake.Bound.Num(BigDecimal(200))).exists(_ > 0))).get
    val src = Paths.get(dir).resolve(far)
    val hidden = Paths.get(dir).resolve(far + ".hidden")
    Files.move(src, hidden)
    val keys = spark.range(0, 30).select($"id".as("doc_id"))
      .union(spark.range(5000, 5010).select($"id".as("doc_id"))) // misses ok
    try {
      assert(ManifestLake.deleteKeysDv(spark, dir, keys, Seq("doc_id")) == 30L)
      // idempotent: the same keys again delete nothing, burn nothing
      val v = ManifestLake.latestSnapshot(dir).get.version
      assert(ManifestLake.deleteKeysDv(spark, dir, keys, Seq("doc_id")) == 0L)
      assert(ManifestLake.latestSnapshot(dir).get.version == v)
      // empty key frame: no-op without a commit
      assert(ManifestLake.deleteKeysDv(spark, dir,
        keys.filter($"doc_id" < 0), Seq("doc_id")) == 0L)
      assert(ManifestLake.latestSnapshot(dir).get.version == v)
    } finally Files.move(hidden, src)
    val read = ManifestLake.read(spark, dir)
    assert(read.count() == 370L)
    assert(read.filter($"doc_id" < 30).count() == 0L)
    assert(ManifestLake.latestSnapshot(dir).get.op == "delete-dv")
    // the keyed delete is row-exact through the change feed too
    val v = ManifestLake.latestSnapshot(dir).get.version
    val feed = ManifestLake.readChangeFeed(spark, dir, 1L, v)
    assert(feed.filter($"_change_type" === "delete").count() == 30L)
  }

  test("write.delete.mode=merge-on-read routes SQL DELETE FROM through DVs") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_mor", classOf[GraftCatalog].getName)
    val dir = tmp("dv_mode")
    spark.sql(s"CREATE TABLE graft_mor.`$dir` " +
      "(doc_id BIGINT, source STRING, n_chars BIGINT) PARTITIONED BY (source) " +
      "TBLPROPERTIES('statsCols'='doc_id', 'write.delete.mode'='merge-on-read')")
    spark.range(0, 200)
      .select($"id".as("doc_id"),
        concat(lit("s"), ($"id" % 2).cast("string")).as("source"),
        ($"id" * 10).as("n_chars"))
      .createOrReplaceTempView("dv_mode_src")
    spark.sql(s"INSERT INTO graft_mor.`$dir` SELECT * FROM dv_mode_src")
    val before = ManifestLake.latestSnapshot(dir).get

    spark.sql(s"DELETE FROM graft_mor.`$dir` WHERE doc_id < 20")
    val after = ManifestLake.latestSnapshot(dir).get
    assert(after.op == "delete-dv", "declared MoR mode governs SQL DELETE")
    assert(after.files == before.files, "no data file rewritten")
    assert(after.dvs.valuesIterator.map(_.count).sum == 20L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_mor.`$dir`").head().getLong(0) == 180L)

    // flip back to copy-on-write: the same DELETE shape rewrites files
    // (and purges the DVs it reads through)
    spark.sql(s"ALTER TABLE graft_mor.`$dir` " +
      "SET TBLPROPERTIES('write.delete.mode'='copy-on-write')")
    assert(ManifestLake.latestSnapshot(dir).get.declaredDeleteMode == "copy-on-write")
    spark.sql(s"DELETE FROM graft_mor.`$dir` WHERE doc_id < 40")
    val cow = ManifestLake.latestSnapshot(dir).get
    assert(cow.op == "delete")
    assert(cow.dvs.isEmpty, "the COW rewrite reads through and purges the DVs")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_mor.`$dir`").head().getLong(0) == 160L)

    // an invalid mode refuses, at CREATE and at ALTER
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_mor.`$dir` " +
        "SET TBLPROPERTIES('write.delete.mode'='sometimes')")
    }
    val dir2 = tmp("dv_mode2")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_mor.`$dir2` (a BIGINT, p STRING) " +
        "PARTITIONED BY (p) TBLPROPERTIES('write.delete.mode'='nope')")
    }
  }

  test("readChangeFeed: exact row-level changes for MoR commits, refusal for COW") {
    import spark.implicits._
    val dir = tmp("dv_cdf")
    mkLake(dir)                                                    // v1: 200 inserts
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 10 === 3)   // v2: 20 deletes
    ManifestLake.updateWhereDv(spark, dir, $"doc_id" === 4,
      Seq("n_chars" -> lit(-1L)))                                  // v3: 1 update
    ManifestLake.compact(spark, dir, "source",
      targetRecordsPerFile = 1024L * 1024)                         // v4: nothing
    ManifestLake.append(spark, dir, spark.range(1000, 1010)
      .select($"id".as("doc_id"), lit("s0").as("source"),
        ($"id" * 10).as("n_chars")), "source")                     // v5: 10 inserts

    val feed = ManifestLake.readChangeFeed(spark, dir, 0L, 5L)
    val byType = feed.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 210L, "delete" -> 20L,
      "update_preimage" -> 1L, "update_postimage" -> 1L), byType.toString)
    // content exactness: the delete leg is precisely the vectored rows,
    // pre/post images carry old and new values
    assert(feed.filter($"_change_type" === "delete" && $"doc_id" % 10 =!= 3)
      .count() == 0L)
    assert(feed.filter($"_change_type" === "update_preimage").head()
      .getAs[Long]("n_chars") == 40L)
    assert(feed.filter($"_change_type" === "update_postimage").head()
      .getAs[Long]("n_chars") == -1L)
    // versions tag correctly; the compact version emits nothing
    assert(feed.select($"_commit_version").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 5L))
    // windows compose: (1,2] is only the deletes
    val w = ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
    assert(w.count() == 20L &&
      w.select($"_change_type").distinct().head().getString(0) == "delete")
    // an all-quiet window is empty but correctly shaped
    val quiet = ManifestLake.readChangeFeed(spark, dir, 3L, 4L)
    assert(quiet.count() == 0L && quiet.columns.contains("_change_type"))
    // a COW mutation in the window refuses loudly; windows before it
    // keep working
    ManifestLake.deleteWhere(spark, dir, $"doc_id" === 7L)         // v6: COW
    val e = intercept[IllegalStateException] {
      ManifestLake.readChangeFeed(spark, dir, 5L, 6L).count()
    }
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    assert(ManifestLake.readChangeFeed(spark, dir, 0L, 5L).count() == 232L)
  }

  test("packed DV splits: many DV'd small files plan far fewer tasks, rows exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv_packed").resolve("lake").toString
    val docs = spark.range(0, 640).select(
      $"id".as("doc_id"), concat(lit("s"), ($"id" % 4)).as("source"))
    // ~40 tiny files, every one of which the delete then vectors
    ManifestLake.append(spark, dir, docs, "source", maxRecordsPerFile = 16L)
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 5 === 0)
    spark.conf.set("spark.sql.catalog.graft_dvp",
      classOf[GraftCatalog].getName)
    val df = spark.sql(s"SELECT doc_id FROM graft_dvp.`$dir`")
    assert(df.count() == 512L)
    assert(df.agg(org.apache.spark.sql.functions.sum($"doc_id")).head().getLong(0) ==
      (0L until 640L).filter(_ % 5 != 0).sum)
    // the scan packs DV'd files instead of planning one task per file
    val nFiles = ManifestLake.latestSnapshot(dir).get.files.length
    val nParts = df.rdd.getNumPartitions
    assert(nFiles >= 36, s"fixture did not fragment: $nFiles files")
    assert(nParts * 3 <= nFiles,
      s"DV'd scan did not pack: $nParts partitions over $nFiles files")
    // the CDF position leg packs the same way and stays exact — on the
    // Scala feed and on the DSv2 feed, whose splits come from the same
    // planner as the scan's
    val feed = ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
    assert(feed.select($"_change_type").distinct().head().getString(0) == "delete")
    val dsv2Feed = spark.read.format("graft").option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "2").load()
    for ((face, f) <- Seq("scala" -> feed, "dsv2" -> dsv2Feed)) {
      assert(f.count() == 128L, face)
      assert(f.agg(org.apache.spark.sql.functions.sum($"doc_id")).head().getLong(0) ==
        (0L until 640L).filter(_ % 5 == 0).sum, face)
    }
    val feedParts = dsv2Feed.rdd.getNumPartitions
    assert(feedParts * 3 <= nFiles,
      s"DSv2 position leg did not pack: $feedParts partitions over $nFiles files")
  }

  test("ranged DV splits: one file above maxSplitBytes plans multiple " +
      "tasks, rows exact on scan and CDF position leg (r18)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dv_ranged").resolve("lake").toString
    // ONE file, a few hundred KB (incompressible payload so the byte
    // size is real)
    val docs = spark.range(0, 20000).select(
      $"id".as("doc_id"), lit("s0").as("source"),
      sha2(concat(lit("pad"), $"id".cast("string")), 512).as("pad"))
      .coalesce(1)
    ManifestLake.append(spark, dir, docs, "source")
    ManifestLake.deleteWhereDv(spark, dir, $"doc_id" % 7 === 0)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.files.length == 1, s"fixture should be one file: ${snap.files}")
    val bytes = snap.sizes(snap.files.head).bytes
    assert(bytes > 200000L, s"fixture file too small to range-split: $bytes")
    val (mpbK, ocK) = ("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val (mpb0, oc0) = (spark.conf.get(mpbK), spark.conf.get(ocK))
    spark.conf.set(mpbK, "65536"); spark.conf.set(ocK, "0")
    try {
      spark.conf.set("spark.sql.catalog.graft_dvr",
        classOf[GraftCatalog].getName)
      val df = spark.sql(s"SELECT doc_id FROM graft_dvr.`$dir`")
      val nParts = df.rdd.getNumPartitions
      assert(nParts >= 3,
        s"a $bytes-byte DV'd file should range-split at 64k, got $nParts task(s)")
      assert(df.count() == (0L until 20000L).count(_ % 7 != 0))
      assert(df.agg(org.apache.spark.sql.functions.sum($"doc_id")).head()
        .getLong(0) == (0L until 20000L).filter(_ % 7 != 0).sum)
      // the CDF position leg range-splits with the same absolute math,
      // on the Scala feed and on the DSv2 feed
      val feed = ManifestLake.readChangeFeed(spark, dir, 1L, 2L)
      val dsv2Feed = spark.read.format("graft").option("path", dir)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "2").load()
      for ((face, f) <- Seq("scala" -> feed, "dsv2" -> dsv2Feed)) {
        assert(f.count() == (0L until 20000L).count(_ % 7 == 0), face)
        assert(f.select(org.apache.spark.sql.functions.sum($"doc_id")).head()
          .getLong(0) == (0L until 20000L).filter(_ % 7 == 0).sum, face)
      }
      val feedParts = dsv2Feed.rdd.getNumPartitions
      assert(feedParts >= 3,
        s"a $bytes-byte DV'd file should range-split the DSv2 position leg at 64k, " +
          s"got $feedParts task(s)")
    } finally { spark.conf.set(mpbK, mpb0); spark.conf.set(ocK, oc0) }
  }

  test("DvStore codec round-trips and unions") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = Files.createTempDirectory("dv_codec").toString
    val pos = Array(0L, 1L, 63L, 64L, 1L << 20, (1L << 40) + 7)
    val dv = DvStore.write(dir, pos, conf)
    assert(dv.count == pos.length.toLong)
    assert(DvStore.read(dir, dv.path, conf).sameElements(pos))
    assert(DvStore.union(Array(1L, 3L, 5L), Array(2L, 3L, 6L))
      .sameElements(Array(1L, 2L, 3L, 5L, 6L)))
    assert(DvStore.contains(pos, 63L) && !DvStore.contains(pos, 62L))
  }
}
