package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Write-time skipping metadata ([[StagedFileTracker]]) ≡ what
  * [[ManifestLake.buildBlooms]]' scan derives from the same staged
  * files: per file, the same row count and bit-identical filters. The
  * frames are generated (seeded) with nulls at every level, long, int,
  * string, struct-leaf and partition bloom columns, partition values
  * that need escaping or look numeric, the null and empty partitions,
  * files split by `maxRecordsPerFile`, and a bucketed rebucket. */
class StagedFileStatsSpec extends SparkSpec {
  import ManifestLake.Snapshot

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("lake").toString

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("s", StringType),
    StructField("st", StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))),
    StructField("p", StringType)))
  private val bloomCols = Seq("k", "i", "s", "st.b", "p")
  private val partValues = Vector[String]("s0", "s1", "7", "a b", "x:y", "", null)

  private def frame(seed: Long, n: Int): DataFrame = {
    val r = new Random(seed)
    def maybe(a: => Any): Any = if (r.nextInt(6) == 0) null else a
    val rows = Vector.fill(n)(Row(
      maybe(r.nextLong()), maybe(r.nextInt(1000)),
      maybe(r.alphanumeric.take(r.nextInt(6)).mkString),
      maybe(Row(maybe(r.nextLong() % 100), maybe(s"b${r.nextInt(50)}"))),
      partValues(r.nextInt(partValues.length))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Runs `body`, capturing the row counts its staging jobs tracked. */
  private def tracking[A](body: => A): (A, Map[String, Long]) = {
    val seen = new java.util.concurrent.atomic.AtomicReference(Map.empty[String, Long])
    ManifestLake.trackedRowsSeam = m => { seen.updateAndGet(_ ++ m); m }
    try (body, seen.get) finally ManifestLake.trackedRowsSeam = identity
  }

  private def assertScanAgrees(dir: String, snap: Snapshot, files: Vector[String],
                               tracked: Map[String, Long]): Unit = {
    assert(files.nonEmpty)
    // the commit's column order (a rebucket sorts the lake's columns)
    val cols = snap.blooms(files.head).map(_.col)
    assert(cols.sorted == bloomCols.sorted)
    val (scanned, scannedRows) = ManifestLake.bloomScan(spark, dir, files,
      cols, files.map(f => f -> snap.rows(f)).toMap, snap.schema)
    assert(tracked.view.filterKeys(files.toSet).toMap == scannedRows)
    assert(files.forall(f => tracked(f) == snap.rows(f)))
    files.foreach { f =>
      val (a, b) = (snap.blooms(f), scanned(f))
      assert(a.map(_.col) == cols && b.map(_.col) == cols)
      a.zip(b).foreach { case (x, y) =>
        assert(x.k == y.k && x.bits.sameElements(y.bits), s"$f ${x.col}")
      }
    }
  }

  test("tracker blooms and row counts ≡ the scan build over generated appends") {
    Seq(1L -> 5L, 2L -> 40L, 3L -> 1024L).foreach { case (seed, maxRecords) =>
      val dir = tmp("staged_stats")
      val (snap, tracked) = tracking(ManifestLake.append(spark, dir,
        frame(seed, 240), "p", maxRecordsPerFile = maxRecords,
        statsCols = Seq("k"), bloomCols = bloomCols))
      if (maxRecords == 5L)
        assert(snap.files.groupBy(_.takeWhile(_ != '/')).values.exists(_.length > 3),
          "maxRecordsPerFile must split files")
      assert(snap.files.exists(_.startsWith("p=x%3Ay/")))
      assert(snap.files.exists(_.startsWith("p=__HIVE_DEFAULT_PARTITION__/")))
      assert(snap.rows.values.sum == 240L)
      assertScanAgrees(dir, snap, snap.files, tracked)
    }
  }

  test("tracker blooms ≡ the scan build for a bucketed rebucket") {
    val dir = tmp("staged_stats_bucket")
    ManifestLake.append(spark, dir, frame(11L, 200), "p", bloomCols = bloomCols)
    ManifestLake.append(spark, dir, frame(12L, 200), "p", bloomCols = bloomCols,
      bucketBy = Some(("i", 4)))
    val (n, tracked) = tracking(ManifestLake.rebucket(spark, dir))
    assert(n > 0)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.op == "rebucket" && snap.files.forall(snap.buckets.contains))
    assertScanAgrees(dir, snap, tracked.keys.toVector.sorted, tracked)
  }

  test("compaction rebuilds a partition-column bloom under the committed type") {
    // directory values that look numeric must hash as the STRING the
    // partition column holds, not as the int partition inference reads
    val dir = tmp("staged_stats_compact")
    val df = spark.range(0, 40).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p")
    Seq(0, 1).foreach(_ =>
      ManifestLake.append(spark, dir, df, "p", maxRecordsPerFile = 4L,
        bloomCols = Seq("k", "p")))
    ManifestLake.compact(spark, dir, "p", targetRecordsPerFile = 1024L)
    val snap = ManifestLake.latestSnapshot(dir).get
    assert(snap.op == "compact" && snap.files.length == 2)
    assert(snap.files.forall(f => snap.blooms(f).exists(_.col == "p")))
    assert(ManifestLake.pruneFilesPoint(snap, "p", "1").length == 1)
    assert(ManifestLake.readPoint(spark, dir, "p", "1").count() == 40L)
  }

  test("staging refuses to commit when tracked and footer row counts disagree") {
    val dir = tmp("staged_stats_guard")
    ManifestLake.trackedRowsSeam = _.map { case (f, n) => f -> (n + 1) }
    val e =
      try intercept[IllegalStateException](ManifestLake.append(spark, dir,
        frame(21L, 50), "p", bloomCols = bloomCols))
      finally ManifestLake.trackedRowsSeam = identity
    assert(e.getMessage.contains("could not reconcile"), e.getMessage)
    assert(ManifestLake.latestSnapshot(dir).isEmpty)
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    val staged =
      try walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally walk.close()
    assert(staged == 0, "the refused staging must delete its files")
  }
}
