package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.math.Ordering.Double.TotalOrdering

import org.apache.spark.sql.{Row, SparkSession}

import graft.core.ManifestLake

/** Reads of the `core` layer with no writes. Set-up commits a static
  * island lake of [[DataCommits]] appends, [[DeleteCommits]]
  * deletion-vector deletes and [[PropertyCommits]] property commits
  * after each append: a history of about three times as many versions
  * as ManifestLake's 64-entry manifest cache holds. The lake has stats
  * on `vid_id` and a bloom filter on `model_key`. One operation is one
  * query; the kinds take turns ([[Mix]]), each with the same weight,
  * and their arguments are seeded: `readPoint` on a key drawn with Zipf
  * popularity (a video, or in every other round a model key, which the
  * bloom filter prunes), `readWhere` over a video range, a filter and
  * aggregate in SQL through the `graft` catalog, a time-travel read at
  * a version drawn uniformly over the history, and `$history`. Every
  * answer is compared with one computed from the generator. */
final class LakeLookup(seed: Long) extends Workload {
  val tailPct = 0.9
  override val parallelWarmupOps = 50
  override val warmupThreads = 4
  val warmupOps = 30
  val counterOps = 40

  val DataCommits = 4
  val DeleteCommits = 2
  /** Metadata-only commits (a table-property change) after each data
    * commit. They take the history past the manifest cache at a small
    * fraction of a data commit's cost; a time-travel read resolves
    * their manifests like any other version's. */
  val PropertyCommits = 48
  /** One round of query kinds: each kind has the same weight. */
  val Mix: Vector[String] = Vector("point", "range", "sql", "time_travel", "history")
  override val roundOps = Mix.length
  val VideosPerCommit = 10
  val ModelKeys = 400
  val PairsPerVideo = 4
  val RangeVideos = 12

  private val gen = new TextGen(seed)
  private var s: SparkSession = _
  private var tr: Tracer = _
  private var lake: String = _
  /** Live rows after each committed version. */
  private val history = mutable.LinkedHashMap.empty[Long, Vector[Island]]
  private var versions: Vector[Long] = _
  private var videos = 0
  private var createVersions = 0
  private lazy val vidZipf = new Zipf(videos, 1.1)
  private val keyZipf = new Zipf(ModelKeys, 1.1)

  def setup(s0: SparkSession, dir: Path, tr0: Tracer): Unit = {
    s = s0; tr = tr0
    lake = dir.resolve("islands").toString
    ManifestLake.create(lake, Island.schema, Island.PartitionCol,
      statsCols = Island.StatsCols, bloomCols = Island.BloomCols,
      deleteMode = Some("merge-on-read"))
    createVersions = ManifestLake.versions(lake).length
    val r = gen.rng(11)
    var live = Vector.empty[Island]
    val deleteAfter = (1 to DeleteCommits).map(k => k * DataCommits / DeleteCommits - 1).toSet
    for (c <- 0 until DataCommits) {
      val rows = (0 until VideosPerCommit).flatMap { j =>
        val vid = (c * VideosPerCommit + j).toLong
        Vector.fill(PairsPerVideo)(r.nextInt(ModelKeys)).distinct.flatMap { m =>
          (0 until 1 + r.nextInt(3)).map { k =>
            val st = k * 150 + r.nextInt(100)
            Island(vid * ModelKeys + m, vid, f"work$m%03d", st, st + 8 + r.nextInt(40),
              st * 0.4, st * 0.4 + 30.0, math.rint(r.nextDouble() * 1000) / 1000)
          }
        }
      }
      val snap = ManifestLake.appendBatch(s, lake, Island.df(s, rows), Island.PartitionCol,
        "lookup-load", c.toLong, statsCols = Island.StatsCols, bloomCols = Island.BloomCols)
      live ++= rows
      history(snap.version) = live
      if (deleteAfter(c)) {
        val pairs = live.map(_.pairId).distinct
        val gone = Vector.fill(3)(pairs(r.nextInt(pairs.length))).distinct
        ManifestLake.deleteKeysDv(s, lake, Island.keys(s, gone), Seq("pair_id"))
        live = live.filterNot(x => gone.contains(x.pairId))
        history(ManifestLake.latestSnapshot(lake).get.version) = live
      }
      (1 to PropertyCommits).foreach { k =>
        val snap = ManifestLake.setProperties(lake, Map("publish.retain" -> (1 + k).toString))
        history(snap.version) = live
      }
    }
    require(history.size + createVersions > 3 * 64, "the history must be far larger than the manifest cache")
    videos = DataCommits * VideosPerCommit
    versions = history.keys.toVector
  }

  private def latest: Vector[Island] = history.last._2

  private def islandsOf(rows: Array[Row]): Vector[Island] = Island.sorted(rows.map(Island.fromRow))

  /** The verifier: a check that `got` equals `want`, run after the
    * query's clock has stopped. */
  private def same[T](what: String, got: T, want: => T): () => Option[String] =
    () => if (got == want) None else Some(s"$what: got $got, expected $want")

  private def answer(rows: Int, check: () => Option[String], extra: Map[String, Double] = Map.empty): Op =
    Op(1.0, rows, check = check,
      counts = () => Map("lookups" -> 1.0, "rows_returned" -> rows.toDouble) ++ extra)

  /** Runs query `i` of the mix. A time-travel read also records whether
    * the manifest cache held its version before the read. */
  def run(i: Int): Op = {
    val r = gen.rng(500000L + i)
    val kind = Mix(i % Mix.length)
    if (kind == "point" && i / Mix.length % 2 == 0) {
      val vid = vidZipf.sample(r).toLong
      val got = tr.span("core", "read_point") { islandsOf(ManifestLake.readPoint(s, lake, "vid_id", vid).collect()) }
      answer(got.length, same("point vid_id", got, Island.sorted(latest.filter(_.vidId == vid))))
    } else if (kind == "point") {
      val key = f"work${keyZipf.sample(r)}%03d"
      val got = tr.span("core", "read_point") { islandsOf(ManifestLake.readPoint(s, lake, "model_key", key).collect()) }
      answer(got.length, same("point model_key", got, Island.sorted(latest.filter(_.modelKey == key))))
    } else if (kind == "range") {
      val lo = r.nextInt(videos - RangeVideos).toLong
      val hi = lo + RangeVideos - 1
      val got = tr.span("core", "read_where") {
        islandsOf(ManifestLake.readWhere(s, lake, "vid_id", BigDecimal(lo), BigDecimal(hi)).collect())
      }
      answer(got.length, same("range vid_id", got,
        Island.sorted(latest.filter(x => x.vidId >= lo && x.vidId <= hi))))
    } else if (kind == "sql") {
      val lo = r.nextInt(videos - RangeVideos).toLong
      val hi = lo + RangeVideos - 1
      val got = tr.span("core", "sql") {
        s.sql(s"SELECT model_key, count(*) AS n, max(avg_score) AS mx FROM graft.`$lake` " +
          s"WHERE vid_id BETWEEN $lo AND $hi GROUP BY model_key").collect()
          .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).sorted.toVector
      }
      answer(got.length, same("sql aggregate", got,
        latest.filter(x => x.vidId >= lo && x.vidId <= hi).groupBy(_.modelKey).toVector
          .map { case (k, xs) => (k, xs.length.toLong, xs.map(_.avgScore).max) }.sorted))
    } else if (kind == "time_travel") {
      val v = versions(r.nextInt(versions.length))
      val cached = ManifestCacheProbe.holds(lake, v)
      val got = tr.span("core", "time_travel") {
        val snap = tr.span("core", "snapshot") { ManifestLake.snapshotAt(lake, v) }
        val row = ManifestLake.read(s, lake, snap).selectExpr("count(*)", "sum(pair_id)", "sum(start_idx)")
          .head()
        (row.getLong(0), row.getLong(1), row.getLong(2))
      }
      val want = history(v)
      answer(1, same(s"version $v", got,
        (want.length.toLong, want.map(_.pairId).sum, want.map(_.startIdx.toLong).sum)),
        cached.map(c => Map("time_travel" -> 1.0, "time_travel_missed" -> (if (c) 0.0 else 1.0)))
          .getOrElse(Map.empty))
    } else {
      val got = tr.span("core", "history") {
        val row = s.sql(s"SELECT count(*), max(version) FROM graft.`$lake$$history`").head()
        (row.getLong(0), row.getLong(1))
      }
      answer(1, same("$history", got, ((createVersions + history.size).toLong, history.keys.max)))
    }
  }

  def layerMetrics(window: Seq[Map[String, Double]], traced: Seq[Map[String, Double]]): Map[String, Double] =
    Map.empty

  def verify(): Seq[String] = Nil

  override def annotations(measured: Seq[Map[String, Double]]): Seq[(String, Double)] = {
    val reads = measured.map(_.getOrElse("time_travel", 0.0)).sum
    if (reads == 0) Nil
    else Seq("time_travel_reads" -> reads,
      "time_travel_cache_miss_share" -> measured.map(_.getOrElse("time_travel_missed", 0.0)).sum / reads)
  }

  /** A point read checked against its expectation with one row
    * dropped must be reported as a mismatch. */
  def selfTest(): Boolean = {
    val vid = latest.head.vidId
    val want = Island.sorted(latest.filter(_.vidId == vid))
    val got = islandsOf(ManifestLake.readPoint(s, lake, "vid_id", vid).collect())
    same("self-test", got, want)().isEmpty && same("self-test", got, want.drop(1))().nonEmpty
  }
}

/** Whether ManifestLake's parsed-manifest cache holds the manifest of a
  * version, read by reflection with `containsKey`, which leaves the
  * cache's LRU order as it is. None when the engine has no such field. */
object ManifestCacheProbe {
  private val cache: Option[java.util.Map[String, _]] =
    try {
      val f = ManifestLake.getClass.getDeclaredField("manifestCache")
      f.setAccessible(true)
      Some(f.get(ManifestLake).asInstanceOf[java.util.Map[String, _]])
    } catch { case _: ReflectiveOperationException | _: ClassCastException => None }

  def holds(lake: String, version: Long): Option[Boolean] =
    cache.map(_.containsKey(Paths.get(lake, "_manifests", f"v$version%012d").toAbsolutePath.toString))
}
