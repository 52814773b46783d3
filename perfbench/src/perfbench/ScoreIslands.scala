package perfbench

import java.nio.file.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.core.{ManifestLake, Resources}
import graft.islands.{IslandMath, Islands}
import graft.score.NgramLm
import graft.score.NgramLm.LmModel
import graft.text.Treebank

/** The paper's flagship pipeline. Set-up trains [[Models]] 4-gram
  * models on synthetic works whose sizes follow a Zipf law, stores them
  * through `modelTable`, loads them back with `loadModel` and
  * broadcasts each once. One operation scores a batch of
  * [[BatchVideos]] sermon-length transcripts (with segment timings and
  * one planted passage copied from each work) against every model, then
  * smooths, finds islands, maps them to time ranges and commits them
  * with one `appendBatch`. Each step is materialized inside its own
  * span so the trace can split the batch by layer. */
final class ScoreIslands(seed: Long) extends Workload {
  val tailPct = 0.75
  val warmupOps = 18
  override val minOps = 4
  val counterOps = 3

  val Models = 4
  val MaxWorkWords = 12000
  val BatchVideos = 10
  val PoolVideos = 32
  val TranscriptFiles = 2
  val SermonWords = 2000
  val PlantedWords = 80
  // the reference's island parameters
  val Threshold = 0.6
  val MinLen = 8
  val KernelSize = 10
  val Sigma = 5.0
  val NGram = NgramLm.N
  val PadSec = 5.0
  val SampledPairsPerBatch = 3

  final case class Seg(startWord: Int, endWord: Int, startSec: Double, durSec: Double)
  final case class Video(text: String, segs: Vector[Seg])

  private val gen = new TextGen(seed)
  private val kernel = IslandMath.gaussianKernel(KernelSize, Sigma)
  private var s: SparkSession = _
  private var tr: Tracer = _
  private var lake: String = _
  private var keys: IndexedSeq[String] = _
  private var loaded: IndexedSeq[LmModel] = _
  private var bcs: IndexedSeq[Broadcast[LmModel]] = _
  private var pool: IndexedSeq[Video] = _
  private var transcripts: DataFrame = _
  private var segments: DataFrame = _
  private var broadcastBytes = 0L
  private var tokens: LongAccumulator = _
  private var tokenNanos: LongAccumulator = _
  private val batches = scala.collection.concurrent.TrieMap.empty[Int, IndexedSeq[(Long, Int)]]

  def setup(s0: SparkSession, dir: Path, tr0: Tracer): Unit = {
    s = s0; tr = tr0
    val works = (0 until Models).map { k =>
      gen.prose(gen.rng(100 + k), (MaxWorkWords / math.pow(k + 1, 1.1)).toInt)
    }
    keys = works.indices.map(k => f"work$k%02d")
    val trained = keys.zip(works).map { case (k, w) =>
      k -> (NgramLm.train(Seq(Treebank.tokenize(w.mkString(" ")))): LmModel)
    }
    val tableDir = dir.resolve("model_table").toString
    NgramLm.modelTable(s, trained).write.parquet(tableDir)
    val table = s.read.parquet(tableDir)
    broadcastBytes = table.agg(sum(length(col("model_data")))).head().getLong(0)
    loaded = keys.map(NgramLm.loadModel(table, _))
    bcs = loaded.map(Resources.broadcast(s, _))
    pool = (0 until PoolVideos).map(v => video(gen.rng(10000 + v), works))
    // the transcript store: texts and segment timings, read per batch
    val sp = s
    import sp.implicits._
    val textDir = dir.resolve("transcripts").toString
    val segDir = dir.resolve("segments").toString
    pool.zipWithIndex.map { case (v, p) => (p, v.text) }.toDF("p", "text")
      .repartition(TranscriptFiles).write.parquet(textDir)
    pool.zipWithIndex.flatMap { case (v, p) =>
      v.segs.map(sg => (p, sg.startWord, sg.endWord, sg.startSec, sg.durSec))
    }.toDF("p", "seg_start_word", "seg_end_word", "seg_start", "seg_duration")
      .repartition(TranscriptFiles).write.parquet(segDir)
    transcripts = s.read.parquet(textDir)
    segments = s.read.parquet(segDir)
    lake = dir.resolve("islands").toString
    ManifestLake.create(lake, Island.schema, Island.PartitionCol,
      statsCols = Island.StatsCols, bloomCols = Island.BloomCols)
    tokens = s.sparkContext.longAccumulator("perfbench.tokens")
    tokenNanos = s.sparkContext.longAccumulator("perfbench.tokenize_ns")
  }

  /** A sermon of about [[SermonWords]] words cut into [[Models]] equal
    * parts, with one passage of [[PlantedWords]] words copied from work
    * k planted at a seeded place in part k, then cut into timed segments
    * of 8-16 words. Every video has the same sizes and the same planted
    * structure; the seed picks the words and the places. */
  private def video(r: java.util.SplittableRandom, works: IndexedSeq[Array[String]]): Video = {
    val prose = gen.prose(r, SermonWords)
    val part = prose.length / works.length
    val words = works.indices.flatMap { k =>
      val w = works(k)
      val from = r.nextInt(w.length - PlantedWords)
      val own = prose.slice(k * part, if (k == works.length - 1) prose.length else (k + 1) * part)
      val at = r.nextInt(own.length + 1)
      own.take(at) ++ w.slice(from, from + PlantedWords) ++ own.drop(at)
    }
    val segs = Vector.newBuilder[Seg]
    var i = 0
    var t = 0.0
    while (i < words.length) {
      val end = math.min(words.length, i + 8 + r.nextInt(9))
      val dur = (end - i) * 0.4 + r.nextInt(10) / 10.0
      segs += Seg(i + 1, end, t, dur)
      t += dur
      i = end
    }
    Video(words.mkString(" "), segs.result())
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  private val smoothUdf = {
    val (k, size) = (kernel, KernelSize)
    udf((v: Seq[Double]) => IslandMath.smooth(v.toArray, k, size).toSeq)
  }

  def run(i: Int): Op = {
    val sp = s
    import sp.implicits._
    // batch i takes the next BatchVideos videos of the pool, round robin
    val picks = (0 until BatchVideos).map(j => (i.toLong * BatchVideos + j, (i * BatchVideos + j) % PoolVideos))
    batches(i) = picks
    // the batch's video ids by pool index; rows of other videos map to
    // null. A map literal is passed to generated code by reference, so
    // every batch runs the same generated classes.
    val vidOf = element_at(typedLit(picks.map { case (vid, p) => p -> vid }.toMap), col("p"))
    val inBatch = vidOf.isNotNull
    val tok0 = tokens.value
    val ns0 = tokenNanos.value
    val tokenizer: String => Array[String] =
      if (!tr.enabled) Treebank.tokenize
      else {
        val (acc, nanos) = (tokens, tokenNanos)
        text => {
          val t0 = System.nanoTime()
          val out = Treebank.tokenize(text)
          nanos.add(System.nanoTime() - t0)
          acc.add(out.length.toLong)
          out
        }
      }
    val videos = transcripts.filter(inBatch).select(vidOf.as("vid_id"), col("text"))
    val scored = tr.span("score", "score") {
      materialize(bcs.indices.map { m =>
        NgramLm.scoreColumn(videos, "text", bcs(m), tokenizer)
          .select($"vid_id", lit(keys(m)).as("model_key"),
            ($"vid_id" * Models + m).as("pair_id"), $"score")
      }.reduce(_ union _))
    }
    val found = tr.span("islands", "find") {
      materialize(Islands.islandsFromArray(
        scored.select($"pair_id", smoothUdf($"score").as("smoothed")),
        "pair_id", "smoothed", Threshold, MinLen))
    }
    val ranged = tr.span("islands", "time_ranges") {
      val segs = segments.filter(inBatch)
        .withColumn("m", explode(sequence(lit(0), lit(Models - 1))))
        .select((vidOf * Models + $"m").as("seg_pair_id"),
          $"seg_start_word", $"seg_end_word", $"seg_start", $"seg_duration")
      val isl = found.withColumn("word_start", $"start_idx" + 1)
        .withColumn("word_end", $"end_idx" + NGram)
      materialize(Islands.timeRanges(isl, segs, "pair_id", PadSec)
        .join(scored, "pair_id")
        .select(Island.columns.init.map {
          case "avg_score" => (expr("aggregate(slice(score, start_idx + 1, end_idx - start_idx + 1), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)") / ($"end_idx" - $"start_idx" + 1)).as("avg_score")
          case c => col(c)
        } :+ concat(lit("s"), ($"vid_id" % 4).cast("string")).as(Island.PartitionCol): _*)
        // a batch has a few dozen islands: one task, one file per shard
        .coalesce(1))
    }
    val before = ManifestLake.latestSnapshot(lake).get
    val snap = tr.span("core", "append") {
      ManifestLake.appendBatch(s, lake, ranged, Island.PartitionCol, "score-islands", i.toLong,
        statsCols = Island.StatsCols, bloomCols = Island.BloomCols)
    }
    Seq(ranged, found, scored).foreach(_.unpersist(blocking = true))
    val added = snap.files.filterNot(before.files.toSet)
    val rows = added.map(snap.rows.getOrElse(_, 0L)).sum.toDouble
    val commits = (snap.version - before.version).toDouble
    val pairs = (BatchVideos * Models).toDouble
    Op(pairs, rows, counts = () => Map(
      "pairs" -> pairs, "rows" -> rows, "commits" -> commits,
      "files_added" -> added.length.toDouble,
      "bytes_written" -> added.flatMap(snap.sizes.get).map(_.bytes).sum.toDouble,
      "live_bytes" -> snap.files.flatMap(snap.sizes.get).map(_.bytes).sum.toDouble,
      "live_rows" -> snap.files.flatMap(snap.netRows).sum.toDouble,
      "tokens" -> (tokens.value - tok0).toDouble,
      "tokenize_s" -> (tokenNanos.value - ns0) / 1e9))
  }

  def layerMetrics(window: Seq[Map[String, Double]], traced: Seq[Map[String, Double]]): Map[String, Double] = {
    def sumOf(xs: Seq[Map[String, Double]], k: String) = xs.map(_.getOrElse(k, 0.0)).sum
    val wn = window.length.toDouble
    Map(
      "text.tokenize_s" -> sumOf(traced, "tokenize_s") / traced.length,
      "text.tokens" -> sumOf(window, "tokens") / wn,
      // NgramLm.items yields one (word, context) item per token
      "score.items" -> sumOf(window, "tokens") / wn,
      "score.broadcast_bytes" -> broadcastBytes.toDouble,
      "islands.rows_per_pair" -> sumOf(window, "rows") / sumOf(window, "pairs"),
      "core.commits" -> sumOf(window, "commits") / wn,
      "core.files_added" -> sumOf(window, "files_added") / wn,
      "core.bytes_written_per_row" -> sumOf(window, "bytes_written") / sumOf(window, "rows"),
      "core.live_bytes_per_row" -> window.last("live_bytes") / window.last("live_rows"))
  }

  // ---- correctness: scalar ports of the pipeline on sampled pairs

  /** Expected islands of one pair, from NgramLm's MLE model, the scalar
    * smoothing and island ports, and the reference's time-range rule. */
  private def expectedPair(vid: Long, p: Int, m: Int): Vector[Island] = {
    val v = pool(p)
    val scores = NgramLm.items(Treebank.tokenize(v.text)).map { case (w, c) => loaded(m).score(w, c) }.toArray
    val smoothed = IslandMath.smooth(scores, kernel, KernelSize)
    IslandMath.findIslands(smoothed, Threshold, MinLen).toVector.flatMap { case (st, en) =>
      val (ws, we) = IslandMath.wordRange(st, en, NGram)
      val over = v.segs.filter(sg => sg.endWord >= ws && sg.startWord <= we)
      if (over.isEmpty) None
      else {
        val last = over.maxBy(_.startSec)
        Some(Island(vid * Models + m, vid, keys(m), st, en,
          math.max(0.0, over.map(_.startSec).min - PadSec), last.startSec + last.durSec + PadSec,
          IslandMath.averageScoreInRange(scores, st, en)))
      }
    }
  }

  private lazy val committed: Map[Long, Vector[Island]] =
    ManifestLake.read(s, lake).collect().toVector.map(Island.fromRow).groupBy(_.pairId)

  private lazy val expected: Map[Long, Vector[Island]] = batches.toSeq.flatMap { case (i, picks) =>
    val r = gen.rng(2000000L + i)
    Seq.fill(SampledPairsPerBatch) {
      val (vid, p) = picks(r.nextInt(picks.length))
      val m = r.nextInt(Models)
      (vid * Models + m) -> expectedPair(vid, p, m)
    }
  }.toMap

  private def compare(want: Map[Long, Vector[Island]]): Seq[String] =
    want.toSeq.sortBy(_._1).flatMap { case (pair, rows) =>
      val got = Island.sorted(committed.getOrElse(pair, Vector.empty))
      if (got == Island.sorted(rows)) None
      else Some(s"pair $pair: expected ${rows.length} islands ${rows.take(2)}, lake has ${got.length} ${got.take(2)}")
    }

  def verify(): Seq[String] = {
    val dups = committed.values.flatten.groupBy(x => (x.pairId, x.startIdx)).count(_._2.size > 1)
    val stray = committed.keySet.map(_ / Models / BatchVideos).filterNot(b => batches.contains(b.toInt))
    compare(expected) ++
      (if (dups > 0) Seq(s"$dups islands committed more than once") else Nil) ++
      (if (stray.nonEmpty) Seq(s"islands of batches never run: ${stray.take(3)}") else Nil)
  }

  def selfTest(): Boolean = {
    val (pair, rows) = expected.head
    val fake = Island(pair, pair / Models, keys((pair % Models).toInt), 0, MinLen, 0.0, 1.0, 0.5)
    compare(Map(pair -> (rows :+ fake))).nonEmpty
  }
}
