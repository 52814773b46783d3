package graft.islands

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import graft.core.Tables
import graft.expr.FindIslandsGenerator

/** The islands pipeline (SURVEY.md §3.2) re-expressed relationally:
  * Gaussian smoothing as codegen'd higher-order array functions (W6-W7),
  * find_islands as a per-row generator (W8), score-index
  * → word range arithmetic (W9), word → time via an interval-overlap
  * range join (W10/J12), and the raw-score island average (A8).
  *
  * The driver testdata has no transcript corpus, so the `embeddings`
  * table plays the score matrix (vec_id ≡ (vid, model) pair, the 64-d
  * vector ≡ the per-word score array) and a deterministic 8×8-word
  * segment lattice plays the transcript segments. The math is exactly
  * the reference's (see IslandMath for the scalar ports + fixture
  * specs on the reference's own numbers).
  *
  * Scale notes: smoothing and island finding are per-row narrow ops
  * (no shuffle — each score array is scanned once by the
  * [[graft.expr.FindIslandsGenerator]]); the segment join is an
  * interval overlap scoped to the same vec_id — an equi-join on vec_id
  * with a range predicate, NOT a blind theta join, so it shuffles on
  * vec_id and stays linear at 100 TB.
  */
object Islands {

  val SmoothSize = 5
  val Sigma = 2.5
  val Threshold = 0.2
  val MinLen = 3
  val NGram = 4
  val PadSec = 5.0

  private val kernel: Array[Double] = IslandMath.gaussianKernel(SmoothSize, Sigma)
  private val K = kernel.length

  // Kernel literal rendered via round-trip Double.toString so the
  // oracle engine parses the identical IEEE-754 bits.
  private def duckKernel: String =
    kernel.map(d => s"CAST('$d' AS DOUBLE)").mkString("[", ", ", "]")

  private val cleanUdf = udf { emb: Seq[Float] =>
    emb.map { f =>
      val d = f.toDouble
      if (java.lang.Double.isFinite(d)) d else 0.0
    }
  }
  private val smoothUdf = udf { vec: Seq[Double] =>
    IslandMath.smooth(vec.toArray, kernel, SmoothSize).toSeq
  }

  /** embeddings → (vec_id, vec: cleaned double array, smoothed array).
    * Smoothing runs as a single-pass Scala UDF over IslandMath.smooth:
    * a pure-HOF formulation (transform + aggregate + array_max) is
    * expressible, but Catalyst's projection collapse inlines the
    * convolution expression into both the max and the normalize
    * lambda, re-evaluating the O(n·k) fold per element — ~100× slower.
    * The UDF evaluates once per row and uses the same left-to-right
    * summation order, so values are bit-identical to the SQL oracle. */
  def smoothed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("vec", cleanUdf($"embedding"))
      .withColumn("smoothed", smoothUdf($"vec"))
      .select($"vec_id", $"vec", $"smoothed")
  }

  private val duckSmoothedCte: String = {
    val zeros = List.fill(SmoothSize)("CAST(0.0 AS DOUBLE)").mkString("[", ", ", "]")
    s"""clean AS (
         SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CASE WHEN isnan(x) OR isinf(x) THEN CAST(0.0 AS DOUBLE) ELSE x END) AS vec
         FROM embeddings),
       padded AS (
         SELECT vec_id, vec,
           list_concat(list_concat($zeros, vec), $zeros) AS pad,
           $duckKernel AS kern
         FROM clean),
       convd AS (
         SELECT vec_id, vec,
           list_transform(generate_series(0, len(vec)-1), i ->
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(0, ${K - 1}), j ->
                 pad[CAST(i+j+1 AS INT)] * kern[CAST(j+1 AS INT)])),
               (acc, x) -> acc + x)) AS conv
         FROM padded),
       sm AS (
         SELECT vec_id, vec,
           CASE WHEN list_aggregate(conv, 'max') > 0
                THEN list_transform(conv, v -> v / list_aggregate(conv, 'max'))
                ELSE conv END AS smoothed
         FROM convd)"""
  }

  /** W8: the reference's run-length scan (IslandMath.findIslands,
    * above-threshold mode) evaluated once per row by the
    * [[graft.expr.FindIslandsGenerator]] — one (idCol, start_idx,
    * end_idx) row per island, no explode, window or shuffle. Generic
    * over the grouping key; any numeric array casts to array<double>.
    * A NaN or null element is never at or above the threshold, so it
    * ends a run (numpy's `>=`). */
  def islandsFromArray(df: DataFrame, idCol: String, arrCol: String,
                       threshold: Double, minLen: Int): DataFrame =
    df.select(col(idCol), GraftSqlBridge.column(FindIslandsGenerator(
      GraftSqlBridge.expression(col(arrCol).cast("array<double>")),
      Literal(threshold), Literal(minLen))))

  /** W10/J12: map 1-based word ranges to time ranges against a segment
    * table — interval-overlap join (equi on the id + range predicate),
    * then the reference's first-overlap/last-overlap pad rule
    * (build_islands_from_scores.py:145-167): start of the first
    * overlapping segment − pad clamped at 0; end of the LAST
    * overlapping segment (max_by start, not max end) + pad. */
  def timeRanges(islands: DataFrame, segments: DataFrame, idCol: String,
                 padSec: Double): DataFrame =
    islands.join(segments,
        islands(idCol) === segments(s"seg_$idCol") &&
          segments("seg_end_word") >= islands("word_start") &&
          segments("seg_start_word") <= islands("word_end"))
      .groupBy(islands(idCol), col("start_idx"), col("end_idx"),
        col("word_start"), col("word_end"))
      .agg(
        greatest(lit(0.0), min(col("seg_start")) - padSec).as("time_start_sec"),
        (max_by(col("seg_start") + col("seg_duration"), col("seg_start")) + padSec)
          .as("time_end_sec"))

  def qEmbeddingIslands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    islandsFromArray(smoothed(s, dir), "vec_id", "smoothed", Threshold, MinLen)
      .orderBy($"vec_id", $"start_idx")
  }

  def qEmbeddingIslandsSql: String =
    s"""WITH $duckSmoothedCte,
       pos AS (
         SELECT vec_id,
           unnest(generate_series(0, len(smoothed)-1)) AS pos,
           unnest(smoothed) AS v
         FROM sm),
       flagged AS (
         SELECT vec_id, pos, v >= $Threshold AS flag FROM pos),
       seg AS (
         SELECT vec_id, pos, flag,
           SUM(CASE WHEN prev IS NULL OR prev != flag THEN 1 ELSE 0 END)
             OVER (PARTITION BY vec_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         FROM (SELECT vec_id, pos, flag,
                 LAG(flag) OVER (PARTITION BY vec_id ORDER BY pos) AS prev
               FROM flagged) t)
       SELECT vec_id, MIN(pos) AS start_idx, MAX(pos) AS end_idx
       FROM seg WHERE flag GROUP BY vec_id, seg
       HAVING MAX(pos) - MIN(pos) >= $MinLen
       ORDER BY vec_id, start_idx"""

  /** The flagship end-to-end pipeline (SURVEY §7.3): smooth →
    * find_islands → word range (W9) → time range via interval-overlap
    * join against the segment lattice (W10/J12, reference semantics:
    * first-overlap start − pad clamped at 0, LAST-overlap end + pad via
    * max_by) → island average of raw scores (A8). */
  def qIslandTimeRanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val islands = qEmbeddingIslands(s, dir)
      .withColumn("word_start", $"start_idx" + 1)
      .withColumn("word_end", $"end_idx" + NGram)
    val segments = Tables.embeddings(s, dir).select($"vec_id")
      .withColumn("seg_idx", explode(expr("sequence(0, 7)")))
      .select($"vec_id".as("seg_vec_id"),
        ($"seg_idx" * 8 + 1).as("seg_start_word"),
        (($"seg_idx" + 1) * 8).as("seg_end_word"),
        ($"seg_idx" * 10.0).as("seg_start"),
        lit(10.0).as("seg_duration"))
    val vecs = smoothed(s, dir).select($"vec_id".as("raw_vec_id"), $"vec")
    timeRanges(islands, segments, "vec_id", PadSec)
      .join(vecs, $"vec_id" === $"raw_vec_id")
      .withColumn("avg_score", expr(
        "aggregate(slice(vec, start_idx + 1, end_idx - start_idx + 1), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        / ($"end_idx" - $"start_idx" + 1))
      .select($"vec_id", $"word_start", $"word_end", $"time_start_sec", $"time_end_sec",
        $"avg_score".cast(org.apache.spark.sql.types.DecimalType(12, 6)).cast("string").as("avg_score"))
      .orderBy($"vec_id", $"word_start")
  }

  def qIslandTimeRangesSql: String =
    s"""WITH $duckSmoothedCte,
       pos AS (
         SELECT vec_id,
           unnest(generate_series(0, len(smoothed)-1)) AS pos,
           unnest(smoothed) AS v
         FROM sm),
       seg AS (
         SELECT vec_id, pos, flag,
           SUM(CASE WHEN prev IS NULL OR prev != flag THEN 1 ELSE 0 END)
             OVER (PARTITION BY vec_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         FROM (SELECT vec_id, pos, v >= $Threshold AS flag,
                 LAG(v >= $Threshold) OVER (PARTITION BY vec_id ORDER BY pos) AS prev
               FROM pos) t),
       islands AS (
         SELECT vec_id, MIN(pos) AS start_idx, MAX(pos) AS end_idx,
           MIN(pos) + 1 AS word_start, MAX(pos) + $NGram AS word_end
         FROM seg WHERE flag GROUP BY vec_id, seg
         HAVING MAX(pos) - MIN(pos) >= $MinLen),
       segments AS (
         SELECT e.vec_id AS seg_vec_id,
           i * 8 + 1 AS seg_start_word, (i + 1) * 8 AS seg_end_word,
           i * 10.0 AS seg_start, 10.0 AS seg_duration
         FROM (SELECT vec_id FROM embeddings) e,
              (SELECT unnest(generate_series(0, 7)) AS i) g),
       timed AS (
         SELECT il.vec_id, il.start_idx, il.end_idx, il.word_start, il.word_end,
           GREATEST(0.0, MIN(seg_start) - $PadSec) AS time_start_sec,
           arg_max(seg_start + seg_duration, seg_start) + $PadSec AS time_end_sec
         FROM islands il JOIN segments sg
           ON il.vec_id = sg.seg_vec_id
          AND sg.seg_end_word >= il.word_start AND sg.seg_start_word <= il.word_end
         GROUP BY il.vec_id, il.start_idx, il.end_idx, il.word_start, il.word_end)
       SELECT t.vec_id, word_start, word_end, time_start_sec, time_end_sec,
         CAST(CAST(
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             c.vec[CAST(start_idx + 1 AS INT) : CAST(end_idx + 1 AS INT)]),
             (acc, x) -> acc + x) / (end_idx - start_idx + 1)
           AS DECIMAL(12,6)) AS VARCHAR) AS avg_score
       FROM timed t JOIN clean c ON c.vec_id = t.vec_id
       ORDER BY t.vec_id, word_start"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_embedding_islands" -> qEmbeddingIslands,
    "q35_island_time_ranges" -> qIslandTimeRanges)

  val oracles: Map[String, String] = Map(
    "q34_embedding_islands" -> qEmbeddingIslandsSql,
    "q35_island_time_ranges" -> qIslandTimeRangesSql)
}
