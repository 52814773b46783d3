package graft.islands

import graft.SparkSpec

/** Per-row islands vs the exact scalar ports and the relational
  * gaps-and-islands window form, plus the FIXTURES.md §4
  * index→word→time mapping case. */
class IslandsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** The relational gaps-and-islands form (posexplode, two windows and
    * a groupBy) that `Islands.islandsFromArray` replaced — kept as an
    * independent oracle. Spark orders NaN above every double, so on a
    * NaN element it differs from the scalar scan (see the NaN test). */
  private def windowIslands(df: DataFrame, idCol: String, arrCol: String,
                            threshold: Double, minLen: Int): DataFrame = {
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), posexplode(col(arrCol)).as(Seq("pos", "v")))
      .withColumn("flag", col("v") >= threshold)
      .withColumn("boundary",
        when(lag(col("flag"), 1).over(wOrd).isNull ||
          lag(col("flag"), 1).over(wOrd) =!= col("flag"), 1).otherwise(0))
      .withColumn("seg", sum(col("boundary")).over(wRun))
      .filter(col("flag"))
      .groupBy(col(idCol), col("seg"))
      .agg(min(col("pos")).as("start_idx"), max(col("pos")).as("end_idx"))
      .filter(col("end_idx") - col("start_idx") >= minLen)
      .select(col(idCol), col("start_idx"), col("end_idx"))
  }

  private def triples(df: DataFrame): Set[(Long, Int, Int)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("relational gaps-and-islands == IslandMath.findIslands on sf0.001") {
    val df = Islands.smoothed(spark, Sf0001).select($"vec_id", $"smoothed")
    val perRow = triples(Islands
      .islandsFromArray(df, "vec_id", "smoothed", Islands.Threshold, Islands.MinLen))
    val relational = triples(
      windowIslands(df, "vec_id", "smoothed", Islands.Threshold, Islands.MinLen))
    val scalar = df.collect().flatMap { r =>
      val arr = r.getSeq[Double](1).toArray
      IslandMath.findIslands(arr, Islands.Threshold, Islands.MinLen)
        .map { case (s, e) => (r.getLong(0), s, e) }
    }.toSet
    assert(perRow.nonEmpty)
    assert(perRow == scalar)
    assert(relational == scalar)
  }

  test("islandsFromArray plans no window, explode or shuffle") {
    val df = Islands.smoothed(spark, Sf0001).select($"vec_id", $"smoothed")
    val plan = Islands.islandsFromArray(df, "vec_id", "smoothed",
      Islands.Threshold, Islands.MinLen).queryExecution.executedPlan.toString
    Seq("Window", "Exchange", "posexplode", "Aggregate").foreach(op =>
      assert(!plan.contains(op), s"$op in\n$plan"))
    assert(plan.contains("Generate"), plan)
  }

  test("a NaN run is no island per row; the window form ranks NaN above the threshold") {
    val df = Seq((1L, Seq(0.0, Double.NaN, Double.NaN, Double.NaN, Double.NaN, 0.0)),
      (2L, Seq(0.9, 0.9, Double.NaN, 0.9, 0.9, 0.9)))
      .toDF("id", "arr")
    val perRow = triples(Islands.islandsFromArray(df, "id", "arr", 0.6, 2))
    // numpy's `>=` is false on NaN: NaN ends a run, never extends one
    assert(perRow == Set((2L, 3, 5)))
    assert(perRow == Set(
      1L -> Array(0.0, Double.NaN, Double.NaN, Double.NaN, Double.NaN, 0.0),
      2L -> Array(0.9, 0.9, Double.NaN, 0.9, 0.9, 0.9)).flatMap { case (id, a) =>
        IslandMath.findIslands(a, 0.6, 2).map { case (s, e) => (id, s, e) } })
    // the old window form: Spark orders NaN above every double
    assert(triples(windowIslands(df, "id", "arr", 0.6, 2)) ==
      Set((1L, 1, 4), (2L, 0, 5)))
  }

  test("null elements split runs; null and empty arrays yield no islands") {
    val df = Seq[(Long, Option[Seq[java.lang.Double]])](
        (1L, Some(Seq[java.lang.Double](0.9, 0.9, 0.9, null, 0.9, 0.9, 0.9, 0.9))),
        (2L, Some(Seq[java.lang.Double](null, null, null))),
        (3L, Some(Seq.empty[java.lang.Double])),
        (4L, None))
      .toDF("id", "arr")
    val perRow = triples(Islands.islandsFromArray(df, "id", "arr", 0.6, 2))
    assert(perRow == Set((1L, 0, 2), (1L, 4, 7)))
    assert(triples(windowIslands(df, "id", "arr", 0.6, 2)) == perRow)
  }

  test("islandsFromArray takes a float array and keeps its output columns") {
    val df = Seq((7L, Seq(0.1f, 0.7f, 0.8f, 0.9f, 0.1f))).toDF("k", "a")
    val out = Islands.islandsFromArray(df, "k", "a", 0.6, 2)
    assert(out.columns.toSeq == Seq("k", "start_idx", "end_idx"))
    assert(triples(out) == Set((7L, 1, 3)))
  }

  test("find_islands SQL generator == relational form on sf0.001") {
    graft.expr.FindIslandsGenerator.register(spark)
    Islands.smoothed(spark, Sf0001).select($"vec_id", $"smoothed")
      .createOrReplaceTempView("sm_gen_test")
    val viaSql = spark.sql(
      s"""SELECT vec_id, i.start_idx, i.end_idx
          FROM sm_gen_test LATERAL VIEW find_islands(smoothed, ${Islands.Threshold}D, ${Islands.MinLen}) i""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val relational = triples(windowIslands(
      Islands.smoothed(spark, Sf0001).select($"vec_id", $"smoothed"),
      "vec_id", "smoothed", Islands.Threshold, Islands.MinLen))
    assert(viaSql.nonEmpty)
    assert(viaSql == relational)
    assert(viaSql == triples(Islands.qEmbeddingIslands(spark, Sf0001)))
  }

  test("UDF smoothing == IslandMath.smooth bit-for-bit on sf0.001") {
    val kernel = IslandMath.gaussianKernel(Islands.SmoothSize, Islands.Sigma)
    Islands.smoothed(spark, Sf0001).select($"vec", $"smoothed").collect().foreach { r =>
      val expected = IslandMath.smooth(r.getSeq[Double](0).toArray, kernel, Islands.SmoothSize)
      assert(r.getSeq[Double](1) == expected.toSeq)
    }
  }

  test("FIXTURES §4: island (2,9) n=4 over the 4-segment fixture -> (0.0, 15.5)") {
    // words [3,13]; segments (start,dur,wc,cum) per FIXTURES.md §4
    val islands = Seq((101L, 2, 9, 3, 13))
      .toDF("vid", "start_idx", "end_idx", "word_start", "word_end")
    val segments = Seq(
      (101L, 1, 2, 0.0, 2.0),   // words 1-2
      (101L, 3, 7, 2.0, 3.5),   // words 3-7
      (101L, 8, 8, 5.5, 1.0),   // word 8
      (101L, 9, 14, 6.5, 4.0))  // words 9-14
      .toDF("seg_vid", "seg_start_word", "seg_end_word", "seg_start", "seg_duration")
    val out = Islands.timeRanges(islands, segments, "vid", 5.0).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Double]("time_start_sec") == 0.0) // max(0, 2.0 - 5)
    assert(r.getAs[Double]("time_end_sec") == 15.5)  // 6.5 + 4.0 + 5
  }

  test("time range uses LAST overlapping segment end, not max end") {
    // second segment starts later but ends earlier — reference takes the
    // later-starting segment's end (build_islands_from_scores.py:158-160)
    val islands = Seq((1L, 0, 9, 1, 13))
      .toDF("vid", "start_idx", "end_idx", "word_start", "word_end")
    val segments = Seq(
      (1L, 1, 7, 0.0, 100.0),  // ends at 100
      (1L, 8, 14, 10.0, 5.0))  // last by start, ends at 15
      .toDF("seg_vid", "seg_start_word", "seg_end_word", "seg_start", "seg_duration")
    val r = Islands.timeRanges(islands, segments, "vid", 5.0).collect().head
    assert(r.getAs[Double]("time_end_sec") == 20.0) // 10 + 5 + 5, NOT 105
  }
}
