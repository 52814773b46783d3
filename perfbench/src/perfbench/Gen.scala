package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Zipf(s) over ranks 0 until n: rank k is drawn with weight 1/(k+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded text: words from a synthetic vocabulary with Zipf frequency,
  * in sentences with the punctuation, quotes and contractions the
  * Treebank rules split. */
final class TextGen(seed: Long, vocabSize: Int = 3000) {
  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
    "gu", "ri", "an", "el", "or", "us", "be", "co", "fi", "ha")
  private val contractions = Array("don't", "can't", "won't", "it's", "we're", "isn't",
    "they'll", "I'm", "you've", "she'd")
  val vocab: Array[String] = Array.tabulate(vocabSize) { i =>
    if (i % 37 == 5) contractions((i / 37) % contractions.length)
    else {
      val sb = new StringBuilder
      var k = i + syllables.length
      while (k > 0) { sb.append(syllables(k % syllables.length)); k /= syllables.length }
      sb.toString
    }
  }
  private val zipf = new Zipf(vocabSize, 1.05)

  def rng(stream: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + stream)

  /** About `nWords` whitespace-separated words of prose. */
  def prose(r: SplittableRandom, nWords: Int): Array[String] = {
    val out = Array.newBuilder[String]
    var n = 0
    while (n < nWords) {
      val len = 6 + r.nextInt(14)
      val quoteAt = if (r.nextInt(8) == 0) r.nextInt(len) else -1
      var j = 0
      while (j < len) {
        var w = vocab(zipf.sample(r))
        if (j == quoteAt) w = "\"" + w
        if (j == len - 1) w += (if (r.nextInt(6) == 0) "?" else ".")
        else if (r.nextInt(12) == 0) w += ","
        out += w
        j += 1
      }
      n += len
    }
    out.result()
  }
}

/** One row of the island lake: an island of one (video, model) pair. */
final case class Island(pairId: Long, vidId: Long, modelKey: String, startIdx: Int,
                        endIdx: Int, timeStart: Double, timeEnd: Double, avgScore: Double) {
  def shard: String = Island.shardOf(vidId)
  def toRow: Row = Row(pairId, vidId, modelKey, startIdx, endIdx, timeStart, timeEnd, avgScore, shard)
}

object Island {
  val schema: StructType = StructType(Seq(
    StructField("pair_id", LongType), StructField("vid_id", LongType),
    StructField("model_key", StringType), StructField("start_idx", IntegerType),
    StructField("end_idx", IntegerType), StructField("time_start_sec", DoubleType),
    StructField("time_end_sec", DoubleType), StructField("avg_score", DoubleType),
    StructField("shard", StringType)))
  val columns: Seq[String] = schema.fieldNames.toIndexedSeq
  val PartitionCol = "shard"
  val StatsCols = Seq("vid_id", "pair_id")
  val BloomCols = Seq("model_key")

  def shardOf(vid: Long): String = "s" + (vid % 4)

  def fromRow(r: Row): Island = Island(r.getAs[Long]("pair_id"), r.getAs[Long]("vid_id"),
    r.getAs[String]("model_key"), r.getAs[Int]("start_idx"), r.getAs[Int]("end_idx"),
    r.getAs[Double]("time_start_sec"), r.getAs[Double]("time_end_sec"),
    r.getAs[Double]("avg_score"))

  def df(s: SparkSession, rows: Seq[Island]): DataFrame =
    s.createDataFrame(rows.map(_.toRow).asJava, schema)

  def keys(s: SparkSession, pairIds: Seq[Long]): DataFrame = {
    import s.implicits._
    pairIds.toDF("pair_id")
  }

  /** A canonical, order-free form of a result for exact comparison. */
  def sorted(rows: Iterable[Island]): Vector[Island] =
    rows.toVector.sortBy(i => (i.pairId, i.startIdx, i.endIdx))
}
