package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-probe data generator (dev harness, like [[Bench]]/[[Verify]]):
  * replicates a testdata dir's `documents` table ×FACTOR into a new
  * dir, so the artifact-building operators can be measured one scale
  * step above the largest driver-provided SF (the round-8 verdict's
  * "one scale-probe bench" ask).
  *
  * Replicas are DECORRELATED, not copied: every word in replica k>0
  * is suffixed `_k`, so each replica's SimHash/MinHash signatures are
  * independent of the original's — a naive copy would make every doc
  * a 10-way near-dup cluster and measure a pathological census, not a
  * bigger corpus. Replica doc_ids are offset by k·1e6 to stay
  * disjoint; `n_chars` is recomputed from the rewritten text. The
  * corpus-level dup/cluster DENSITY therefore matches the source SF
  * while rows, bytes, signature count, and file counts scale by
  * FACTOR — which is what the probe wants to stress (census choice,
  * banded-join candidate volume, manifest metadata cost ∝ files).
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <dstDir> <factor> [nFiles]
  *   nFiles = output files per table (default 8). The scale probe's
  *   parallelism runs need enough input SPLITS to fan out: 8 x ~2 MB
  *   files bin-pack into 1-2 scan splits at the default
  *   maxPartitionBytes, which caps every scan at ~2 tasks and makes a
  *   core-count ratio measure the layout, not the operator.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    val nFiles = args.lift(3).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val replicas = (0 until factor).map { k =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", $"doc_id" + lit(k * 1000000L))
        .withColumn("text", concat_ws(" ",
          expr(s"transform(split(trim(text), '\\\\s+'), w -> concat(w, '_$k'))")))
        .withColumn("n_chars", length($"text"))
    }
    replicas.reduce(_ unionByName _)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"SCALED documents x$factor -> $dst (rows=" +
      spark.read.parquet(s"$dst/documents.parquet").count() + ")")
    // Embeddings scale the same way: replica k>0 offsets vec_id and
    // ROTATES the vector by k positions — norm-preserving and, for
    // the fixtures' random vectors, cosine-decorrelated from the
    // original (a copied vector would be a planted exact near-dup per
    // replica). Queries (vec_id < 20) and the coarse-quantizer SEEDS
    // (the k lowest vec_ids, k = max(16, ceil(N/100)) — ≤ 2000·factor/100,
    // far below the 1e6 replica offset) stay replica-0-only by
    // construction.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embReplicas = (0 until factor).map { k =>
      if (k == 0) emb
      else emb
        .withColumn("vec_id", $"vec_id" + lit(k * 1000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> embedding[pmod(i + $k, size(embedding))])"))
    }
    embReplicas.reduce(_ unionByName _)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"SCALED embeddings x$factor -> $dst (rows=" +
      spark.read.parquet(s"$dst/embeddings.parquet").count() + ")")

    // Relational core (the q01–q26 probe family): replicate
    // customer/orders/lineitem with CONSISTENT key offsets — replica
    // k's orderkeys shift by k·10^8 and custkeys by k·10^6, applied to
    // BOTH sides of each foreign key, so every replica joins exactly
    // like the original (join fan-out, group cardinalities, and
    // selectivities all scale by FACTOR, never explode). Non-key
    // columns ride unchanged: the relational aggregates don't need
    // text decorrelation. Dimension tables (region/nation/supplier/
    // part) and events copy through unscaled — the probe queries
    // treat them as broadcast dims.
    val orderOff = 100000000L; val custOff = 1000000L
    def scaleKeyed(table: String, keyOffsets: Map[String, Long]): Unit = {
      val t = spark.read.parquet(s"$src/$table.parquet")
      val reps = (0 until factor).map { k =>
        if (k == 0) t
        else keyOffsets.foldLeft(t) { case (df, (c, off)) =>
          df.withColumn(c, col(c) + lit(k * off))
        }
      }
      reps.reduce(_ unionByName _).repartition(nFiles)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"SCALED $table x$factor -> $dst (rows=" +
        spark.read.parquet(s"$dst/$table.parquet").count() + ")")
    }
    scaleKeyed("customer", Map("c_custkey" -> custOff))
    scaleKeyed("orders", Map("o_orderkey" -> orderOff, "o_custkey" -> custOff))
    scaleKeyed("lineitem", Map("l_orderkey" -> orderOff))
    Seq("region", "nation", "supplier", "part", "events").foreach { t =>
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(from)) {
        spark.read.parquet(from.toString).write.mode("overwrite")
          .parquet(s"$dst/$t.parquet")
        println(s"COPIED $t -> $dst")
      }
    }
    spark.stop()
  }
}
