package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession, Dataset => ClassicDataset}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitioningUtils, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** The `private[sql]` bridges this engine needs, isolated in their own
  * package so the dependency is explicit and auditable.
  *
  * A V1 streaming `Sink.addBatch` receives a Dataset wrapping the
  * micro-batch's ALREADY-PLANNED `IncrementalExecution`. Calling any
  * write action on that Dataset re-plans the logical tree through a
  * fresh `QueryExecution` — re-executing the batch (double-reading
  * rate-limited sources) and, for stateful plans, planning stateful
  * operators WITHOUT the incremental state-store wiring. The supported
  * escape (the same one Delta's sink uses) is to lift the planned
  * physical rows into a fresh batch DataFrame:
  * `SparkSession.internalCreateDataFrame(queryExecution.toRdd, schema)`
  * — which is `private[sql]`, hence this bridge.
  */
object GraftSqlBridge {
  /** The micro-batch's planned rows as a plain batch DataFrame (the
    * incremental execution runs exactly once, when the returned frame's
    * first action fires). */
  def plannedBatchFrame(data: Dataset[Row]): DataFrame = {
    val classic = data.asInstanceOf[ClassicDataset[Row]]
    val rows: RDD[InternalRow] = classic.queryExecution.toRdd
    classic.sparkSession.internalCreateDataFrame(rows, data.schema, isStreaming = false)
  }

  /** A Catalyst expression as a Column, and back — the classic
    * conversions are `private[sql]` in Spark 4. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Write `df` as parquet under `outputPath`, partitioned into
    * `partitionCols` directories, in ONE Spark job — the shape of
    * `df.write.partitionBy(..).options(..).parquet(outputPath)`, but
    * through `FileFormatWriter` directly so the caller's
    * [[WriteJobStatsTracker]]s see every row as it is written (Delta's
    * `TransactionalWrite` + `DeltaJobStatisticsTracker` pattern).
    * Empty-string partition values become null (the
    * `__HIVE_DEFAULT_PARTITION__` directory), as in the writer API.
    * Runs as a named SQL execution, so `Observation`s on `df` and
    * session QueryExecutionListeners fire as they do for `df.write`. */
  def writeParquet(spark: SparkSession, df: DataFrame, outputPath: String,
                   partitionCols: Seq[String], options: Map[String, String],
                   trackers: Seq[WriteJobStatsTracker]): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    import org.apache.spark.sql.types.StringType
    val classic = spark.asInstanceOf[ClassicSession]
    val nulled = partitionCols.foldLeft(df) { (d, c) =>
      val ref = col("`" + c.replace("`", "``") + "`")
      if (d.schema(c).dataType != StringType) d
      else d.withColumn(c, when(ref === "", lit(null)).otherwise(ref))
    }
    val qe = nulled.asInstanceOf[ClassicDataset[Row]].queryExecution
    val output = qe.analyzed.output
    val partAttrs = partitionCols.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column '$c' not in ${output.map(_.name)}")))
    val committer = FileCommitProtocol.instantiate(
      classic.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, outputPath, false)
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      FileFormatWriter.write(classic, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, output),
        classic.sessionState.newHadoopConfWithOptions(options), partAttrs,
        None, trackers, options)
    }
    ()
  }

  /** One already-statted lake data file: absolute filesystem path, byte
    * length, and modification time (epoch millis). */
  final case class LakeFile(absPath: String, size: Long, mtime: Long)

  /** A parquet scan over an EXPLICIT file set planned from the lake
    * manifest — the Delta/Iceberg "the log is the file index" design
    * (optimization guide §6: manifest metadata avoids directory listing
    * altogether). `spark.read.parquet(files: _*)` builds an
    * `InMemoryFileIndex` that re-lists/stats every path at plan time —
    * a DISTRIBUTED listing job once the path count crosses
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32), per
    * read, for paths the manifest already enumerates. This hands Spark
    * a [[FileIndex]] whose listing IS the manifest's file set (statted
    * once by the caller through its bounded metadata pool), keeping the
    * scan on the plain parquet `FileFormat` path so `input_file_name`,
    * `_metadata.file_path`, committed-schema null-fill and partition-
    * value restoration behave exactly as the listing-based read did.
    *
    * `partitionColumn` + per-group raw directory values reproduce
    * `basePath`-style partition restoration: values are unescaped and
    * cast with Spark's own `PartitioningUtils.castPartValueToDesiredType`
    * (null for `__HIVE_DEFAULT_PARTITION__`), and partition-column
    * filters still prune at the index through an interpreted predicate
    * — the same contract `PartitioningAwareFileIndex.prunePartitions`
    * implements. Pass `partitionColumn = None` for a raw data-schema
    * read of the named files (no partition restoration — the compaction
    * rewrite shape). */
  def manifestParquetFrame(
      spark: SparkSession,
      rootPath: String,
      partitionColumn: Option[StructField],
      dataSchema: StructType,
      groups: Seq[(String, Seq[LakeFile])]): DataFrame = {
    val classic = spark.asInstanceOf[ClassicSession]
    val zone = java.time.ZoneId.of(classic.sessionState.conf.sessionLocalTimeZone)
    // file-source reads force the user-specified schema NULLABLE
    // (`DataSource` does the same for `spark.read.schema(...)`) — a
    // committed non-nullable field must not change resolution or make
    // the reader reject files that null-fill it
    val dataSchemaN = dataSchema.asNullable
    val partSchema = StructType(partitionColumn.toSeq).asNullable
    val dirs: Array[(InternalRow, Array[FileStatus])] = groups.iterator.map {
      case (raw, files) =>
        val row = partitionColumn match {
          case None => InternalRow.empty
          case Some(f) =>
            val v =
              if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
              else PartitioningUtils.castPartValueToDesiredType(
                f.dataType, ExternalCatalogUtils.unescapePathName(raw), zone)
            InternalRow(v)
        }
        val sts = files.iterator.map(m =>
          new FileStatus(m.size, false, 1, 33554432L, m.mtime,
            new Path("file", null, m.absPath))).toArray
        (row, sts)
    }.toArray
    val index = new GraftManifestFileIndex(new Path(rootPath), partSchema, dirs)
    val rel = HadoopFsRelation(index, partSchema, dataSchemaN, None,
      new ParquetFileFormat, Map.empty[String, String])(classic)
    ClassicDataset.ofRows(classic, LogicalRelation(rel, isStreaming = false))
  }
}

/** Manifest-fed [[FileIndex]]: listing is a pre-built in-memory array,
  * so plan time costs zero filesystem calls. Partition pruning mirrors
  * `PartitioningAwareFileIndex.prunePartitions` (bound interpreted
  * predicate over each directory's partition values). */
final class GraftManifestFileIndex(
    root: Path,
    partSchema: StructType,
    dirs: Array[(InternalRow, Array[FileStatus])]) extends FileIndex {
  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = partSchema
  override val sizeInBytes: Long =
    dirs.iterator.flatMap(_._2.iterator.map(_.getLen)).sum
  override def inputFiles: Array[String] =
    dirs.flatMap(_._2.map(_.getPath.toString))
  override def refresh(): Unit = ()
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (partSchema.isEmpty || partitionFilters.isEmpty) dirs.toSeq
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partSchema.indexWhere(_.name == a.name)
              require(i >= 0, s"partition filter references unknown column ${a.name}")
              BoundReference(i, partSchema(i).dataType, nullable = true)
          })
        dirs.toSeq.filter { case (row, _) => bound.eval(row) }
      }
    kept.map { case (row, fs) => PartitionDirectory(row, fs) }
  }
}
