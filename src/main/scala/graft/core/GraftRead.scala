package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one split planner and parquet reader recipe behind the lake's
  * two DSv2 faces — [[GraftScan]] (SQL, time travel, streams) and
  * [[GraftCdfScan]] (the change feed). Both turn manifest-named files
  * into `PartitionedFile`s, pack them into openCost-aware splits, and
  * read them through Spark's production `ParquetPartitionReaderFactory`;
  * DV'd files and change-feed position legs additionally read through
  * [[DvChainReader]]. Keeping it in one place is what keeps the two
  * faces' splits and reader confs from drifting. */
private[core] object GraftRead {

  /** Spark's temporary row-index column: appended to a requested schema,
    * the parquet readers fill it with FILE-absolute positions
    * (page/row-group skipping and byte ranges included). Nullable
    * because the column is absent from the file — a required-but-missing
    * column fails the vectorized reader's checkColumn before row-index
    * generation even engages. */
  val RowIndexField: StructField = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)

  /** The partition-value row of lake-relative `rel`, decoded from its
    * `col=value/` directory as `field`'s type (empty row when the read
    * carries no partition column). */
  def partitionRow(rel: String, field: Option[StructField]): InternalRow = field match {
    case None => InternalRow.empty
    case Some(f) =>
      val raw = GraftLake.partitionDirValue(rel)
      val v: Any =
        if (raw == null) null
        else f.dataType match {
          case StringType  => UTF8String.fromString(raw)
          case LongType    => raw.toLong
          case IntegerType => raw.toInt
          case ShortType   => raw.toShort
          case ByteType    => raw.toByte
          case BooleanType => raw.toBoolean
          case DoubleType  => raw.toDouble
          case FloatType   => raw.toFloat
          case DateType    => java.time.LocalDate.parse(raw).toEpochDay.toInt
          case other => throw new IllegalStateException(
            s"unsupported partition type $other on the lake's DSv2 scans")
        }
      new GenericInternalRow(Array(v))
  }

  /** A whole-file `PartitionedFile` for lake-relative `rel`, sized from
    * the manifest (zero filesystem calls — the Delta/Iceberg add.size
    * design); statted fallback, counted by
    * [[ManifestLake.planStatCalls]], only for files `sizes` lacks. */
  def partitionedFile(dir: String, rel: String,
                      sizes: Map[String, ManifestLake.FileSize],
                      row: InternalRow): PartitionedFile = {
    val p = java.nio.file.Paths.get(dir).resolve(rel)
    val (size, mtime) = sizes.get(rel) match {
      case Some(z) => (z.bytes, z.mtime)
      case None =>
        ManifestLake.planStatCalls.incrementAndGet()
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }
    new PartitionedFile(row,
      org.apache.spark.paths.SparkPath.fromPathString(p.toString),
      0L, size, Array.empty[String], mtime, size, Map.empty[String, Any])
  }

  /** Spark's bin-packing over `files`, in their given order: many small
    * lake files → a bounded task count. The total handed to
    * `maxSplitBytes` charges openCostInBytes PER FILE exactly as Spark's
    * own PartitionDirectory overload does (`_.getLen + openCostInBytes`):
    * without it, a small-file window's bytesPerCore rounds down to
    * openCost itself and the packing loop closes a split on EVERY file —
    * one task per file, which the r17 q184 stage census measured as
    * 161–242-task scan stages over KB-sized micro-batch windows.
    *
    * Files ABOVE the split size break into byte-ranged splits (Spark's
    * own splitFiles shape): the parquet reader serves each row group
    * from the range holding its midpoint, and the temporary row-index
    * column stays FILE-absolute under ranges, so DV sidecar positions
    * apply unchanged — a single large MoR-deleted file is not one task
    * until compaction. */
  def toSplits(spark: SparkSession, files: Seq[PartitionedFile]): Seq[FilePartition] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val msb = FilePartition.maxSplitBytes(spark, files.map(_.length + openCost).sum)
    val pfs = files.flatMap { pf =>
      if (pf.length <= msb) Seq(pf)
      else (0L until pf.length by msb).map { off =>
        new PartitionedFile(pf.partitionValues, pf.filePath, off,
          math.min(msb, pf.length - off), Array.empty[String],
          pf.modificationTime, pf.fileSize, Map.empty[String, Any])
      }
    }
    FilePartition.getFilePartitions(spark, pfs, msb)
  }

  /** Spark's production parquet reader factory (vectorized and row
    * paths) over the conf `ParquetScan` prepares for it: the read-support
    * class, the requested/row schemas and the type-mapping flags — same
    * entries, same values. It emits `requested ++ partSchema`. */
  def parquetFactory(spark: SparkSession, dataSchema: StructType,
                     requested: StructType, partSchema: StructType,
                     filters: Array[Filter]): ParquetPartitionReaderFactory = {
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requested.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(requested, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.getConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED))
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlConf.getConf(SQLConf.PARQUET_FIELD_ID_READ_ENABLED))
    hadoopConf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key,
      sqlConf.getConf(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID))
    ParquetPartitionReaderFactory(sqlConf,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      dataSchema, requested, partSchema, filters, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** The session's Hadoop conf, shipped to executors for sidecar reads. */
  def sidecarConf(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
}

/** Reader for a PACKED DV split (many DV'd files per split, each with
  * its own sidecars): one single-file inner reader per packed file,
  * opened in turn, so the row-index column at `idxPos` stays
  * file-absolute. `keepOf` loads a file's sidecars once and answers
  * which of its row indexes survive — "not in the sidecar" on the scan,
  * "in cur and not in prev" on a change-feed position leg; `emit` turns
  * a kept inner row into the output row. */
private[core] final class DvChainReader(
    split: FilePartition, inner: PartitionReaderFactory, idxPos: Int,
    keepOf: PartitionedFile => Long => Boolean,
    emit: InternalRow => InternalRow)
    extends PartitionReader[InternalRow] {
  private var fileIdx = 0
  private var reader: PartitionReader[InternalRow] = _
  private var keep: Long => Boolean = _
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (reader != null || fileIdx < split.files.length) {
      if (reader == null) {
        val pf = split.files(fileIdx); fileIdx += 1
        keep = keepOf(pf)
        reader = inner.createReader(new FilePartition(split.index, Array(pf)))
      }
      while (reader.next()) {
        val r = reader.get()
        if (keep(r.getLong(idxPos))) { row = emit(r); return true }
      }
      reader.close(); reader = null
    }
    false
  }
  override def get(): InternalRow = row
  override def close(): Unit = if (reader != null) reader.close()
}
