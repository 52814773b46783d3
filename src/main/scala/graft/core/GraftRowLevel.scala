package graft.core

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Group-based (copy-on-write) row-level operations — SQL `UPDATE`,
  * `MERGE INTO`, and the heavy tail of `DELETE FROM` (subqueries,
  * untranslatable predicates) against `graft.`/dir`` tables. Spark's
  * rewrite turns the statement into ReplaceData: scan the AFFECTED
  * groups, produce their full new content (updated/merged + carried
  * rows), write it, swap. The two sides meet on this operation
  * instance:
  *
  *  - the SCAN is the table's normal manifest-pruned scan, so a
  *    statement's static WHERE conjuncts prune groups through the same
  *    stats/bloom/partition layers as any read — an `UPDATE ... WHERE
  *    doc_id BETWEEN a AND b` on a clustered lake rewrites only the
  *    overlapping files, never the lake. For join conditions (MERGE)
  *    and subquery predicates, Spark's runtime GROUP FILTER evaluates
  *    the matching rows first and pushes their key values back as a
  *    single-attribute IN ([[GraftScan.filterAttributes]] advertises
  *    the scan's most skippable column for exactly this — a
  *    multi-attribute struct IN would not translate to a source
  *    filter), which the point-lookup rules turn into file-exact
  *    pruning: a MERGE over a clustered/bloomed key rewrites only the
  *    files holding matched keys. The file set consumed by the commit
  *    is read AFTER runtime filtering ([[scannedFiles]]);
  *  - the WRITE is a real distributed DSv2 BatchWrite: each task
  *    routes rows to per-partition parquet writers (UUID names,
  *    invisible until committed — the manifest names live files), and
  *    the driver commit swaps scanned → written in one CAS via
  *    [[ManifestLake.commitReplace]], re-deriving stats and blooms so
  *    SQL DML never erodes the skipping index.
  *
  * Row-level commits are CDC-invisible, like delete/merge/compact —
  * their added files mix carried and changed rows
  * ([[ManifestLake.changedFiles]]). The Scala keyed upsert
  * ([[ManifestLake.merge]]) remains the streaming/foreachBatch
  * spelling; SQL MERGE INTO and it converge on the same
  * delta-proportional shape.
  */
private[core] final class GraftRowLevelOperation(
    table: GraftLakeTable, info: RowLevelOperationInfo)
    extends RowLevelOperation {

  /** The operation's scan — built once, read at write COMMIT time via
    * [[scannedFiles]] so the replaced set reflects any runtime (group)
    * filtering that narrowed the scan after planning: the files
    * removed must be exactly the files whose rows were read and
    * rewritten, never the wider statically-pruned set. */
  @volatile private var builtScan: GraftScan = _

  private[core] def scannedFiles: Vector[String] =
    Option(builtScan).map(_.effectiveFiles).getOrElse(Vector.empty)

  override def command(): RowLevelOperation.Command = info.command

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, scan => builtScan = scan, rowLevel = true)

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(table, GraftRowLevelOperation.this,
            winfo.schema())
      }
    }

  override def description(): String =
    s"GraftRowLevel(${info.command}, ${table.dir})"
}

/** One task's commit: the lake-relative files it wrote, plus the
  * bucket id of each single-bucket file (empty on unbucketed lakes). */
private[core] final case class GraftWriteCommit(files: Vector[String],
                                                buckets: Map[String, Int] = Map.empty)
    extends WriterCommitMessage

/** The ReplaceData batch write — see [[GraftRowLevelOperation]]. */
private[core] final class GraftReplaceBatchWrite(
    table: GraftLakeTable, op: GraftRowLevelOperation, schema: StructType)
    extends BatchWrite {

  override def createBatchWriterFactory(pinfo: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val sqlConf = spark.sessionState.conf
    val partitionCol = table.partitionCol.getOrElse(
      throw new IllegalStateException(
        s"lake ${table.dir} has no partitioned files — nothing to rewrite"))
    // the operation's row schema arrives with LOGICAL names; rewritten
    // files must carry PHYSICAL ones — at EVERY nesting level (rows
    // are positional — the rename is free). A nested-DROPPED leaf is
    // absent from the logical rows, so rewritten files clip it and
    // by-name nested reads null-fill — the same carried-value
    // contract as a top-level drop, and the CDF multiset diff
    // compares over the clipped shape. partitionCol is already
    // physical.
    val physSchema = StructType(
      schema.fields.map(f => ManifestLake.physReadField(table.snap, f)))
    val dataSchema = StructType(physSchema.fields.filterNot(_.name == partitionCol))
    // the writer-side conf ParquetFileFormat.prepareWrite assembles:
    // write-support class + catalyst schema + the format flags the
    // write support reads back
    val conf = spark.sessionState.newHadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(dataSchema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      sqlConf.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT))
    // bucketed lakes stay bucketed through SQL copy-on-write: the
    // task writer routes rows per (partition, bucket id) — the same
    // placement rule as the stager — and the commit tags the written
    // files, so an UPDATE/MERGE no longer degrades SPJ coverage
    val bucket = table.snap.declaredBucket
      .filter { case (c, _) => physSchema.fieldNames.contains(c) }
    GraftWriterFactory(table.dir, partitionCol, physSchema,
      new SerializableConfiguration(conf), bucket)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.iterator
      .map(_.asInstanceOf[GraftWriteCommit]).toVector
    val added = commits.flatMap(_.files)
    val removed = op.scannedFiles.toSet
    if (removed.nonEmpty || added.nonEmpty) {
      ManifestLake.commitReplace(SparkSession.active, table.dir, removed,
        added, op.command().toString.toLowerCase(java.util.Locale.ROOT),
        addedBuckets = commits.flatMap(_.buckets).toMap)
      ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = Paths.get(table.dir)
    messages.iterator.filter(_ != null)
      .map(_.asInstanceOf[GraftWriteCommit]).flatMap(_.files)
      .foreach(f => Files.deleteIfExists(root.resolve(f)))
  }
}

private[core] final case class GraftWriterFactory(
    dir: String, partitionCol: String, schema: StructType,
    conf: SerializableConfiguration,
    bucket: Option[(String, Int)] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir, partitionCol, schema, conf, partitionId, taskId, bucket)
}

/** Routes rows to one parquet writer per partition value (dynamic
  * partitioning inside the task), writing directly into the lake's
  * partition directories under UUID names — uncommitted files are
  * invisible to every reader (the manifest names live files) and a
  * crash's orphans age out through vacuum. */
private[core] final class GraftDataWriter(
    dir: String, partitionCol: String, schema: StructType,
    conf: SerializableConfiguration, partitionId: Int, taskId: Long,
    bucket: Option[(String, Int)] = None)
    extends DataWriter[InternalRow] {

  private val partIdx = schema.fieldIndex(partitionCol)
  private val partType = schema(partIdx).dataType
  // (schema index, type, n) of the bucket key — routes each row to a
  // per-(partition, bucket) writer with the engine-wide placement rule
  // (Murmur3HashFunction ≡ the stager's pmod(hash(col), n))
  private val bucketKey: Option[(Int, org.apache.spark.sql.types.DataType, Int)] =
    bucket.map { case (c, n) =>
      val i = schema.fieldIndex(c); (i, schema(i).dataType, n)
    }
  // ReplaceData rows carry a leading __row_operation int marker when
  // the operation requested no metadata projection (Spark's plain
  // DataWritingSparkTask hands the query rows through raw); detect the
  // one-column offset from the first row and bind past it
  private var offset: Int = -1
  private var dataProj: UnsafeProjection = _
  private def bind(row: InternalRow): Unit = {
    offset = row.numFields - schema.length
    require(offset == 0 || offset == 1,
      s"unexpected ReplaceData row width ${row.numFields} for schema " +
        s"${schema.fieldNames.mkString(",")}")
    dataProj = UnsafeProjection.create(
      schema.fields.toIndexedSeq.zipWithIndex
        .filterNot(_._1.name == partitionCol)
        .map { case (f, i) => BoundReference(i + offset, f.dataType, f.nullable) })
  }
  private val writers = mutable.Map.empty[(String, Option[Int]), ParquetOutputWriter]
  private val written = mutable.ArrayBuffer.empty[String]
  private val writtenBuckets = mutable.Map.empty[String, Int]

  private def writerFor(pdir: String, b: Option[Int]): ParquetOutputWriter =
    writers.getOrElseUpdate((pdir, b), {
      val rel = s"$pdir/${UUID.randomUUID()}-part-$partitionId-$taskId.snappy.parquet"
      val abs = Paths.get(dir).resolve(rel)
      Files.createDirectories(abs.getParent)
      written += rel
      b.foreach(writtenBuckets(rel) = _)
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft_rlw", 0), TaskType.MAP, partitionId),
        taskId.toInt)
      new ParquetOutputWriter(abs.toString,
        new TaskAttemptContextImpl(conf.value, attempt))
    })

  override def write(row: InternalRow): Unit = {
    if (offset < 0) bind(row)
    val pi = partIdx + offset
    val pval =
      if (row.isNullAt(pi)) "__HIVE_DEFAULT_PARTITION__"
      else {
        // render the EXTERNAL form, matching what Spark's partitionBy
        // writes and what GraftRead.partitionRow parses back —
        // DateType's internal Int (epoch days) must become the ISO
        // date, or the rewrite would fork 'd=19738/' beside
        // 'd=2024-01-15/' and break every later partition parse
        val rendered = partType match {
          case org.apache.spark.sql.types.DateType =>
            java.time.LocalDate.ofEpochDay(row.getInt(pi).toLong).toString
          case _ => String.valueOf(row.get(pi, partType))
        }
        ExternalCatalogUtils.escapePathName(rendered)
      }
    val b = bucketKey.map { case (i, dt, n) =>
      val bi = i + offset
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(if (row.isNullAt(bi)) null else row.get(bi, dt), dt, 42L).toInt
      ((h % n) + n) % n
    }
    writerFor(s"$partitionCol=$pval", b).write(dataProj(row))
  }

  override def commit(): WriterCommitMessage = {
    writers.valuesIterator.foreach(_.close())
    GraftWriteCommit(written.toVector, writtenBuckets.toMap)
  }

  override def abort(): Unit = {
    writers.valuesIterator.foreach { w =>
      try w.close() catch { case _: Throwable => () }
    }
    val root = Paths.get(dir)
    written.foreach(f => Files.deleteIfExists(root.resolve(f)))
  }

  override def close(): Unit = ()
}
