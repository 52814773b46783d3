package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The change data feed's one read path. [[ManifestLake.readChangeFeed]]
  * is a load of the batch face below, and the view maintainers tail the
  * streaming face:
  *
  *   - batch: `spark.read.format("graft").option("readChangeFeed","true")
  *     .option("startingVersion", f).option("endingVersion", t)` — the
  *     same window options as the plain CDC read, widened schema;
  *   - stream: `spark.readStream.format("graft")
  *     .option("readChangeFeed","true")` — offsets are manifest
  *     versions (exactly the plain stream's), each micro-batch emits
  *     its window's row-level changes. A copy-on-write mutation on a
  *     lake WITHOUT `enableChangeDataFeed` FAILS the stream by
  *     construction (no row-level record exists) — the strict
  *     complement of the plain stream's silent-skip contract; with the
  *     property set, COW DML writes `_cdf/` sidecars at commit time
  *     and the feed serves them like any other leg.
  *
  * Planning is change-proportional: insert/postimage legs read only
  * the files their commit added; delete/preimage legs pack only the
  * files whose DV changed, each split shipping its files' commit and
  * parent sidecar PATHS (readers load the delete-proportional varint
  * blobs and keep positions in the diff). Nothing scales with the
  * lake. Splits and readers come from [[GraftRead]], the planner the
  * plain scan uses.
  *
  * Column mapping: the feed serves the window-end LOGICAL schema
  * (renamed columns under their logical names, dropped columns hidden,
  * nested drops clipped); the parquet readers request each logical
  * field under its physical name, exactly as [[GraftScan]] does. */
private[core] object GraftCdf {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"
  /** Leg-type sentinel for commit-time change sidecars (`_cdf/`
    * files): their `_change_type` is STORED per row, not a leg-wide
    * constant, and their partition column is a plain data column. */
  val CdcLegType = "__cdc_sidecar"

  def cdfSchema(lake: StructType): StructType =
    StructType(lake.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitVersionCol, LongType, nullable = false) :+
      // nullable: pre-`#ts:` manifests have no commit wall time
      StructField(CommitTimestampCol, TimestampType, nullable = true))

  /** (changeType, files, curDv, prevDv) legs of one commit: WHAT
    * changed, the one dispatch the batch and streaming feeds plan
    * their splits from. */
  private[core] def legsOf(dir: String, v: Long,
                           prev: ManifestLake.Snapshot,
                           cur: ManifestLake.Snapshot)
      : Seq[(String, Vector[String], Map[String, (String, Option[String])])] = {
    def dvDiff: Map[String, (String, Option[String])] =
      cur.dvs.iterator.flatMap { case (f, d) =>
        if (prev.dvs.get(f).contains(d)) None
        else Some(f -> (d.path, prev.dvs.get(f).map(_.path)))
      }.toMap
    cur.op match {
      case "compact" | "rebucket" => Nil
      case "delete-dv" =>
        val diff = dvDiff
        if (diff.isEmpty) Nil
        else Seq(("delete", diff.keys.toVector.sorted, diff))
      case "update-dv" =>
        val diff = dvDiff
        val added = cur.files.filterNot(prev.files.toSet)
        (if (diff.isEmpty) Nil
         else Seq(("update_preimage", diff.keys.toVector.sorted, diff))) ++
          (if (added.isEmpty) Nil
           else Seq(("update_postimage", added, Map.empty[String, (String, Option[String])])))
      case "delete" | "update" | "merge" | "restore" if cur.cdfEnabled =>
        // a CDF-enabled lake's copy-on-write DML — and its RESTORE
        // (whose change record is the snapshot multiset diff) — wrote
        // its change record as `_cdf/` sidecars in the same commit:
        // serve those (the change type is STORED per row — the
        // sentinel leg type tells readers to take it from the file,
        // not a constant). No sidecars = the commit changed no row
        // (e.g. an assignment that left every image bit-identical, or
        // a content-identical restore) — an empty leg, exactly
        if (cur.cdfFiles.isEmpty) Nil
        else Seq((CdcLegType, cur.cdfFiles, Map.empty[String, (String, Option[String])]))
      case "delete" | "update" | "merge" | "restore" =>
        throw new IllegalStateException(
          s"change feed over $dir hit a copy-on-write '${cur.op}' commit at " +
            s"v$v, which records no row-level change — declare " +
            "write.delete.mode=merge-on-read / use the DV DML, or set " +
            "enableChangeDataFeed=true BEFORE mutating so copy-on-write " +
            "DML (and restore) writes commit-time change sidecars, or " +
            "diff snapshots")
      case "replace-keys" =>
        // the keyed REPLACE ([[ManifestLake.replaceKeysBatch]], the
        // aggregate-view maintainer's single-CAS primitive): its DV
        // additions retract the replaced rows, its appended files carry
        // their successors. Falling through to the append default would
        // serve the inserts and silently DROP the retractions — a CDF
        // consumer chained on a maintained view would see new group
        // rows appear while the rows they replaced never leave.
        val diff = dvDiff
        val added = cur.files.filterNot(prev.files.toSet)
        (if (diff.isEmpty) Nil
         else Seq(("delete", diff.keys.toVector.sorted, diff))) ++
          (if (added.isEmpty) Nil
           else Seq(("insert", added,
             Map.empty[String, (String, Option[String])])))
      case _ => // append / batch / create / addcols / setprops
        val added = cur.files.filterNot(
          (if (v == 1) Set.empty[String] else prev.files.toSet))
        if (added.isEmpty) Nil
        else Seq(("insert", added, Map.empty[String, (String, Option[String])]))
    }
  }
}

/** One CDF split: a leg's files plus its constant columns. A position
  * leg (delete/preimage) packs many DV'd files per split, each carrying
  * its own (cur, prevOrNull) sidecar pair in `dvByRel`, keyed by the
  * file's lake-relative path; every other leg has an empty map. Packing
  * keeps a MoR delete that touches every file of a small-file lake from
  * planning one task per file (the r17 q184 census: 242-task scan
  * stages over KB windows). `tsMicros` is the commit's wall time (null
  * on pre-`#ts:` manifests); a [[GraftCdf.CdcLegType]] split reads
  * commit-time change sidecars, whose change type is stored per row. */
private[core] final class CdfFilePartition(
    idx: Int, fs: Array[PartitionedFile],
    val changeType: String, val commitVersion: Long,
    val tsMicros: java.lang.Long,
    val dvByRel: Map[String, (String, String)])
    extends FilePartition(idx, fs)

private[core] final case class GraftCdfTable(dir: String,
                                             window: Option[(Long, Long)])
    extends Table with SupportsRead {
  // a batch window binds the WINDOW-END snapshot: its schema and
  // column mapping govern the whole window (a post-window ADD COLUMNS
  // must not leak into an older window's feed); streams bind latest,
  // their windows only ever extend forward from it
  private[core] val snap: ManifestLake.Snapshot = window match {
    case Some((_, to)) => ManifestLake.snapshotAt(dir, to).getOrElse(
      throw new IllegalStateException(
        s"manifest v$to of $dir is missing (retired by vacuum?) — " +
          "the change feed must run inside the retention window"))
    case None => ManifestLake.latestSnapshot(dir).getOrElse(
      throw new IllegalStateException(s"no committed manifest in $dir"))
  }
  /** The committed PHYSICAL schema — what the files carry. */
  private[core] val lakeSchema: StructType =
    snap.schema.getOrElse(throw new IllegalStateException(
      s"lake $dir has no committed schema — the change feed requires one"))
  /** The user-facing columns the feed serves, in committed order. */
  private[core] val logicalSchema: StructType = snap.logicalSchema.get
  private[core] val partitionCol: Option[String] =
    snap.files.headOption.map(_.takeWhile(_ != '='))
      .filter(lakeSchema.fieldNames.contains)
      .orElse(snap.declaredPartitionCol)

  override def name(): String = s"graft-cdf:$dir"
  override val schema: StructType = GraftCdf.cdfSchema(logicalSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // same backfill bound as the plain stream: without it a CDF stream
    // started against an existing lake replays the WHOLE change
    // history as one micro-batch
    val maxV = Option(options.get("maxVersionsPerTrigger")).map { raw =>
      val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"maxVersionsPerTrigger must be a positive integer, got '$raw'"))
      require(v > 0, s"maxVersionsPerTrigger must be positive, got $v"); v
    }
    // same fresh-start contract as the plain stream: absent = full
    // change-history backfill; 'latest' = only commits after the query
    // starts; a number v = changes from version v on
    val start = Option(options.get("streamStartingVersion")).map {
      case "latest" => StreamStart.Latest
      case raw =>
        val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"streamStartingVersion must be 'latest' or a version ≥ 1, got '$raw'"))
        require(v >= 1, s"streamStartingVersion must be ≥ 1, got $v")
        StreamStart.At(v)
    }
    () => GraftCdfScan(this, maxV, start)
  }
}

private[graft] final case class GraftCdfScan(table: GraftCdfTable,
    maxVersionsPerTrigger: Option[Long] = None,
    streamStartingVersion: Option[StreamStart] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = table.schema
  override def description(): String =
    s"GraftChangeFeed ${table.dir} window=${table.window.getOrElse("stream")}"

  override def toBatch: Batch = {
    require(table.window.isDefined,
      "a batch change feed needs BOTH startingVersion and endingVersion " +
        "(streaming reads tail instead)")
    this
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val (from, to) = table.window.get
    planWindow(from, to)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCdfMicroBatchStream(this)

  private def partitionFields: Array[StructField] =
    table.partitionCol.toArray.flatMap(c => table.lakeSchema.fields.find(_.name == c))

  /** The window's change-proportional splits ([[GraftRead.toSplits]]):
    * bin-packed splits for every leg; a position leg's splits also
    * carry their files' sidecar pairs. */
  private[core] def planWindow(from: Long, to: Long): Array[InputPartition] = {
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    def snapAt(v: Long): ManifestLake.Snapshot =
      ManifestLake.snapshotAt(table.dir, v).getOrElse(
        throw new IllegalStateException(
          s"manifest v$v of ${table.dir} is missing (retired by vacuum?) — " +
            "the change feed must run inside the retention window"))
    val partField = partitionFields.headOption
    var idx = -1
    def nextIdx(): Int = { idx += 1; idx }
    // carry cur → prev so each version's manifest resolves ONCE per
    // window, not twice (chains re-resolve per parse)
    var prev: ManifestLake.Snapshot =
      if (from == 0) ManifestLake.Snapshot(0L, Vector.empty) else snapAt(from)
    ((from + 1) to to).toArray.flatMap { v =>
      val cur = snapAt(v)
      val legsPrev = prev
      prev = cur
      val ts: java.lang.Long =
        cur.tsMillis.map(m => java.lang.Long.valueOf(m * 1000L)).orNull
      // size/mtime from the window's manifests
      val legSizes = legsPrev.sizes ++ cur.sizes
      GraftCdf.legsOf(table.dir, v, legsPrev, cur).flatMap { case (changeType, files, dvs) =>
        GraftRead.toSplits(spark, files.map { rel =>
          // change sidecars are unpartitioned (their partition column
          // is a plain data column) — no directory value to decode
          val field = if (rel.startsWith(ManifestLake.CdfDir + "/")) None else partField
          GraftRead.partitionedFile(table.dir, rel, legSizes,
            GraftRead.partitionRow(rel, field))
        }).map { fp =>
          val m = if (dvs.isEmpty) Map.empty[String, (String, String)]
                  else fp.files.map { pf =>
                    val rel = ManifestLake.relFromUri(pf.filePath.toString)
                    val (curDv, prevDv) = dvs(rel)
                    rel -> (curDv, prevDv.orNull)
                  }.toMap
          new CdfFilePartition(nextIdx(), fp.files, changeType, v, ts, m)
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    val snap = table.snap
    val partLogical = table.partitionCol.map(snap.logicalName)
    val (partFields, dataFields) =
      table.logicalSchema.fields.partition(f => partLogical.contains(f.name))
    // the parquet layer requests PHYSICAL names at every nesting level
    // (rows are positional, so the rename is free; a dropped column is
    // never requested, a nested drop is clipped)
    def physical(fs: Array[StructField]): StructType =
      StructType(fs.map(ManifestLake.physReadField(snap, _)))
    val part = physical(partFields)
    val data = physical(dataFields)
    val withIdx = StructType(data.fields :+ GraftRead.RowIndexField)
    // what the files carry: the committed schema minus the partition
    // column (evolution-era files null-fill)
    val fileSchema = StructType(
      table.lakeSchema.fields.filterNot(f => table.partitionCol.contains(f.name)))
    // commit-time change sidecars: unpartitioned, full lake columns as
    // data plus the STORED change type — a third factory with no
    // partition schema (the data legs' factories would interleave the
    // partition fields this leg doesn't have)
    val changeType = StructField(GraftCdf.ChangeTypeCol, StringType, nullable = false)
    new CdfReaderFactory(
      plain = GraftRead.parquetFactory(spark, fileSchema, data, part, Array.empty),
      withIdx = GraftRead.parquetFactory(spark, fileSchema, withIdx, part, Array.empty),
      cdc = GraftRead.parquetFactory(spark, StructType(table.lakeSchema.fields :+ changeType),
        StructType(physical(table.logicalSchema.fields).fields :+ changeType),
        StructType(Nil), Array.empty),
      lakeDir = table.dir,
      conf = GraftRead.sidecarConf(spark),
      // the columns each factory emits (requested ++ part), under the
      // output's logical names
      plainLayout = (dataFields ++ partFields).map(_.name),
      idxLayout = (dataFields.map(_.name) :+ GraftRead.RowIndexField.name) ++
        partFields.map(_.name),
      cdcLayout = table.logicalSchema.fieldNames :+ GraftCdf.ChangeTypeCol,
      idxPos = dataFields.length,
      out = readSchema())
  }
}

/** Wraps the stock parquet readers: appends the leg's constant
  * `_change_type`/`_commit_version`/`_commit_timestamp` columns and
  * permutes into the output order. Position legs read through
  * [[DvChainReader]], keeping exactly the rows whose file-absolute
  * index is in their file's sidecar DIFF (in cur, not in prev), the
  * delete-proportional blobs loaded once per file.
  * [[GraftCdf.CdcLegType]] splits read `_cdf/` change sidecars through
  * the `cdc` factory instead: their change type is a STORED column
  * (taken from the file, not the constants). */
private[core] final class CdfReaderFactory(
    plain: PartitionReaderFactory, withIdx: PartitionReaderFactory,
    cdc: PartitionReaderFactory,
    lakeDir: String,
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    plainLayout: Array[String], idxLayout: Array[String],
    cdcLayout: Array[String], idxPos: Int,
    out: StructType)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  /** Binds each output column to its position in `layout`, the row a
    * factory emits (named as the output is): joined row = that row
    * then [changeType, commitVersion, commitTimestamp]; a layout that
    * CARRIES the change type (cdc sidecars) binds it from the file
    * instead of the constant. */
  private def projection(layout: Array[String]): UnsafeProjection = {
    val n = layout.length
    UnsafeProjection.create(out.fields.map { f =>
      val i = layout.indexOf(f.name) match {
        case -1 => f.name match {
          case GraftCdf.ChangeTypeCol      => n
          case GraftCdf.CommitVersionCol   => n + 1
          case GraftCdf.CommitTimestampCol => n + 2
        }
        case at => at
      }
      BoundReference(i, f.dataType, f.nullable)
    }.toIndexedSeq)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val c = partition.asInstanceOf[CdfFilePartition]
    val consts = new GenericInternalRow(Array[Any](
      UTF8String.fromString(c.changeType), c.commitVersion,
      if (c.tsMicros == null) null else c.tsMicros.longValue()))
    val joined = new JoinedRow
    if (c.dvByRel.nonEmpty) {
      val proj = projection(idxLayout) // idx never referenced by `out`
      new DvChainReader(c, withIdx, idxPos, pf => {
        val (dvCur, dvPrev) = c.dvByRel(ManifestLake.relFromUri(pf.filePath.toString))
        val cur = DvStore.read(lakeDir, dvCur, conf.value.value)
        val prev = if (dvPrev == null) Array.empty[Long]
                   else DvStore.read(lakeDir, dvPrev, conf.value.value)
        i => DvStore.contains(cur, i) && !DvStore.contains(prev, i)
      }, r => proj(joined(r, consts)))
    } else {
      val (inner, proj) =
        if (c.changeType == GraftCdf.CdcLegType)
          (cdc.createReader(partition), projection(cdcLayout))
        else (plain.createReader(partition), projection(plainLayout))
      new PartitionReader[InternalRow] {
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = proj(joined(inner.get(), consts))
        override def close(): Unit = inner.close()
      }
    }
  }
}

/** The change feed as an unbounded stream: offsets are manifest
  * versions (the plain lake stream's contract exactly), each
  * micro-batch plans its window's change-proportional splits. A COW
  * mutation fails the stream by construction — strict consumers get
  * [[GraftMicroBatchStream]]'s `skipChangeCommits=false` semantics
  * with row-level deletes instead of just an error. */
private[core] final class GraftCdfMicroBatchStream(scan: GraftCdfScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def dir = scan.table.dir
  private final case class V(v: Long) extends Offset {
    override def json: String = v.toString
  }

  /** `Trigger.AvailableNow`: drain the changes committed as of query
    * start in `maxVersionsPerTrigger`-bounded windows, then stop — the
    * target version pins here once, as in [[GraftMicroBatchStream]]. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(ManifestLake.latestSnapshot(dir).map(_.version).getOrElse(0L))
  override def initialOffset(): Offset = scan.streamStartingVersion match {
    case None => V(0L)
    case Some(StreamStart.Latest) =>
      V(ManifestLake.latestSnapshot(dir).map(_.version).getOrElse(0L))
    case Some(StreamStart.At(v)) => V(v - 1)
  }
  override def latestOffset(): Offset = {
    val actual = ManifestLake.latestSnapshot(dir).map(_.version).getOrElse(0L)
    V(availableNowCap.fold(actual)(math.min(actual, _)))
  }
  override def deserializeOffset(json: String): Offset = V(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def reportLatestOffset(): Offset = latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s0 = start.asInstanceOf[V].v
    val latest = math.max(s0, latestOffset().asInstanceOf[V].v)
    scan.maxVersionsPerTrigger match {
      case None       => V(latest)
      case Some(maxV) => V(math.min(latest, s0 + maxV))
    }
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[V].v
    val e0 = end.asInstanceOf[V].v
    if (s0 >= e0) Array.empty else scan.planWindow(s0, e0)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
