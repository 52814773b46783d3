package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Metadata tables for the SQL catalog — the Delta/Iceberg pattern of
  * a reserved suffix on the table name exposing the transaction log
  * itself as a relation (reference: the dashboard's operational
  * queries over ingest state, `server/dashboard.py:126-176`, which
  * read bookkeeping tables, not data):
  *
  * {{{
  *   SELECT * FROM graft.`/data/lake$history`   -- one row per commit
  *   SELECT * FROM graft.`/data/lake$files`     -- one row per (file, stats col)
  *   SELECT * FROM graft.`/data/lake$files` VERSION AS OF 3
  * }}}
  *
  * `$history`: (version, op, n_files, files_added, files_removed) per
  * retained manifest, ascending. added/removed diff against the
  * previous retained manifest and are NULL for the oldest one (its
  * predecessor may be vacuumed — a diff against "nothing" would lie).
  *
  * `$files`: the latest (or `VERSION AS OF`) snapshot exploded per
  * tracked stats column: (file, partition, col, min_value, max_value,
  * has_bloom). A file with no tracked columns gets one row with NULL
  * col/bounds. `partition` is the logical (unescaped) partition value;
  * bounds render as strings (numeric = plain decimal, string = the
  * value) so one schema serves any tracked column type.
  *
  * Scale: both tables materialize on the DRIVER as a [[LocalScan]] —
  * deliberately. `$history` is O(retained versions) manifest parses;
  * `$files` is rows = files × statsCols over ONE manifest parse, the
  * exact object every ordinary read of the lake already holds on the
  * driver before planning. Metadata here is manifest-sized, never
  * data-sized; no data file is opened.
  */
private[core] object GraftMetadata {
  val HistorySuffix = "$history"
  val FilesSuffix   = "$files"
  val PartitionsSuffix = "$partitions"
  val DetailSuffix  = "$detail"
  val PropertiesSuffix = "$properties"

  sealed abstract class Kind
  case object History extends Kind
  case object FilesMeta extends Kind
  case object PartitionsMeta extends Kind
  case object DetailMeta extends Kind
  case object PropertiesMeta extends Kind

  /** Split a catalog identifier name into (lake dir, metadata kind) if
    * it carries a reserved suffix. A real directory whose name ends in
    * the suffix is shadowed — the suffixes are reserved names in this
    * catalog, exactly as in Delta's `@v`/Iceberg's `.history`. */
  def parse(name: String): Option[(String, Kind)] =
    if (name.endsWith(PartitionsSuffix))
      Some((name.dropRight(PartitionsSuffix.length), PartitionsMeta))
    else if (name.endsWith(DetailSuffix))
      Some((name.dropRight(DetailSuffix.length), DetailMeta))
    else if (name.endsWith(HistorySuffix))
      Some((name.dropRight(HistorySuffix.length), History))
    else if (name.endsWith(FilesSuffix))
      Some((name.dropRight(FilesSuffix.length), FilesMeta))
    else if (name.endsWith(PropertiesSuffix))
      Some((name.dropRight(PropertiesSuffix.length), PropertiesMeta))
    else None

  /** `$properties` — `SHOW TBLPROPERTIES`: every table property of
    * the (possibly version-addressed) snapshot as (key, value) rows —
    * declared layout, write.delete.mode, enableChangeDataFeed, CHECK
    * constraints (`constraint.*`) and persisted ANALYZE stats
    * (`analyze.*`), off one manifest parse. */
  val propertiesSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  def propertiesRows(dir: String, versionAsOf: Option[Long]): Array[InternalRow] = {
    val snap = versionAsOf match {
      case Some(v) => ManifestLake.snapshotAt(dir, v).getOrElse(
        throw new IllegalStateException(
          s"version $v of $dir is gone (retired by vacuum) or never existed"))
      case None => ManifestLake.latestSnapshot(dir).getOrElse(
        throw new IllegalStateException(s"no committed manifest in $dir"))
    }
    snap.props.toArray.sortBy(_._1).map { case (k, v) =>
      InternalRow(utf8(k), utf8(v))
    }
  }

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("files_added", IntegerType, nullable = true),
    StructField("files_removed", IntegerType, nullable = true)))

  val filesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    // nullable: the null-partition directory sentinel presents as the
    // LOGICAL null here, matching what every data read of the lake
    // shows for those rows
    StructField("partition", StringType, nullable = true),
    StructField("col", StringType, nullable = true),
    StructField("min_value", StringType, nullable = true),
    StructField("max_value", StringType, nullable = true),
    StructField("has_bloom", BooleanType, nullable = false),
    // exact footer row count from the manifest's rows: segment (every
    // commit path threads it) — COUNT(*) and file-size census answer
    // from this relation alone; null only for pre-rows manifests
    StructField("rows", LongType, nullable = true),
    // hash-bucket id (manifest bucket: segment); null = the file is
    // not provably single-bucket and SPJ degrades until CALL rebucket
    StructField("bucket", IntegerType, nullable = true),
    // deletion-vector position count (manifest dv: segment); null = no
    // pending merge-on-read delete — reads emit rows - dv_rows
    StructField("dv_rows", LongType, nullable = true)))

  /** `$partitions` — Iceberg's `partitions` analogue: one row per
    * partition directory with its file census and exact row count
    * (null if any of the partition's files predates row tracking).
    * The operational "is this partition fragmented / how big is it"
    * question as one manifest parse. */
  val partitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true)))

  /** `$detail` — Delta's `DESCRIBE DETAIL` analogue: ONE row
    * summarizing the (possibly version-addressed) snapshot — layout,
    * tracking, census — off one manifest parse. The operational
    * "what IS this lake" question without reading a byte of data. */
  val detailSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("committed_at", LongType, nullable = true),
    StructField("n_files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("partition_col", StringType, nullable = true),
    StructField("bucket_col", StringType, nullable = true),
    StructField("bucket_n", IntegerType, nullable = true),
    StructField("bucket_tagged_files", IntegerType, nullable = false),
    StructField("stats_cols", StringType, nullable = true),
    StructField("bloom_cols", StringType, nullable = true),
    // pending merge-on-read deletes: files carrying a DV and the total
    // deleted positions (rows above is already NET of them)
    StructField("dv_files", IntegerType, nullable = false),
    StructField("dv_rows", LongType, nullable = false)))

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def render(b: ManifestLake.Bound): String = b match {
    case ManifestLake.Bound.Num(v) => v.bigDecimal.toPlainString
    case ManifestLake.Bound.Str(v) => v
  }

  def historyRows(dir: String): Array[InternalRow] = {
    // snapshotAt flatMapped, not .get: a vacuum racing this listing
    // may retire a manifest between versions() and the parse — such a
    // version simply drops out of the history, exactly as if the
    // listing had run a moment later. Each version reduces to
    // (version, op, file set) as it parses; stats maps and bloom
    // bitsets are never held, and only the previous file set stays
    // live for the diff.
    val vs = ManifestLake.versions(dir)
      .flatMap(v => ManifestLake.snapshotAt(dir, v)
        .map(s => (s.version, s.op, s.files.toSet)))
    require(vs.nonEmpty, s"no committed manifest in $dir")
    vs.zipWithIndex.map { case ((version, op, cur), i) =>
      val (added, removed): (Any, Any) =
        if (i == 0) (null, null)
        else {
          val prev = vs(i - 1)._3
          (Int.box((cur -- prev).size), Int.box((prev -- cur).size))
        }
      InternalRow(version, utf8(op), cur.size, added, removed)
    }.toArray
  }

  def filesRows(dir: String, versionAsOf: Option[Long]): Array[InternalRow] = {
    val snap = versionAsOf match {
      case Some(v) => ManifestLake.snapshotAt(dir, v).getOrElse(
        throw new IllegalStateException(s"manifest v$v of $dir is missing"))
      case None => ManifestLake.latestSnapshot(dir).getOrElse(
        throw new IllegalStateException(s"no committed manifest in $dir"))
    }
    snap.files.iterator.flatMap { f =>
      val partition = utf8(GraftLake.partitionDirValue(f))
      val bloomCols = snap.blooms.getOrElse(f, Vector.empty).map(_.col).toSet
      val stats = snap.stats.getOrElse(f, Vector.empty)
      val nRows: Any = snap.rows.get(f).map(Long.box).orNull
      val bucket: Any = snap.buckets.get(f).map(Int.box).orNull
      val dvRows: Any = snap.dvs.get(f).map(d => Long.box(d.count)).orNull
      if (stats.isEmpty)
        Iterator.single(InternalRow(utf8(f), partition, null, null, null,
          bloomCols.nonEmpty, nRows, bucket, dvRows))
      else stats.iterator.map(st =>
        InternalRow(utf8(f), partition, utf8(st.col),
          utf8(render(st.min)), utf8(render(st.max)), bloomCols.contains(st.col),
          nRows, bucket, dvRows))
    }.toArray
  }

  def partitionsRows(dir: String, versionAsOf: Option[Long]): Array[InternalRow] = {
    val snap = versionAsOf match {
      case Some(v) => ManifestLake.snapshotAt(dir, v).getOrElse(
        throw new IllegalStateException(s"manifest v$v of $dir is missing"))
      case None => ManifestLake.latestSnapshot(dir).getOrElse(
        throw new IllegalStateException(s"no committed manifest in $dir"))
    }
    snap.files.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (pdir, fs) =>
        val partition = utf8(GraftLake.partitionDirValue(pdir))
        // NET of deletion vectors — what a read of the partition emits
        val rows: Any =
          if (fs.forall(snap.rows.contains)) Long.box(fs.flatMap(snap.netRows).sum)
          else null
        InternalRow(partition, fs.length, rows)
      }.toArray
  }

  def detailRows(dir: String, versionAsOf: Option[Long]): Array[InternalRow] = {
    val snap = versionAsOf match {
      case Some(v) => ManifestLake.snapshotAt(dir, v).getOrElse(
        throw new IllegalStateException(s"manifest v$v of $dir is missing"))
      case None => ManifestLake.latestSnapshot(dir).getOrElse(
        throw new IllegalStateException(s"no committed manifest in $dir"))
    }
    val pc: Any = snap.files.headOption.map(_.takeWhile(_ != '='))
      .orElse(snap.declaredPartitionCol).map(utf8).orNull
    // NET of deletion vectors — matches COUNT(*) over the data table
    val rows: Any =
      if (snap.files.nonEmpty && snap.files.forall(snap.rows.contains))
        Long.box(snap.files.flatMap(snap.netRows).sum)
      else if (snap.files.isEmpty) Long.box(0L)
      else null
    def csvOrNull(cols: Iterator[String]): Any = {
      val v = cols.toSeq.distinct.sorted
      if (v.isEmpty) null else utf8(v.mkString(","))
    }
    Array(InternalRow(
      snap.version, utf8(snap.op),
      snap.tsMillis.map(Long.box).orNull,
      snap.files.length, rows,
      pc,
      snap.declaredBucket.map(b => utf8(b._1)).orNull,
      snap.declaredBucket.map(b => Int.box(b._2)).orNull,
      snap.files.count(snap.buckets.contains),
      csvOrNull(snap.stats.valuesIterator.flatten.map(_.col)),
      csvOrNull(snap.blooms.valuesIterator.flatten.map(_.col)),
      snap.dvs.size,
      snap.dvs.valuesIterator.map(_.count).sum))
  }
}

/** One resolved metadata table. Rows are computed lazily at scan build
  * (not at resolve), so `VERSION AS OF` on `$files` reads exactly one
  * manifest and a stale catalog entry can't serve a pre-commit row
  * set. */
private[core] final case class GraftMetadataTable(
    dir: String, kind: GraftMetadata.Kind, versionAsOf: Option[Long])
    extends Table with SupportsRead {

  override def name(): String = {
    val suffix = kind match {
      case GraftMetadata.History        => GraftMetadata.HistorySuffix
      case GraftMetadata.FilesMeta      => GraftMetadata.FilesSuffix
      case GraftMetadata.PartitionsMeta => GraftMetadata.PartitionsSuffix
      case GraftMetadata.DetailMeta     => GraftMetadata.DetailSuffix
      case GraftMetadata.PropertiesMeta => GraftMetadata.PropertiesSuffix
    }
    s"graft_meta_$dir$suffix"
  }

  override val schema: StructType = kind match {
    case GraftMetadata.History        => GraftMetadata.historySchema
    case GraftMetadata.FilesMeta      => GraftMetadata.filesSchema
    case GraftMetadata.PartitionsMeta => GraftMetadata.partitionsSchema
    case GraftMetadata.DetailMeta     => GraftMetadata.detailSchema
    case GraftMetadata.PropertiesMeta => GraftMetadata.propertiesSchema
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = kind match {
          case GraftMetadata.History        => GraftMetadata.historyRows(dir)
          case GraftMetadata.FilesMeta      => GraftMetadata.filesRows(dir, versionAsOf)
          case GraftMetadata.PartitionsMeta =>
            GraftMetadata.partitionsRows(dir, versionAsOf)
          case GraftMetadata.DetailMeta     =>
            GraftMetadata.detailRows(dir, versionAsOf)
          case GraftMetadata.PropertiesMeta =>
            GraftMetadata.propertiesRows(dir, versionAsOf)
        }
        override def description(): String = name()
      }
    }
}
