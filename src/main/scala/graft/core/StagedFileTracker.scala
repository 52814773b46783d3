package graft.core

import scala.collection.mutable
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, StructType}
import ManifestLake.{BloomHash, BloomK}

/** Per-file row counts and [[ManifestLake.FileBloom]] bits, built while
  * the staging job writes the files (Delta's `DeltaJobStatisticsTracker`
  * pattern): no second scan of the files just written.
  *
  * `schema` is the staged frame's schema, `dirCols` its directory
  * columns (the partition column, then the stage-only bucket column);
  * the writer hands each row without them and their values once per
  * directory. A bloom column is, as in [[ManifestLake.buildBlooms]], a
  * top-level field of that name, else a directory column, else a dotted
  * struct-leaf path. Values hash in their external Scala form — what a
  * `Row` of the scan build would carry — so both builds, and the
  * driver-side probe, agree ([[BloomHash.canonical]]). Each file's
  * filter is sized from its final row count, so the task keeps the
  * 64-bit hashes of an open file (8 B per row and column) and sets the
  * bits when the file closes.
  *
  * Results, after the write job, are keyed by the file's path below
  * the staging directory: `<partition dir>/[<bucket dir>/]<file name>`. */
private[core] final class StagedFileTracker(schema: StructType, dirCols: Seq[String],
                                            bloomCols: Seq[String])
    extends WriteJobStatsTracker {
  import StagedFileTracker._

  private val dataSchema = StructType(schema.filterNot(f => dirCols.contains(f.name)))
  private val access: Vector[Access] = bloomCols.toVector.map { name =>
    val top = dataSchema.fieldNames.indexOf(name)
    val dir = dirCols.indexOf(name)
    if (top >= 0) Leaf(Array(top), Array.empty, dataSchema(top).dataType)
    else if (dir >= 0) Dir(dir, schema(name).dataType)
    else {
      val path = Array.newBuilder[Int]
      val widths = Array.newBuilder[Int]
      var cur: DataType = dataSchema
      name.split('.').foreach { seg =>
        cur match {
          case st: StructType if st.fieldNames.contains(seg) =>
            path += st.fieldIndex(seg)
            widths += st.length
            cur = st(seg).dataType
          case _ => throw new IllegalArgumentException(
            s"bloom column '$name' is not a column or struct leaf of " +
              s"${schema.simpleString}")
        }
      }
      Leaf(path.result(), widths.result().drop(1), cur)
    }
  }

  @transient @volatile private var collected: Map[String, FileStat] = Map.empty

  /** Per staged file (keyed as above): rows written and one bloom bit
    * array per bloom column, in `bloomCols` order. Driver side, after
    * the write job. */
  def files: Map[String, FileStat] = collected

  override def newTaskInstance(): WriteTaskStatsTracker =
    new TaskTracker(access, dirCols.length)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case t: TaskStats => t.files }.toMap
}

private[core] object StagedFileTracker {
  final case class FileStat(rows: Long, bits: Vector[Array[Long]])

  /** A bloom column's place in the written row: a (possibly nested)
    * data field, or a directory value. `widths` are the field counts of
    * the structs the path descends into. */
  private sealed trait Access extends Serializable { def dt: DataType }
  private final case class Leaf(path: Array[Int], widths: Array[Int], dt: DataType)
    extends Access
  private final case class Dir(index: Int, dt: DataType) extends Access

  private final case class TaskStats(files: Map[String, FileStat]) extends WriteTaskStats

  /** Growable buffer of one open file's canonical hashes for one column. */
  private final class Hashes {
    var buf = new Array[Long](256)
    var n = 0
    def add(h: Long): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = h
      n += 1
    }
  }

  private final class OpenFile(val key: String, val dirHashes: Vector[Option[Long]],
                               val hashes: Vector[Hashes]) {
    var rows = 0L
  }

  private final class TaskTracker(access: Vector[Access], depth: Int)
      extends WriteTaskStatsTracker {
    private val toScala = access.map(a => CatalystTypeConverters.createToScalaConverter(a.dt))
    private var dirValues: InternalRow = InternalRow.empty
    private val open = mutable.HashMap.empty[String, OpenFile]
    private val done = mutable.HashMap.empty[String, FileStat]

    override def newPartition(partitionValues: InternalRow): Unit =
      dirValues = partitionValues.copy()

    override def newFile(filePath: String): Unit = {
      val key = filePath.split('/').takeRight(depth + 1).mkString("/")
      open(filePath) = new OpenFile(key,
        access.indices.toVector.map(j => access(j) match {
          case Dir(i, dt) if !dirValues.isNullAt(i) =>
            Some(BloomHash.canonical(toScala(j)(dirValues.get(i, dt))))
          case _ => None
        }),
        access.map(_ => new Hashes))
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val f = open(filePath)
      f.rows += 1
      var j = 0
      while (j < access.length) {
        access(j) match {
          case Leaf(path, widths, dt) =>
            var r = row
            var i = 0
            while (r != null && i < path.length - 1) {
              r = if (r.isNullAt(path(i))) null else r.getStruct(path(i), widths(i))
              i += 1
            }
            if (r != null && !r.isNullAt(path.last))
              f.hashes(j).add(BloomHash.canonical(toScala(j)(r.get(path.last, dt))))
          case _: Dir => ()
        }
        j += 1
      }
    }

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { f =>
        val w = BloomHash.words(f.rows)
        done(f.key) = FileStat(f.rows, access.indices.toVector.map { j =>
          val bits = new Array[Long](w)
          f.dirHashes(j).foreach(BloomHash.setBits(bits, BloomK, _))
          val hs = f.hashes(j)
          var i = 0
          while (i < hs.n) { BloomHash.setBits(bits, BloomK, hs.buf(i)); i += 1 }
          bits
        })
      }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toVector.foreach(closeFile)
      TaskStats(done.toMap)
    }
  }
}
