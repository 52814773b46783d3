package graft.core

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, Path => HPath}

/** Deletion-vector sidecars — the merge-on-read half of targeted
  * deletion (Delta's deletion vectors / Iceberg's position deletes,
  * re-expressed over the graft manifest). A DV delete never rewrites
  * a data file: it writes one immutable sidecar per affected file
  * listing the ROW POSITIONS deleted, and the commit attaches
  * `dv:<count>:<sidecar>` to the file's manifest line. Readers filter
  * the positions out; compaction (or any copy-on-write rewrite)
  * applies the DV and drops it — the natural purge path.
  *
  * Why it matters at 100 TB: copy-on-write deletion cost is
  * proportional to the BYTES of every file containing a match — a
  * 0.1 % GDPR delete scattered across a lake rewrites most of it. A
  * DV commit's cost is proportional to the DELETED ROWS (positions
  * written) plus one footer-less metadata commit; the read-side tax
  * is a per-file position filter that compaction retires.
  *
  * Sidecar format (public, deliberately trivial): magic "GDV1" (4
  * bytes), then the ascending positions as delta-encoded unsigned
  * varints (first value absolute). Positions are physical row indexes
  * in the data file — stable because data files are immutable. A
  * later delete on the same file writes a NEW sidecar carrying the
  * UNION (sidecars are immutable once referenced; the old one becomes
  * garbage vacuum reclaims).
  *
  * IO goes through the Hadoop FileSystem API — sidecars are written
  * from EXECUTORS (one task per affected file, delete-proportional
  * parallelism), which on a real cluster write to the object store
  * directly; the driver only ever sees (file → sidecar, count)
  * pairs. */
private[core] object DvStore {

  /** A file's deletion vector as the manifest carries it: sidecar
    * path relative to the lake root (always under `_dv/`) and the
    * position count (exact — net row counts derive from it without
    * opening the sidecar). */
  final case class Dv(path: String, count: Long)

  private[core] val DvDir = "_dv"
  private val Magic = Array[Byte]('G', 'D', 'V', '1')

  private def writeVarLong(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.writeByte(v.toInt)
  }

  private def readVarLong(in: DataInputStream): Long = {
    var v = 0L; var shift = 0
    while (true) {
      val b = in.readByte()
      v |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return v
      shift += 7
      if (shift > 63) throw new java.io.IOException("varint too long")
    }
    v // unreachable
  }

  /** Write `positions` (must be ascending, distinct, non-negative) as
    * a fresh sidecar under `_dv/`; returns its manifest entry. Safe
    * from executors: the name is a UUID (no two writers collide) and
    * the file is never referenced until a manifest commit names it. */
  def write(lakeDir: String, positions: Array[Long], conf: Configuration): Dv = {
    require(positions.nonEmpty, "empty deletion vector — omit the entry instead")
    val rel = s"$DvDir/${UUID.randomUUID()}.dv"
    val p = new HPath(lakeDir, rel)
    // no .crc twins: the format has its own magic, and durability
    // checksums are the underlying store's contract (LocalFileSystem
    // would otherwise shadow every sidecar with a checksum file that
    // vacuum and tests must special-case). Write through the raw file
    // system: the checksummed instance is cached and shared JVM-wide,
    // so turning its checksums off would do it for every later writer.
    val fs = p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val out = new DataOutputStream(new java.io.BufferedOutputStream(fs.create(p, false)))
    try {
      out.write(Magic)
      var prev = -1L
      var i = 0
      while (i < positions.length) {
        val v = positions(i)
        require(v > prev, s"positions must be ascending+distinct, got $v after $prev")
        writeVarLong(out, if (i == 0) v else v - prev)
        prev = v
        i += 1
      }
    } finally out.close()
    Dv(rel, positions.length.toLong)
  }

  /** Read a sidecar back into its ascending position array. */
  def read(lakeDir: String, rel: String, conf: Configuration): Array[Long] = {
    val p = new HPath(lakeDir, rel)
    val fs = p.getFileSystem(conf)
    val in = new DataInputStream(new java.io.BufferedInputStream(fs.open(p)))
    try {
      val m = new Array[Byte](4)
      in.readFully(m)
      require(java.util.Arrays.equals(m, Magic), s"bad DV magic in $rel")
      val buf = scala.collection.mutable.ArrayBuilder.make[Long]
      var prev = 0L; var first = true
      try {
        while (true) {
          val d = readVarLong(in)
          val v = if (first) d else prev + d
          buf += v; prev = v; first = false
        }
      } catch { case _: EOFException => () }
      buf.result()
    } finally in.close()
  }

  /** Membership test over an ascending position array. */
  def contains(positions: Array[Long], idx: Long): Boolean =
    java.util.Arrays.binarySearch(positions, idx) >= 0

  /** Union of two ascending position arrays (second delete on an
    * already-DV'd file). */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c < 0) { out(k) = a(i); i += 1 }
      else if (c > 0) { out(k) = b(j); j += 1 }
      else { out(k) = a(i); i += 1; j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }
}
