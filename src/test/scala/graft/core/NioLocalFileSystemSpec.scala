package graft.core

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The session's `file:` file system ([[NioLocalFileSystem]], mapped by
  * [[Tables.sessionConf]]) sets the same permission bits as Hadoop's
  * stock `LocalFileSystem` without forking `chmod`, and still writes
  * checksum files. */
class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Permission strings under `root` by kind: directories, data files,
    * checksum files, everything else. */
  private def census(root: Path): Map[String, Set[String]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).toVector.groupBy { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) "dir"
      else if (n.endsWith(".crc")) "crc"
      else if (n.endsWith(".parquet")) "parquet"
      else "other"
    }.map { case (k, ps) => k -> ps.map(perms).toSet }
    finally walk.close()
  }

  test("setPermission sets the stock RawLocalFileSystem's bits") {
    val conf = spark.sparkContext.hadoopConfiguration
    val nio = new NioRawLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val root = tmp("nio_perm")
    Seq("777", "755", "750", "644", "640", "600", "421", "000").foreach { mode =>
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      Seq("f", "d").foreach { kind =>
        val (a, b) = (root.resolve(s"nio_$kind$mode"), root.resolve(s"stock_$kind$mode"))
        if (kind == "d") { Files.createDirectory(a); Files.createDirectory(b) }
        else { Files.createFile(a); Files.createFile(b) }
        nio.setPermission(new HPath(a.toUri), perm)
        stock.setPermission(new HPath(b.toUri), perm)
        assert(perms(a) == perms(b), s"$kind $mode")
      }
    }
  }

  test("file: resolves to NioLocalFileSystem; writes keep the stock bits and .crc files") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach(c => assert(FileSystem.get(URI.create("file:///"), c).getClass ==
        classOf[NioLocalFileSystem]))
    val df = spark.range(0, 60).select($"id".as("doc_id"),
      concat(lit("s"), ($"id" % 3).cast("string")).as("source"))
    def writeAll(root: Path): Map[String, Map[String, Set[String]]] = {
      ManifestLake.append(spark, root.resolve("lake").toString, df, "source",
        maxRecordsPerFile = 8L)
      df.write.partitionBy("source").parquet(root.resolve("plain").toString)
      Map("lake" -> census(root.resolve("lake")).filter(_._1 != "other"),
        "plain" -> census(root.resolve("plain")))
    }
    // Both sides write through FRESH (uncached) instances, so the
    // stock side really runs `LocalFileSystem`.
    def uncached[A](impl: Option[String])(body: => A): A = {
      impl.foreach(spark.conf.set("fs.file.impl", _))
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try body
      finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
    }
    val viaNio = uncached(None) {
      assert(FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
        .getClass == classOf[NioLocalFileSystem])
      writeAll(tmp("nio_fs"))
    }
    val viaStock = uncached(Some(classOf[LocalFileSystem].getName))(writeAll(tmp("stock_fs")))
    assert(viaNio("plain").contains("crc"), viaNio.toString)
    assert(viaNio("plain").contains("parquet") && viaNio("lake").contains("parquet"))
    assert(viaNio == viaStock)
  }

  test("a deletion-vector write leaves checksums on for the shared file: instance") {
    spark.conf.set("spark.sql.catalog.graft_crc", classOf[GraftCatalog].getName)
    val root = tmp("dv_crc")
    val lake = root.resolve("lake")
    val df = spark.range(0, 40).select($"id".as("doc_id"), lit("s0").as("source"),
      ($"id" * 10).as("score"))
    ManifestLake.append(spark, lake.toString, df, "source")
    ManifestLake.deleteWhereDv(spark, lake.toString, $"doc_id" % 7 === 0)
    // every later write below goes through the cached, process-wide
    // `file:` instance the DV write used
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
    def checksummed(p: Path): Boolean = Files.exists(p.resolveSibling(s".${p.getFileName}.crc"))
    // a copy-on-write SQL UPDATE writes its rewritten files into the lake
    val before = ManifestLake.latestSnapshot(lake.toString).get.files.toSet
    spark.sql(s"UPDATE graft_crc.`$lake` SET score = -1 WHERE doc_id < 10")
    val rewritten = ManifestLake.latestSnapshot(lake.toString).get.files.filterNot(before)
    assert(rewritten.nonEmpty)
    rewritten.foreach(f => assert(checksummed(lake.resolve(f)), s"no checksum for $f"))
    // and a plain parquet write
    df.write.parquet(root.resolve("plain").toString)
    val plain = census(root.resolve("plain"))
    assert(plain.contains("parquet") && plain.contains("crc"), plain.toString)
    // the sidecar itself stays a single file: its format has its own magic
    val dvs = Files.list(lake.resolve("_dv"))
    try assert(dvs.iterator().asScala.map(_.getFileName.toString).forall(_.endsWith(".dv")))
    finally dvs.close()
    assert(ManifestLake.read(spark, lake.toString).filter($"score" === -1).count() == 8L)
  }
}
