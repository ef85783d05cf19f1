package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}

import graft.SparkTestBase

/** The fork-free local filesystem answers exactly as Hadoop's own: link
  * status parity with `RawLocalFileSystem`, and FileContext (Spark's
  * checkpoint API) resolving `file:` to [[NioLocalFs]] with the same
  * files, `.crc` sidecars and permission bits as `LocalFs`. */
class NioLocalFsSpec extends SparkTestBase {

  private def tmp(name: String): java.nio.file.Path = Files.createTempDirectory(s"niofs-$name")

  /** Every field a caller can observe, with the failure as a value. */
  private def observe(st: => FileStatus): Either[String, Seq[Any]] =
    try {
      val s = st
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus equals RawLocalFileSystem's on files, dirs, missing paths and symlinks") {
    val root = tmp("link")
    val file = Files.write(root.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val missing = root.resolve("missing")
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))

    val conf = new Configuration()
    val nio = new NioRawLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(URI.create("file:///"), conf)

    val cases = Seq("file" -> file, "dir" -> dir, "missing" -> missing,
      "link" -> link, "dangling" -> dangling)
    for ((name, p) <- cases; hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = observe(hadoop.getFileLinkStatus(hp))
      assert(observe(nio.getFileLinkStatus(hp)) == want, s"$name at $hp")
    }
    // the fixtures cover the branches they claim to
    val plain = new Path(root.toString)
    assert(nio.getFileLinkStatus(new Path(plain, "link")).isSymlink)
    assert(nio.getFileLinkStatus(new Path(plain, "dangling")).isSymlink)
    assert(nio.getFileLinkStatus(new Path(plain, "dir")).isDirectory)
    intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(new Path(plain, "missing")))
  }

  test("FileContext on the session conf resolves file: to NioLocalFs and writes what LocalFs writes") {
    val sessionConf = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(URI.create("file:///"), sessionConf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // the shared table-format conf resolves the same way
    assert(FileContext.getFileContext(URI.create("file:///"), WireLog.sharedConf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])

    val hadoopConf = new Configuration(sessionConf)
    hadoopConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    assert(FileContext.getFileContext(URI.create("file:///"), hadoopConf)
      .getDefaultFileSystem.isInstanceOf[LocalFs])

    /** A checkpoint's life: mkdirs, then an atomic create twice (the
      * second overwrites) and a plain rename; returns every entry under
      * the root with its permission bits. */
    def checkpointRoundTrip(conf: Configuration): Seq[(String, String)] = {
      val root = tmp("chk")
      val dir = new Path(root.toUri.toString, "offsets")
      val fm = CheckpointFileManager.create(dir, conf)
      assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
      fm.mkdirs(dir)
      for (body <- Seq("v0", "v1")) {
        val out = fm.createAtomic(new Path(dir, "0"), overwriteIfPossible = true)
        out.write(body.getBytes)
        out.close()
      }
      val ctx = FileContext.getFileContext(dir.toUri, conf)
      val s = ctx.create(new Path(dir, "staged"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      s.write(1)
      s.close()
      ctx.rename(new Path(dir, "staged"), new Path(dir, "1"))
      assert(new String(Files.readAllBytes(Paths.get(root.toString, "offsets", "0"))) == "v1")
      Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toSeq.sorted
    }

    val got = checkpointRoundTrip(sessionConf)
    assert(got == checkpointRoundTrip(hadoopConf))
    assert(got.map(_._1).toSet.contains("offsets/.0.crc"), got)
    assert(got.map(_._1).toSet.contains("offsets/.1.crc"), got)
    assert(!got.exists(_._1.contains(".tmp")), got)
  }
}
