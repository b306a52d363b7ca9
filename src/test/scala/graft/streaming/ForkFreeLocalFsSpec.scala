package graft.streaming

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import graft.SparkTestBase

/**
 * The fork-free local file system answers as Hadoop's own does: the same
 * modes after create and mkdirs, the same link status, the same `.crc`
 * sidecars and checksum failures, the same refusal to overwrite a batch
 * file. Each check runs on the Hadoop conf a gate's streaming run sees
 * and, where it compares, on Hadoop's stock local file system too.
 */
class ForkFreeLocalFsSpec extends SparkTestBase {

  /** The Hadoop conf inside [[SliceReplay.scoped]]. */
  private lazy val forkFree: Configuration =
    SliceReplay.scoped(spark)(spark.sessionState.newHadoopConf())
  private lazy val stock: Configuration = spark.sessionState.newHadoopConf()

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the scope routes the FileSystem and FileContext APIs to the fork-free file system") {
    val root = URI.create("file:///")
    assert(FileSystem.get(root, forkFree).isInstanceOf[ForkFreeLocalFileSystem])
    assert(AbstractFileSystem.get(root, forkFree).isInstanceOf[ForkFreeLocalFs])
    assert(!FileSystem.get(root, stock).isInstanceOf[ForkFreeLocalFileSystem])
    assert(!AbstractFileSystem.get(root, stock).isInstanceOf[ForkFreeLocalFs])
  }

  test("create and mkdirs leave the modes of Hadoop's chmod path: 0644 files, 0755 dirs") {
    for ((name, conf) <- Seq("fork-free" -> forkFree, "stock" -> stock)) {
      val d = Files.createTempDirectory("graft-fs-mode")
      val fs = FileSystem.get(d.toUri, conf)
      fs.create(new Path(d.toUri.toString + "/a/b/part")).close()
      fs.mkdirs(new Path(d.toUri.toString + "/c/d"))
      val fc = FileContext.getFileContext(d.toUri, conf)
      fc.mkdir(new Path(d.toUri.toString + "/e/f"), FileContext.DEFAULT_PERM, true)
      fc.create(new Path(d.toUri.toString + "/e/f/log"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      for (f <- Seq("a/b/part", "a/b/.part.crc", "e/f/log", "e/f/.log.crc"))
        assert(mode(d.resolve(f)) === "rw-r--r--", s"$name $f")
      for (dir <- Seq("a", "a/b", "c", "c/d", "e", "e/f"))
        assert(mode(d.resolve(dir)) === "rwxr-xr-x", s"$name $dir")
      for ((octal, rwx) <- Seq("640" -> "rw-r-----", "705" -> "rwx---r-x", "000" -> "---------")) {
        fs.setPermission(new Path(d.toUri.toString + "/a/b/part"), new FsPermission(octal))
        assert(mode(d.resolve("a/b/part")) === rwx, s"$name $octal")
      }
    }
  }

  test("getFileLinkStatus answers as Hadoop's for a file, a directory, a symlink and a missing path") {
    val d = Files.createTempDirectory("graft-fs-link")
    Files.write(d.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    def fs(raw: RawLocalFileSystem) = { raw.initialize(URI.create("file:///"), stock); raw }
    val (mine, theirs) = (fs(new ForkFreeRawLocalFileSystem), fs(new RawLocalFileSystem))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)
    // plain and `file:` paths alike (Hadoop's readlink sees a link only
    // through a plain path)
    for (name <- Seq("file", "dir", "link"); p <- Seq(new Path(d.resolve(name).toString),
        new Path(d.resolve(name).toUri))) {
      assert(view(mine.getFileLinkStatus(p)) === view(theirs.getFileLinkStatus(p)), p)
    }
    assert(mine.getFileLinkStatus(new Path(d.resolve("link").toString)).isSymlink)
    for (p <- Seq(new Path(d.resolve("missing").toString), new Path(d.resolve("missing").toUri))) {
      intercept[FileNotFoundException](theirs.getFileLinkStatus(p))
      intercept[FileNotFoundException](mine.getFileLinkStatus(p))
    }
  }

  test("checkpoint logs keep their .crc sidecar, checksum check and no-overwrite commit") {
    for ((name, conf) <- Seq("fork-free" -> forkFree, "stock" -> stock)) {
      val d = Files.createTempDirectory("graft-fs-ckpt")
      val log = new Path(d.toUri.toString + "/offsets/0")
      val fm = CheckpointFileManager.create(log.getParent, conf)
      assert(fm.getClass.getSimpleName === "FileContextBasedCheckpointFileManager", name)
      fm.mkdirs(log.getParent)
      assert(mode(d.resolve("offsets")) === "rwxr-xr-x", name)
      val body = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
      val out = fm.createAtomic(log, false)
      out.write(body)
      out.close()
      assert(Files.exists(d.resolve("offsets/.0.crc")), name)
      val in = fm.open(log)
      try assert(in.readAllBytes().sameElements(body), name) finally in.close()

      // a batch file that exists is never replaced
      val again = fm.createAtomic(log, false)
      again.write(Array[Byte](9, 9, 9))
      intercept[FileAlreadyExistsException](again.close())
      assert(Files.readAllBytes(Paths.get(log.toUri)).sameElements(body), name)

      // a flipped byte fails a checksummed read: the FileSystem API's, and
      // FileContext's open(path, bufferSize)
      val raf = new RandomAccessFile(d.resolve("offsets/0").toFile, "rw")
      try { raf.seek(100); raf.write(body(100) ^ 0xff) } finally raf.close()
      def readAll(in: java.io.InputStream) = try in.readAllBytes() finally in.close()
      intercept[ChecksumException](readAll(FileSystem.get(log.toUri, conf).open(log)))
      intercept[ChecksumException](
        readAll(FileContext.getFileContext(log.toUri, conf).open(log, 4096)))
      // and FileContext.open(path), which the checkpoint manager calls, on
      // the fork-free file system. The stock conf is Hadoop's LocalFs, whose
      // FilterFs.open(path) goes straight to the raw file system and reads
      // the flipped byte back unchecked.
      if (name == "fork-free") intercept[ChecksumException](readAll(fm.open(log)))
      else assert(readAll(fm.open(log))(100) === (body(100) ^ 0xff).toByte, name)
    }
  }
}
