package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The java.nio local file system reports exactly what Hadoop's own
  * `RawLocalFileSystem` reports, sets the permissions Hadoop reads
  * back, keeps `createAtomic`'s no-overwrite contract, and is the
  * `file:` implementation the engine's sessions resolve. */
class NioLocalFileSystemSpec extends AnyFunSuite with SparkSessionFixture {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      s.getPermission, s.getOwner, s.getGroup)

  /** The status fields, or the exception class a read throws. */
  private def outcome(status: => FileStatus): Either[Class[_], Seq[Any]] =
    try Right(fields(status)) catch { case e: java.io.IOException => Left(e.getClass) }

  private def sameAsHadoop(p: Path): Unit = {
    assert(outcome(nio.getFileStatus(p)) == outcome(hadoop.getFileStatus(p)), p)
    assert(outcome(nio.getFileLinkStatus(p)) == outcome(hadoop.getFileLinkStatus(p)), p)
  }

  test("file, directory and symlink status match RawLocalFileSystem field by field") {
    val dir = tempDir("niofs")
    val file = Files.write(dir.resolve("part-0000.json"), "{\"a\":1}\n".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    // links (live or dangling) are Hadoop's own answer, whatever it is
    Seq(file, dir, link, dangling).foreach(p => sameAsHadoop(new Path(p.toUri)))
    assert(nio.getFileStatus(new Path(file.toUri)).getLen == 8L)
    assert(nio.getFileStatus(new Path(dir.toUri)).isDirectory)
  }

  test("a missing path is FileNotFoundException on both sides") {
    val missing = new Path(tempDir("niofs_missing").resolve("nope").toUri)
    for (fs <- Seq(hadoop, nio)) {
      intercept[java.io.FileNotFoundException](fs.getFileStatus(missing))
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(missing))
    }
  }

  test("setPermission round-trips through Hadoop's own permission read") {
    val dir = tempDir("niofs_perm")
    val file = new Path(Files.write(dir.resolve("f"), Array[Byte](1)).toUri)
    for (mode <- Seq("644", "755", "700")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      nio.setPermission(file, perm)
      assert(hadoop.getFileStatus(file).getPermission == perm, mode)
      sameAsHadoop(file)
    }
    val sticky = new Path(Files.createDirectory(dir.resolve("shared")).toUri)
    val perm = new FsPermission(Integer.parseInt("1777", 8).toShort)
    nio.setPermission(sticky, perm)
    assert(perm.getStickyBit)
    assert(hadoop.getFileStatus(sticky).getPermission == perm)
    sameAsHadoop(sticky)
  }

  test("createAtomic without overwrite refuses an existing file") {
    val conf = spark.sessionState.newHadoopConf()
    val target = new Path(tempDir("niofs_atomic").resolve("0").toUri)
    val fm = CheckpointFileManager.create(target.getParent, conf)
    def write(body: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(target, overwriteIfPossible = overwrite)
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    write("v1", overwrite = false)
    intercept[FileAlreadyExistsException](write("v2", overwrite = false))
    def read(): String = new String(Files.readAllBytes(java.nio.file.Paths.get(target.toUri)), UTF_8)
    assert(read() == "v1")
    write("v3", overwrite = true)
    assert(read() == "v3")
  }

  test("core-site.xml makes the NIO classes the engine's file: scheme") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("FileSystem.rename refuses to replace an existing file") {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val dir = tempDir("niofs_rename")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.write(a, "a".getBytes(UTF_8)); Files.write(b, "b".getBytes(UTF_8))
    assert(!fs.rename(new Path(a.toUri), new Path(b.toUri)))
    assert(new String(Files.readAllBytes(b), UTF_8) == "b" && Files.exists(a))
    Files.delete(b)
    assert(fs.rename(new Path(a.toUri), new Path(b.toUri)))
    assert(new String(Files.readAllBytes(b), UTF_8) == "a" && !Files.exists(a))
  }
}
