package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free `file:` filesystem leaves on disk what Hadoop's
  * `RawLocalFileSystem` leaves, answers link status as it does, and is
  * what a graft session resolves for `file:`. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val root = new URI("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmp(): JPath = Files.createTempDirectory("graft_localfs")

  private def delete(dir: JPath): Unit =
    Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Hadoop's classes, built directly so no cache or session key
    * decides which class answers. */
  private def hadoopFs(): FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(root, conf)
    fs
  }
  private def hadoopFc(): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    FileContext.getFileContext(AbstractFileSystem.get(root, c), c)
  }
  private def nioFs(): FileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(root, conf)
    fs
  }
  private def nioFc(): FileContext =
    FileContext.getFileContext(new NioLocalFs(root, conf), conf)

  /** Every file and directory under `dir`, by relative path, with its
    * POSIX permissions as java.nio reads them. */
  private def perms(dir: JPath): Map[String, String] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** Creates a file and a nested directory through each of the four
    * calls, once per permission (None: the default under the umask). */
  private def populate(fs: FileSystem, fc: FileContext, dir: JPath): Unit = {
    val modes = Seq(Some("644"), Some("755"), Some("700"), None)
    for (m <- modes) {
      val tag = m.getOrElse("default")
      val perm = m.map(o => new FsPermission(Integer.parseInt(o, 8).toShort))
      def at(name: String) = new Path(dir.resolve(s"$name-$tag").toString)
      val out = perm match {
        case Some(p) => fs.create(at("fs-file"), p, false, 4096, 1.toShort, 1L << 20, null)
        case None => fs.create(at("fs-file"))
      }
      out.write("x".getBytes(UTF_8)); out.close()
      perm match {
        case Some(p) => fs.mkdirs(new Path(at("fs-dir"), "sub"), p)
        case None => fs.mkdirs(new Path(at("fs-dir"), "sub"))
      }
      val opts = perm.map(p => Seq(CreateOpts.perms(p))).getOrElse(Nil)
      val fout = fc.create(at("fc-file"), EnumSet.of(CreateFlag.CREATE), opts: _*)
      fout.write("x".getBytes(UTF_8)); fout.close()
      fc.mkdir(new Path(at("fc-dir"), "sub"),
        perm.getOrElse(FsPermission.getDirDefault), true)
    }
  }

  test("files and directories get Hadoop's permissions, .crc files included") {
    val (a, b) = (tmp(), tmp())
    try {
      populate(hadoopFs(), hadoopFc(), a)
      populate(nioFs(), nioFc(), b)
      val (want, got) = (perms(a), perms(b))
      assert(got == want)
      // The comparison covers sidecars and every mode asked for.
      assert(want.keys.count(_.endsWith(".crc")) == 8)
      assert(want.values.toSet.contains("rwx------"))
      assert(want.values.toSet.contains("rw-r--r--"))
    } finally { delete(a); delete(b) }
  }

  test("file statuses read permission, owner and group as Hadoop's do") {
    val dir = tmp()
    try {
      populate(hadoopFs(), hadoopFc(), dir)
      val hadoop = hadoopFs()
      val nio = nioFs()
      // Sticky goes through Hadoop's own setPermission, and is read back.
      nio.setPermission(new Path(dir.resolve("fs-dir-700").toString),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
      def view(s: FileStatus) = (s.getPath, s.isDirectory, s.getLen,
        s.getPermission, s.getOwner, s.getGroup)
      val paths = Files.walk(dir).iterator.asScala.map(p => new Path(p.toString)).toSeq
      for (p <- paths) assert(view(nio.getFileStatus(p)) == view(hadoop.getFileStatus(p)), p)
      val root = new Path(dir.toString)
      assert(nio.listStatus(root).map(view).toSet == hadoop.listStatus(root).map(view).toSet)
      def located(fs: FileSystem) = {
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(i => view(i.next())).toSet
      }
      assert(located(nio) == located(hadoop))
      assert(paths.map(nio.getFileStatus(_).getPermission).count(_.getStickyBit) == 1)
      // A path deleted after its status was taken fails on either.
      val gone = new Path(dir.resolve("gone").toString)
      Files.writeString(Paths.get(gone.toString), "x")
      val (hs, ns) = (hadoop.getFileStatus(gone), nio.getFileStatus(gone))
      Files.delete(Paths.get(gone.toString))
      intercept[RuntimeException](hs.getPermission)
      intercept[RuntimeException](ns.getPermission)
    } finally delete(dir)
  }

  test("getFileLinkStatus matches Hadoop's on a link, a file, a directory and a missing path") {
    val dir = tmp()
    try {
      val file = Files.writeString(dir.resolve("file"), "abc")
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), file)
      val hadoop = new RawLocalFileSystem
      hadoop.initialize(root, conf)
      val nio = new NioRawLocalFileSystem
      nio.initialize(root, conf)
      def view(s: FileStatus) = (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
        if (s.isSymlink) Some(s.getSymlink) else None)
      for (name <- Seq("link", "file", "dir")) {
        val p = new Path(dir.resolve(name).toString)
        assert(view(nio.getFileLinkStatus(p)) == view(hadoop.getFileLinkStatus(p)), name)
      }
      val link = nio.getFileLinkStatus(new Path(dir.resolve("link").toString))
      assert(link.isSymlink && link.getSymlink == new Path(s"file:$file"))
      val missing = new Path(dir.resolve("missing").toString)
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    } finally delete(dir)
  }

  test("FileContext rename with OVERWRITE replaces the target and carries its .crc") {
    val dir = tmp()
    try {
      val fc = nioFc()
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s.getBytes(UTF_8)); out.close()
      }
      val (src, dst) = (new Path(s"file:$dir/src"), new Path(s"file:$dir/dst"))
      write(dst, "old contents")
      write(src, "new")
      fc.rename(src, dst, Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
      assert(Files.exists(dir.resolve(".dst.crc")))
      // A checksummed read fails on a .crc that is not the new file's.
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    } finally delete(dir)
  }

  test("a graft session resolves file: to the fork-free classes, both ways") {
    assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[NioLocalFs])
  }
}
