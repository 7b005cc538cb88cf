package graft.io

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem installed by `core-site.xml` keeps the
  * contract of Hadoop's local filesystem: both APIs resolve to it,
  * permissions and symlinks read back as before, checksums are still
  * written and verified, and `FileContext` rename still refuses to
  * overwrite. */
class LocalFsSpec extends graft.SparkSpec {

  private val conf = new Configuration()
  private lazy val fs = FileSystem.get(new URI("file:///"), conf)
  private lazy val fc = FileContext.getLocalFSFileContext(conf)

  private def tmp(): NioPath = Files.createTempDirectory("graft_localfs_")
  private def hpath(p: NioPath) = new Path(p.toUri)
  private def write(p: NioPath, bytes: Array[Byte]): Unit = {
    val out = fs.create(hpath(p))
    try out.write(bytes) finally out.close()
  }
  private def readAll(in: java.io.InputStream): Array[Byte] =
    try in.readAllBytes() finally in.close()

  test("FileSystem and FileContext resolve file:// to the graft classes") {
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[GraftLocalFileSystem])
    assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    // Spark's own Configuration loads the same core-site.xml
    val sparkConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), sparkConf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(new URI("file:///"), sparkConf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("setPermission round-trips 0644, 0755 and 0700; a sticky directory keeps its bit") {
    val d = tmp()
    val f = d.resolve("f")
    write(f, Array[Byte](1, 2, 3))
    for ((mode, posix) <- Seq(0x1a4 -> "rw-r--r--", 0x1ed -> "rwxr-xr-x", 0x1c0 -> "rwx------")) {
      fs.setPermission(hpath(f), new FsPermission(mode.toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == posix)
      assert(fs.getFileStatus(hpath(f)).getPermission.toShort == mode)
    }
    val sticky = d.resolve("sticky")
    assert(fs.mkdirs(hpath(sticky)))
    fs.setPermission(hpath(sticky), new FsPermission(0x3ff.toShort)) // 01777
    val st = fs.getFileStatus(hpath(sticky)).getPermission
    assert(st.getStickyBit && st.toShort == 0x3ff)
  }

  test("getFileLinkStatus reports a symlink with its target and a plain file as getFileStatus") {
    val d = tmp()
    val target = d.resolve("target")
    write(target, Array.fill[Byte](10)(7))
    val link = Files.createSymbolicLink(d.resolve("link"), target)

    val ls = fs.getFileLinkStatus(hpath(link))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == target.toString)
    assert(fs.getLinkTarget(hpath(link)).toUri.getPath == target.toString)
    val cs = fc.getFileLinkStatus(hpath(link))
    assert(cs.isSymlink && cs.getSymlink.toUri.getPath == target.toString)

    val plain = fs.getFileLinkStatus(hpath(target))
    assert(!plain.isSymlink)
    assert(plain == fs.getFileStatus(hpath(target)))
    assert(plain.getLen == 10 && plain.getModificationTime == fs.getFileStatus(hpath(target)).getModificationTime)
    assert(!fc.getFileLinkStatus(hpath(target)).isSymlink)
  }

  test("a flipped data byte still fails the checksum through both APIs") {
    val d = tmp()
    val f = d.resolve("data")
    val bytes = Array.tabulate[Byte](2000)(i => (i % 101).toByte)
    write(f, bytes)
    assert(Files.exists(d.resolve(".data.crc")), "the checksum layer writes a .crc file")
    // FileContext.open(path) skips verification in Hadoop's own ChecksumFs
    // (FilterFs.open(path) goes straight to the raw filesystem); the
    // buffer-size overload is the checksummed read
    assert(readAll(fs.open(hpath(f))).sameElements(bytes))
    assert(readAll(fc.open(hpath(f), 4096)).sameElements(bytes))

    val raf = new RandomAccessFile(f.toFile, "rw")
    try { raf.seek(100); raf.write(bytes(100) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readAll(fs.open(hpath(f))))
    intercept[ChecksumException](readAll(fc.open(hpath(f), 4096)))
  }

  test("FileContext rename without overwrite refuses an existing destination") {
    val d = tmp()
    def create(name: String, b: Byte): Path = {
      val p = hpath(d.resolve(name))
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(Array.fill[Byte](16)(b)) finally out.close()
      p
    }
    val (a, b) = (create("a", 1), create("b", 2))
    intercept[FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
    assert(readAll(fc.open(b)).forall(_ == 2), "the destination is untouched")

    val c = hpath(d.resolve("c"))
    fc.rename(a, c, Options.Rename.NONE)
    assert(!Files.exists(Paths.get(a.toUri)) && readAll(fc.open(c)).forall(_ == 1))
    assert(Files.exists(d.resolve(".c.crc")), "the checksum file moves with its data")
  }
}
