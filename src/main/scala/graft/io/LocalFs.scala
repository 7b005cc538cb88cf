package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every Hadoop `Configuration` in the JVM,
  * installed by `core-site.xml` (`fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`).
  *
  * Without `libhadoop.so`, Hadoop's `RawLocalFileSystem` forks a child
  * process for two calls that streaming checkpoints and table writes make
  * on every file: `setPermission` (which every create and mkdir goes
  * through) runs `chmod`, and `getFileLinkStatus` (twice per
  * `FileContext` rename) runs `readlink`. Each fork costs about 2 ms and
  * runs on the calling thread: about 61 per fraud scoring cycle. This
  * subclass answers both through `java.nio` instead, and `getLinkTarget`
  * with them, so the two link calls agree. Everything else,
  * including the checksum layer on top, is Hadoop's own code.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO; a mode NIO cannot express (the sticky bit)
    * takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, GraftRawLocalFileSystem.perms(mode))
  }

  /** The stock result without forking `readlink`: the file's status when
    * `f` is not a link; for a link, the target's status (or an empty one
    * when the target is missing) carrying the qualified link target. A
    * link's permissions still come from the stock status, which lists
    * them with `ls`; checkpoint and table trees hold no links. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val nio = pathToFile(f).toPath
    if (!Files.isSymbolicLink(nio)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(nio).toString)
      val st =
        try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
            s.getGroup, target, f)
        } catch {
          case _: FileNotFoundException => // dangling link
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }
  }

  /** The unqualified target of link `f`, found the same way as in
    * [[getFileLinkStatus]] (`FileContext` asks for both). */
  override def getLinkTarget(f: Path): Path = {
    val nio = pathToFile(f).toPath
    if (Files.isSymbolicLink(nio)) new Path(Files.readSymbolicLink(nio).toString)
    else super.getLinkTarget(f) // not a link: the stock error
  }
}

object GraftRawLocalFileSystem {
  import attribute.PosixFilePermission

  private val bits = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (0001)

  /** The POSIX permission set of the low nine bits of `mode`. */
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) s.add(bits(i))
    s
  }
}

/** `FileSystem` API: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]], so `.crc` files are still written and
  * verified. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext` API (the streaming checkpoint manager): the
  * `org.apache.hadoop.fs.local.RawLocalFs` delegate over
  * [[GraftRawLocalFileSystem]]. Hadoop's own class cannot take another
  * raw filesystem, and its constructors are package-private. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems validate names themselves, as RawLocalFileSystem does
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API with checksums: `org.apache.hadoop.fs.local.LocalFs`
  * over [[GraftRawLocalFs]]. `AbstractFileSystem` instantiates it with
  * the (URI, Configuration) constructor; like Hadoop's, the URI is always
  * `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))
