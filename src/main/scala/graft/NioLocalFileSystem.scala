package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem with permissions set through `java.nio`.
  * Without the native-hadoop library, `RawLocalFileSystem.setPermission`
  * starts a `chmod` process, and it is called for every file create and
  * every mkdir: about 20 processes per pipeline tick at 2.4 ms each.
  * Registered by [[Sessions.build]] as `spark.hadoop.fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The same mode bits `chmod` would set. The sticky bit, which NIO
    * cannot set, and stores without POSIX attributes go through
    * Hadoop's own code. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
