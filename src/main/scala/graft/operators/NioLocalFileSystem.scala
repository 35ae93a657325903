package graft.operators

import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local filesystem for store I/O ([[SegSwap.fsOf]], and
  * the store table writes of [[SegSwap.stageBuckets]] and
  * [[SegSwap.writeTable]]):
  * Hadoop's [[LocalFileSystem]], `.crc` checksum layer included, over a
  * raw layer that sets POSIX permissions in-process.
  *
  * Without libhadoop, Hadoop's raw local filesystem sets the mode of
  * every file it creates and of every directory `mkdirs` creates by
  * running a `chmod` process (`RawLocalFileSystem.setPermission` →
  * `Shell.execCommand`), a fork that costs more than writing a small
  * file (PERF_NOTES "Store writes without a fork per file"). Hadoop
  * computes the mode (the create or mkdirs default, minus the conf's
  * `fs.permissions.umask-mode`) before it calls `setPermission`, so
  * setting exactly those bits with one chmod(2) gives every file the
  * permissions Hadoop would give it. With libhadoop, Hadoop makes the
  * same chmod(2) call through JNI, so the result is the same either way.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] whose `setPermission` runs in-process. It
  * defers to Hadoop's shell `chmod` for what a nio permission set
  * cannot express:
  *
  *  - the sticky bit;
  *  - a directory carrying setuid or setgid (e.g. inherited from a
  *    setgid parent): GNU `chmod 0755` keeps those bits on a directory,
  *    chmod(2) clears them;
  *  - a file store without a POSIX attribute view.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val done = !permission.getStickyBit && (try !keepsSpecialBits(f) && {
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(
          Seq(permission.getUserAction, permission.getGroupAction,
            permission.getOtherAction).map(_.SYMBOL).mkString))
        true
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
    if (!done) super.setPermission(p, permission)
  }

  // 0xc00 = octal 06000, setuid | setgid
  private def keepsSpecialBits(f: NioPath): Boolean =
    Files.isDirectory(f) &&
      (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
}
