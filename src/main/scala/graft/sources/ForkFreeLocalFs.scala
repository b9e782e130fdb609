package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** `file:` without a process per permission change. Without libhadoop
  * (Spark's distribution ships none), `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process, and every file, `.crc` sidecar and
  * directory a write creates gets one: 3–4 forks of ~3.7 ms wall each
  * per published Hive cell. This subclass sets the same POSIX bits
  * through `java.nio` in ~0.01 ms. A sticky bit, or a setuid/setgid bit
  * already on the target (a directory under a setgid parent inherits
  * it, and `chmod` with a 4-digit mode keeps it), is left to `super`,
  * because NIO can neither set nor keep those bits.
  *
  * Hadoop instantiates the class reflectively: top-level, no-arg ctor.
  */
class ForkFreeRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || specialBits(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(permission))
  }

  /** Whether `file` carries a setuid, setgid or sticky bit (07000). */
  private def specialBits(file: JPath): Boolean =
    (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0

  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString(
      perm.getUserAction.SYMBOL + perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL)
}

/** The checksummed `file:` file system (`.crc` sidecars) over
  * [[ForkFreeRawLocalFs]]; what `fs.file.impl` names. */
class ForkFreeLocalFs extends LocalFileSystem(new ForkFreeRawLocalFs)

object ForkFreeLocalFs {

  /** Hadoop entries that resolve `file:` to [[ForkFreeLocalFs]]. The
    * cache is bypassed because `FileSystem.get` caches by scheme and
    * user, not by conf: a stock `file:` instance cached earlier would
    * otherwise be returned. Other schemes are untouched. Passed as
    * DataFrameWriter options they reach the write job's committer and
    * every executor-side file writer.
    */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The session's Hadoop conf with [[options]] applied. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** Recursive file walk via `listStatus`, NOT `listFiles`: the latter's
    * `LocatedFileStatus` loads every file's permissions eagerly, which on
    * `file:` without libhadoop runs `ls -ld` once per file, and breaks on
    * wrapped/custom-scheme file systems. Returns the statuses of the
    * files whose NAME satisfies `p`, in listing order; a missing root is
    * an empty walk.
    */
  def walkFiles(fs: FileSystem, dir: Path)(p: String => Boolean): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) walkFiles(fs, st.getPath)(p)
      else if (p(st.getPath.getName)) Seq(st)
      else Seq.empty
    }
}
