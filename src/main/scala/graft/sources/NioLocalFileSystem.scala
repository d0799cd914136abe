package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local filesystem over a raw filesystem that sets
  * permission bits in-process. Without `libhadoop`,
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file,
  * `.crc` sidecar and directory a write creates: about four child
  * processes per landed parquet file, paid inside the sink's tasks. This
  * one differs from Hadoop's only in that call, so a write through it
  * leaves the same files, sidecars and permissions. */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val Key = "fs.file.impl"

  /** `setPermission` through `java.nio`: the nine rwx bits, set on the
    * path as Hadoop's `chmod` would set them. A mode with bits outside
    * rwx (sticky) and a file store with no POSIX view go through
    * Hadoop's own code. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // enum order OWNER_READ .. OTHERS_EXECUTE is bit 0400 down to 01
        PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(bit)
        }
        view.setPermissions(perms)
      }
    }
  }

  /** Per-write Hadoop options that route a `file:` sink through this
    * filesystem. `fs.file.impl.disable.cache` keeps the write from being
    * handed the stock instance the JVM has already cached for `file:`;
    * both keys are read only for `file:` paths, so the options are inert
    * for any other scheme. Empty when the session names its own
    * `fs.file.impl`: a filesystem the deployment chose is kept. */
  def writeOptions(spark: SparkSession): Map[String, String] = {
    val named = spark.conf.getOption(Key)
      .orElse(Option(spark.sparkContext.hadoopConfiguration.get(Key)))
      .exists(_.trim.nonEmpty)
    if (named) Map.empty
    else Map(Key -> classOf[NioLocalFileSystem].getName, s"$Key.disable.cache" -> "true")
  }
}
