package graft.sources

import java.net.URI
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the `specfs:` scheme: it counts the
  * `listStatus` calls on each path and refuses every write under a root
  * marked read-only ([[SpecFs.readOnly]]). Running as root ignores file
  * modes, so a read-only store is made here, not with `chmod`.
  */
class SpecFs extends RawLocalFileSystem {
  override def getUri: URI = SpecFs.Uri
  override def getScheme: String = SpecFs.Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    SpecFs.listings.merge(SpecFs.key(f), 1, _ + _)
    super.listStatus(f)
  }

  private def writable(f: Path): Unit = {
    val k = SpecFs.key(f)
    if (SpecFs.readOnlyRoots.keySet.stream.anyMatch(r => k == r || k.startsWith(r + "/")))
      throw new java.nio.file.AccessDeniedException(k, null, "read-only store")
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writable(f); super.mkdirs(f, permission) }
  override def mkdirs(f: Path): Boolean = { writable(f); super.mkdirs(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writable(f); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writable(f); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writable(src); writable(dst); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writable(f); super.delete(f, recursive) }
}

object SpecFs {
  val Scheme = "specfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val listings = new ConcurrentHashMap[String, Int]
  private val readOnlyRoots = new ConcurrentHashMap[String, Unit]

  private def key(f: Path): String = f.toUri.getPath.stripSuffix("/")

  /** Register the scheme with `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[SpecFs].getName)

  /** `local` (a plain local path) as a `specfs:` URI. */
  def uri(local: String): String = s"$Scheme://$local"

  /** The `listStatus` calls on `local` so far. */
  def listed(local: String): Int = listings.getOrDefault(local.stripSuffix("/"), 0)

  /** Refuse every write under `local` from now on. */
  def readOnly(local: String): Unit = readOnlyRoots.put(local.stripSuffix("/"), ())
}
