package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{LocalOutputFile, OutputFile, PositionOutputStream}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

/** The connector's one source of Hadoop configuration.
  *
  * Driver-side planning and commit code reads the active session's
  * `sparkContext.hadoopConfiguration` ([[conf]], [[fs]]), as `World`, `ops/`
  * and `queries/` do, so `spark.hadoop.*` settings (object-store
  * credentials, `fs.<scheme>.impl`) reach every connector file-system call.
  * That conf is shared: callers never `set` on it.
  *
  * Executor-side readers and writers cannot see the session. Their
  * factories carry the conf [[ship]]ped once per scan or write. A reader or
  * writer that sets per-file keys clones it first
  * (`new Configuration(shipped.value)`), which copies the already-parsed
  * properties.
  *
  * A freshly constructed `Configuration` parses Hadoop's default XML
  * resources on first use, and the one-argument `ParquetFileReader.open`
  * builds one more inside its default read options, so every footer open
  * goes through [[openFooter]].
  *
  * Every file the connector creates goes through [[create]] (streams) or
  * [[outputFile]] (parquet writers). On the local file system they write
  * through `java.nio`: without libhadoop, `LocalFileSystem.create` forks a
  * `chmod` process for the file and another for its `.crc`. The nio path
  * sets the same mode with one syscall and writes no `.crc` (Hadoop reads
  * a file without one unchecked). Every other store is written through
  * its own `FileSystem`.
  */
object GraftHadoop {
  /** The active session's Hadoop conf (driver-side only). */
  def conf: Configuration = SparkSession.active.sparkContext.hadoopConfiguration

  def fs(path: String): FileSystem = FileSystem.get(new java.net.URI(path), conf)
  def fs(path: Path): FileSystem = FileSystem.get(path.toUri, conf)

  /** The session conf for executor-side readers and writers, broadcast once
    * per scan or write (the way Spark's own `ParquetFileFormat` ships its
    * conf). Not copied: a local-mode task reads the session's own object,
    * an executor in another JVM its deserialized copy. */
  def ship(): Shipped = {
    val sc = SparkSession.active.sparkContext
    new Shipped(sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }

  /** A [[ship]]ped conf. Shared by every task of the executor: clone
    * before setting keys. */
  final class Shipped private[GraftHadoop] (
      b: Broadcast[SerializableConfiguration]) extends Serializable {
    def value: Configuration = b.value.value
  }

  /** Opens a parquet footer with read options built from the file's conf. */
  def openFooter(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())

  def openFooter(file: Path, conf: Configuration): ParquetFileReader =
    openFooter(HadoopInputFile.fromPath(file, conf))

  /** Whether `fs` is the local file system, the one [[create]] and
    * [[outputFile]] write through `java.nio`. Decided on the resolved file
    * system, so a scheme-less path under a non-local `fs.defaultFS` goes
    * to that store. */
  def isLocal(fs: FileSystem): Boolean = "file" == fs.getUri.getScheme

  /** Creates `path` for writing. With `overwrite = false` the create is
    * atomic on the local file system and fails with Hadoop's
    * [[FileAlreadyExistsException]] if the file exists; elsewhere it is
    * whatever the store's `create(path, false)` guarantees. */
  def create(fs: FileSystem, path: Path, overwrite: Boolean): java.io.OutputStream =
    if (!isLocal(fs)) fs.create(path, overwrite)
    else {
      val f = localPath(fs, path)
      val opts =
        if (overwrite) Seq(StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        else Seq(StandardOpenOption.CREATE_NEW)
      new java.io.BufferedOutputStream(
        openLocal(f, fs.getConf)(Files.newOutputStream(f, opts: _*)))
    }

  /** The parquet output file of `path`: written through `java.nio` on the
    * local file system (see [[create]]), through Hadoop elsewhere. */
  def outputFile(path: Path, conf: Configuration): OutputFile = {
    val fs = path.getFileSystem(conf)
    if (isLocal(fs)) new LocalParquetFile(localPath(fs, path), fs.getConf)
    else HadoopOutputFile.fromPath(path, conf)
  }

  private final class LocalParquetFile(f: java.nio.file.Path, fsConf: Configuration)
      extends LocalOutputFile(f) {
    override def create(blockSizeHint: Long): PositionOutputStream =
      openLocal(f, fsConf)(super.create(blockSizeHint))
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      openLocal(f, fsConf)(super.createOrOverwrite(blockSizeHint))
  }

  private def localPath(fs: FileSystem, path: Path): java.nio.file.Path =
    new java.io.File(fs.makeQualified(path).toUri.getPath).toPath

  /** Opens a local file the way `LocalFileSystem` does when it writes no
    * checksum: parent directories first; then the file mode its forked
    * `chmod` would set, the file default under the conf's umask; and no
    * stale `.crc` left beside the new bytes. */
  private def openLocal[S <: java.io.Closeable](f: java.nio.file.Path,
      fsConf: Configuration)(open: => S): S = {
    Files.createDirectories(f.getParent)
    val s =
      try open
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
    try {
      Files.setPosixFilePermissions(f, fileMode(fsConf))
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    } catch { case e: Throwable => s.close(); throw e }
    s
  }

  /** The mode Hadoop gives a new file: `rw-rw-rw-` under the conf's umask. */
  private[sources] def fileMode(conf: Configuration): java.util.Set[PosixFilePermission] = {
    val bits = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toShort
    // OWNER_READ .. OTHERS_EXECUTE, high bit first
    val all = PosixFilePermission.values
    all.indices.filter(i => (bits & (1 << (8 - i))) != 0).map(all(_)).toSet.asJava
  }
}
