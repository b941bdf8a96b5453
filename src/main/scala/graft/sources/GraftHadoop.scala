package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

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
}
