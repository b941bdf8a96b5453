package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}

/** Coverage for connector pieces that only execute on paths the
  * integration tests don't take: offset deserialization happens on STREAM
  * RESTART (StreamingSpec runs a single uninterrupted query), and INT96
  * timestamps only arrive in files from writers configured for the legacy
  * timestamp layout — read here end to end, from a Spark-written file.
  */
class GraftSourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("partial-binding filter evaluation prunes subtrees only when decidable") {
    import org.apache.spark.sql.sources._
    val c0only = Map("c0" -> 5L) // c1 not yet bound (outer directory level)
    // decidable from c0 alone
    assert(!GraftDataSource.mayMatch(EqualTo("c0", 3L), c0only), "c0=3 vs c0=5 prunes")
    assert(GraftDataSource.mayMatch(EqualTo("c0", 5L), c0only))
    assert(!GraftDataSource.mayMatch(In("c0", Array(1L, 2L)), c0only))
    assert(!GraftDataSource.mayMatch(LessThan("c0", 5L), c0only))
    // undecidable: references the unbound c1 -> must keep the subtree
    assert(GraftDataSource.mayMatch(EqualTo("c1", 3L), c0only))
    assert(GraftDataSource.mayMatch(And(EqualTo("c0", 5L), EqualTo("c1", 3L)), c0only))
    // And with a decidably-false leg prunes even though the other is unbound
    assert(!GraftDataSource.mayMatch(And(EqualTo("c0", 3L), EqualTo("c1", 3L)), c0only))
    // Or needs BOTH legs decidably false to prune
    assert(GraftDataSource.mayMatch(Or(EqualTo("c0", 3L), EqualTo("c1", 3L)), c0only))
    assert(!GraftDataSource.mayMatch(Or(EqualTo("c0", 3L), In("c0", Array(9L))), c0only))
    // Not flips decidable values and stays undecidable otherwise
    assert(!GraftDataSource.mayMatch(Not(EqualTo("c0", 5L)), c0only))
    assert(GraftDataSource.mayMatch(Not(EqualTo("c1", 5L)), c0only))
    // full binding degenerates to the exact leaf evaluation
    val full = Map("c0" -> 5L, "c1" -> 3L)
    assert(GraftDataSource.mayMatch(And(EqualTo("c0", 5L), EqualTo("c1", 3L)), full))
    assert(!GraftDataSource.mayMatch(And(EqualTo("c0", 5L), EqualTo("c1", 4L)), full))
  }

  test("stream offset JSON round-trips, including escaped quotes and backslashes") {
    val files = Seq(
      "/data/w/c0=1/part-0-1-0.parquet",
      "/odd path/with \"quotes\".parquet",
      "c:\\windows\\style\\path.parquet").sorted
    val json = GraftStreamOffset(files).json()
    assert(GraftStreamOffset.parse(json) == files, json)
    // empty offset (initialOffset) round-trips too
    assert(GraftStreamOffset.parse(GraftStreamOffset(Seq.empty).json()) == Seq.empty)
  }

  test("INT96 timestamps decode to epoch micros (Julian day + nanos-of-day, little-endian)") {
    import spark.implicits._
    // epoch; epoch + 1 day + 1.5 ms; noon of the day before the epoch
    val micros = Seq(0L, 86400000000L + 1500L, -86400000000L + 43200000000L)
    val root = Files.createTempDirectory("graft-int96").toString
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try micros.toDF("m").selectExpr("timestamp_micros(m) AS ts").coalesce(1)
      .write.parquet(root + "/c0=0")
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val file = new java.io.File(root + "/c0=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString),
        spark.sparkContext.hadoopConfiguration))
    val stored = try pfr.getFooter.getFileMetaData.getSchema.getFields.get(0)
      .asPrimitiveType.getPrimitiveTypeName finally pfr.close()
    assert(stored == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("c0", LongType)))
    Files.write(Paths.get(root, "_graft_schema.json"), schema.json.getBytes("UTF-8"))
    val got = spark.read.format("graft").load(root)
      .selectExpr("unix_micros(ts)").as[Long].collect().sorted.toSeq
    assert(got == micros.sorted)
  }
}
