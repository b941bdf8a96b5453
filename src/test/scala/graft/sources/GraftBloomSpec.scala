package graft.sources

import graft.core._
import graft.world.{DimSpec, World}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import graft.sources.PlannedFiles._

/** File-level bloom skipping for point lookups on non-bucket columns:
  * write-side bloom production on every write path, sidecar registration,
  * and planning-time file drops that never schedule a task for a chunk the
  * bloom proves irrelevant (see sources/GraftBloom.scala).
  */
class GraftBloomSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-bloom").toString

  private def dims1(ipc: Long, end: Long = 1023L) =
    Seq(DimSpec("d0", DimMapping(0, end, ipc)))

  /** 1024 rows over 8 chunks of d0; `doc` is a high-cardinality non-dim
    * column whose values are disjoint across chunks (doc = 10000 + d0). */
  private def mkWorld(bloom: Boolean): World = {
    import spark.implicits._
    val w = new World(spark, tmp(), dims1(128))
    val df = (0L until 1024L).toDF("d0")
      .withColumn("doc", col("d0") + 10000L)
      .withColumn("tag", concat(lit("t"), (col("d0") % 7).cast("string")))
    w.create(df, bloomColumns = if (bloom) Seq("doc", "tag") else Nil)
    w
  }

  private def chunkFiles(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(path)).map(_.toString)
  }

  private def scanOf(path: String, residual: Array[org.apache.spark.sql.sources.Filter]) =
    new GraftScan(path,
      StructType(Seq(StructField("d0", LongType), StructField("doc", LongType))),
      pushed = Array.empty, residual = residual)

  test("create(bloomColumns) registers the sidecar and writes parquet blooms") {
    val w = mkWorld(bloom = true)
    val fs = FileSystem.get(new java.net.URI(w.path), new Configuration())
    assert(GraftBloom.columns(fs, new Path(w.path)) == Seq("doc", "tag"))
    // every chunk file carries a bloom on both registered columns
    val files = chunkFiles(w.path)
    assert(files.size == 8, s"8 chunks expected, got ${files.size}")
    files.foreach { f =>
      val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(f), new Configuration()))
      try {
        val rg = pfr.getRowGroups.get(0)
        val it = rg.getColumns.iterator()
        var seen = Set.empty[String]
        while (it.hasNext) {
          val cc = it.next()
          val name = cc.getPath.toDotString
          // doc is high-cardinality -> physical bloom pages; tag is fully
          // dictionary-encoded -> parquet deliberately omits the bloom (the
          // dictionary serves as the exact filter; see dictionaryRefutes)
          if (name == "doc") {
            assert(pfr.getBloomFilterDataReader(rg).readBloomFilter(cc) != null,
              s"column $name of $f lacks a bloom filter")
            seen += name
          }
        }
        assert(seen == Set("doc"))
      } finally pfr.close()
    }
  }

  test("dictionary refutation skips files for low-cardinality columns") {
    val w = mkWorld(bloom = true)
    val conf = new Configuration()
    val f = chunkFiles(w.path).head
    // every chunk holds t0..t6; t9 never occurs -> dictionary proves absence
    assert(GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("tag", Array[Any]("t3")))))
    assert(!GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("tag", Array[Any]("t9")))))
    val miss = scanOf(w.path, Array(EqualTo("tag", "t9"))).plannedFiles()
    assert(miss.isEmpty, s"absent tag planned ${miss.length} files")
  }

  test("planning drops files the bloom refutes; the owning chunk survives") {
    val w = mkWorld(bloom = true)
    val total = chunkFiles(w.path).size
    // present value: exactly the owning chunk's file survives (values are
    // disjoint across chunks, and a bloom's false-positive rate over 7
    // foreign files is negligible at these sizes — but tolerate FPs)
    val hit = scanOf(w.path, Array(EqualTo("doc", 10000L + 515L)))
      .plannedFiles()
    assert(hit.length >= 1 && hit.length < total,
      s"expected a strict file drop, planned ${hit.length}/$total")
    // absent value: every file refuted, zero tasks scheduled
    val miss = scanOf(w.path, Array(EqualTo("doc", 999999L)))
      .plannedFiles()
    assert(miss.isEmpty, s"absent key planned ${miss.length} files")
    // IN with one present candidate keeps the owning file
    val in = scanOf(w.path, Array(In("doc", Array(999999L, 10000L))))
      .plannedFiles()
    assert(in.length >= 1 && in.length < total)
  }

  test("range predicates on registered columns drop files via footer min/max") {
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThanOrEqual}
    val w = mkWorld(bloom = true)
    val total = chunkFiles(w.path).size
    // doc = d0 + 10000 and the intra-chunk dim sort keeps per-file doc
    // ranges disjoint: a 100-wide band overlaps at most 2 of 8 files
    val band = scanOf(w.path, Array(
      GreaterThanOrEqual("doc", 10200L), LessThanOrEqual("doc", 10300L)))
      .plannedFiles()
    assert(band.length >= 1 && band.length <= 2,
      s"band should plan <=2 of $total files, planned ${band.length}")
    // an out-of-domain range refutes every file
    val none = scanOf(w.path, Array(GreaterThan("doc", 99999L)))
      .plannedFiles()
    assert(none.isEmpty, s"absent range planned ${none.length} files")
    // end-to-end: the banded read is row-exact
    val got = spark.read.format("graft").load(w.path)
      .where(col("doc") >= 10200L && col("doc") <= 10300L)
      .select("d0").collect().map(_.getLong(0)).toSet
    assert(got == (200L to 300L).toSet)
  }

  test("end-to-end read through the connector stays row-exact") {
    val w = mkWorld(bloom = true)
    val got = spark.read.format("graft").load(w.path)
      .where(col("doc") === 10515L)
      .select("d0", "doc", "tag").collect()
    assert(got.length == 1 && got(0).getLong(0) == 515L &&
      got(0).getString(2) == "t" + (515 % 7))
    // string-typed bloom column: same discipline
    val t3 = spark.read.format("graft").load(w.path)
      .where(col("tag") === "t3" && col("d0") === 3L).collect()
    assert(t3.length == 1)
    // absent key reads empty (plan is zero partitions, result is exact)
    assert(spark.read.format("graft").load(w.path)
      .where(col("doc") === 999999L).isEmpty)
  }

  test("a bloom-less world keeps every file (no skipping, no harm)") {
    val w = mkWorld(bloom = false)
    val total = chunkFiles(w.path).size
    val planned = scanOf(w.path, Array(EqualTo("doc", 999999L)))
      .plannedFiles()
    assert(planned.length == total, "without registered blooms nothing drops")
  }

  test("connector writes inherit blooms via option and sidecar") {
    import spark.implicits._
    val path = tmp()
    // first write registers via option; the world is virgin (sidecar write)
    (0L until 64L).toDF("d0")
      .withColumn("c0", (col("d0") / 16L).cast("long"))
      .withColumn("doc", col("d0") + 500L)
      .write.format("graft").option(GraftBloom.OptionKey, "doc")
      .mode("append").save(path)
    val fs = FileSystem.get(new java.net.URI(path), new Configuration())
    assert(GraftBloom.columns(fs, new Path(path)) == Seq("doc"))
    // second write passes NO option — the sidecar keeps it blooming
    (64L until 128L).toDF("d0")
      .withColumn("c0", (col("d0") / 16L).cast("long"))
      .withColumn("doc", col("d0") + 500L)
      .write.format("graft").mode("append").save(path)
    val files = chunkFiles(path)
    assert(files.nonEmpty)
    files.foreach { f =>
      val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(f), new Configuration()))
      try {
        val rg = pfr.getRowGroups.get(0)
        val it = rg.getColumns.iterator()
        while (it.hasNext) {
          val cc = it.next()
          if (cc.getPath.toDotString == "doc")
            assert(pfr.getBloomFilterDataReader(rg).readBloomFilter(cc) != null,
              s"connector-written file $f lacks the doc bloom")
        }
      } finally pfr.close()
    }
    // and the point lookup skips: value present only in c0=7's range
    val planned = scanOf(path, Array(EqualTo("doc", 500L + 127L)))
      .plannedFiles()
    assert(planned.length < files.size)
  }

  test("fileMightMatch semantics: AND of atoms, unknown columns keep") {
    val w = mkWorld(bloom = true)
    val f = chunkFiles(w.path).sorted.head // c0=0: d0 0..127, doc 10000..10127
    val conf = new Configuration()
    assert(GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("doc", Array[Any](10005L)))))
    assert(!GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("doc", Array[Any](10500L)))))
    // one impossible atom kills the conjunction even if the other holds
    assert(!GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("doc", Array[Any](10005L)),
        GraftBloom.EqAtom("doc", Array[Any](10500L)))))
    // a column absent from the file schema cannot refute
    assert(GraftBloom.fileMightMatch(conf, f,
      Seq(GraftBloom.EqAtom("nope", Array[Any](1L)))))
  }

  test("runtime (join-delivered) filters on registered columns skip files") {
    val w = mkWorld(bloom = true)
    // unit: a runtime EqualTo on the registered high-cardinality column
    // drops planning to the one file whose bloom can hold the key
    val scan = scanOf(w.path, Array.empty)
    val all = scan.plannedFiles().length
    assert(all == 8)
    assert(scan.filterAttributes().map(_.toString).toSet == Set("doc"),
      "registered data columns are declared filterable (no bucket col in " +
        "this projection; WorldSpec pins the bucket-col declaration)")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("doc", 10500L)))
    assert(scan.plannedFiles().length == 1,
      "runtime key must skip the 7 files whose blooms refute it")
    // an UNregistered world ignores the same runtime filter (never over-prunes)
    val w2 = mkWorld(bloom = false)
    val s2 = scanOf(w2.path, Array.empty)
    s2.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("doc", 10500L)))
    assert(s2.plannedFiles().length == 8)
    assert(s2.filterAttributes().isEmpty,
      "unregistered world, bucket-free projection: nothing filterable")

    // end-to-end: a selective broadcast dim joined on `doc` — Spark plants
    // the dynamic IN-subquery (doc is declared filterable), materialized
    // keys reach filter(), and the executed scan shows the runtime skip
    import spark.implicits._
    val dim = spark.range(0, 1024).select((col("id") + 10000L).as("doc"),
      (col("id") % 512).as("k"))
    val q = spark.read.format("graft").load(w.path)
      .join(broadcast(dim.where(col("k") === 7)), "doc")
    assert(q.collect().map(_.getAs[Long]("d0")).toSet == Set(7L, 519L))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"planner must insert the dynamic pruning subquery:\n$p")
    assert(p.contains("RuntimeBloomSkipCols: [doc]"),
      s"materialized join keys must reach the bloom skip:\n$p")
  }

  test("a row-level scan's file recorder holds only post-bloom survivors") {
    // retirement soundness: a bloom-refuted file's rows are never read, so
    // the rewrite never re-emits them — recording it for retirement (the
    // pre-fix behavior) would delete them from the manifest silently
    val w = mkWorld(bloom = true)
    val rec = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val scan = new GraftScan(w.path,
      StructType(Seq(StructField("d0", LongType), StructField("doc", LongType))),
      pushed = Array.empty, fileRecorder = Some(rec))
    // runtime join-delivered key on the registered column (what a MERGE's
    // group filter would deliver): 7 of 8 files bloom-refuted
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("doc", 10500L)))
    val planned = scan.plannedFiles()
    assert(planned.length < 8, s"bloom skip must engage, planned ${planned.length}")
    assert(rec.size == planned.length,
      s"recorder must equal the survivor set: rec=${rec.size} planned=${planned.length}")
    // row-level scans advertise a single attribute (translatable runtime
    // filter); with no bucket column projected it is the bloom column
    assert(scan.filterAttributes().map(_.toString).toSeq == Seq("doc"))
  }
}
