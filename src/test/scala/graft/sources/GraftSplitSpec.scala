package graft.sources

import graft.core._
import graft.world.{DimSpec, World}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning,
  UnknownPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, Filter, GreaterThanOrEqual, LessThan, Or,
  StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sources.PlannedFiles._
import java.nio.file.Files

/** Split planning: unkeyed scans pack chunk files into parallelism-sized
  * splits by Spark's `spark.sql.files.*` rule, one task reads a split's
  * files in order, key-grouped scans keep one file per partition, and the
  * `numFiles` driver metric counts the files planned. Also the zone-map
  * pruning of a disjunction. */
class GraftSplitSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private val warehouse = Files.createTempDirectory("graft-split").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.scat", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.scat.warehouse", warehouse)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def scanExec(df: DataFrame): BatchScanExec =
    collectFirst(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.get

  private def splitsOf(df: DataFrame): Seq[GraftInputPartition] =
    scanExec(df).inputPartitions.map(_.asInstanceOf[GraftInputPartition])

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ten cells of 100 rows (c0 = d0 DIV 100), one file each; one row is
  // deleted merge-on-read in each even cell, so five files carry a
  // deletion vector and five are clean
  private val deleted = Set(3L, 207L, 455L, 631L, 899L)
  private val live = (0L until 1000L).filterNot(deleted)
  private lazy val ten: String = {
    spark.sql("CREATE TABLE scat.ten (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO scat.ten SELECT id, id * 10, id DIV 100 FROM range(0, 1000, 1, 1)")
    spark.sql(s"DELETE FROM scat.ten WHERE d0 IN (${deleted.mkString(", ")})")
    val path = s"$warehouse/ten"
    val files = new GraftScan(path, StructType(Seq(StructField("d0", LongType))),
      Array.empty).plannedFiles()
    assert(files.size == 10 && files.count(_.dvPath != null) == 5,
      s"fixture: 10 files, 5 with a deletion vector: $files")
    path
  }

  test("pack follows Spark's split size over the spark.sql.files.* settings") {
    val sizes = Seq("f" -> 5L, "c" -> 50L, "a" -> 100L, "e" -> 30L, "b" -> 50L, "d" -> 40L)
    def pack(items: Seq[(String, Long)]) = GraftSplits.pack(items)(_._2).map(_.map(_._1))
    // Σ(size + 10) = 335 over 2 partitions: splits of up to 167 bytes,
    // filled largest first; inside a split the input order is kept
    withConfs("spark.sql.files.openCostInBytes" -> "10",
        "spark.sql.files.maxPartitionBytes" -> "1000",
        "spark.sql.files.minPartitionNum" -> "2") {
      assert(pack(sizes) == Seq(Seq("c", "a"), Seq("f", "e", "b", "d")))
      assert(pack(Nil).isEmpty)
      // an unknown size (−1) costs the open cost alone
      assert(pack(Seq("x" -> -1L, "y" -> -1L)) == Seq(Seq("x", "y")))
    }
    // maxPartitionBytes caps the split below the per-core share
    withConfs("spark.sql.files.openCostInBytes" -> "10",
        "spark.sql.files.maxPartitionBytes" -> "60",
        "spark.sql.files.minPartitionNum" -> "2") {
      assert(pack(sizes) == Seq(Seq("a"), Seq("c"), Seq("b"), Seq("d"), Seq("f", "e")))
    }
  }

  test("many small files plan at most defaultParallelism splits and read exact rows") {
    import spark.implicits._
    val w = new World(spark, Files.createTempDirectory("graft-split-w").toString,
      Seq(DimSpec("d0", DimMapping(0, 63, 8)), DimSpec("d1", DimMapping(0, 63, 8))))
    w.create((for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path).select("d0", "d1")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)))
    val splits = splitsOf(df)
    assert(splits.map(_.files.length).sum == 64)
    assert(splits.length <= spark.sparkContext.defaultParallelism,
      s"64 small files must pack into <= ${spark.sparkContext.defaultParallelism} " +
        s"splits, got ${splits.length}")
    assert(scanExec(df).metrics("numFiles").value == 64L)
  }

  test("a split mixing deletion-vectored and clean files reads exact rows columnar") {
    val df = spark.read.format("graft").load(ten).select("d0", "v")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == live.map(d => (d, d * 10)))
    val splits = splitsOf(df)
    assert(splits.nonEmpty && splits.forall(_.columnar), "the scan reads columnar")
    assert(splits.length < 10 && splits.map(_.files.length).sum == 10)
    assert(splits.exists(s => s.files.exists(_.dvPath != null) &&
      s.files.exists(_.dvPath == null)),
      s"some split must mix vectored and clean files: ${splits.map(_.files.toSeq)}")
  }

  test("_file/_pos through the row reader stay paired with their own file across a split") {
    def addrs(): (Seq[(String, Long, Long)], Seq[GraftInputPartition]) = {
      val df = spark.sql("SELECT _file, _pos, d0 FROM scat.ten")
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      (rows.sorted, splitsOf(df))
    }
    ten
    val (packed, splits) = addrs()
    assert(splits.forall(!_.columnar) && splits.exists(_.files.length > 1),
      "the row reader reads multi-file splits")
    // one file per split: the plan a per-file scan made
    val (perFile, single) = withConfs("spark.sql.files.maxPartitionBytes" -> "1")(addrs())
    assert(single.length == 10 && single.forall(_.files.length == 1))
    assert(packed == perFile)
    assert(packed.map(_._3).sorted == live)
    assert(packed.forall { case (f, _, d0) => f.contains(s"c0=${d0 / 100}/") },
      "every row names the file of its own cell")
    assert(packed.map(r => (r._1, r._2)).distinct.size == packed.size)
  }

  test("a pushed LIMIT bounds each split and returns exactly limit rows") {
    ten
    for (n <- Seq(1, 150, 900)) {
      val df = spark.read.format("graft").load(ten).select("d0").limit(n)
      val got = df.collect().map(_.getLong(0))
      assert(got.length == n && got.distinct.length == n && got.forall(!deleted(_)))
      assert(scanExec(df).scan.description().contains(s"PushedLimit: $n"))
      val viaRows = spark.sql(s"SELECT _pos, d0 FROM scat.ten LIMIT $n").collect()
      assert(viaRows.length == n)
    }
    // reader level: a split serves min(limit, its live rows), both readers
    val scan = new GraftScan(ten, StructType(Seq(StructField("d0", LongType))),
      Array.empty, limit = 150)
    val rowScan = new GraftScan(ten, StructType(Seq(
      StructField(GraftDataSource.PosColumn, LongType), StructField("d0", LongType))),
      Array.empty, limit = 150)
    for (s <- Seq(scan, rowScan); p <- s.planInputPartitions()) {
      val split = p.asInstanceOf[GraftInputPartition]
      val liveRows = split.files.map(f => 100L - f.dvCount).sum
      val factory = s.createReaderFactory()
      var n = 0L
      if (split.columnar) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) n += r.get().numRows() finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) n += 1 finally r.close()
      }
      assert(n == math.min(150L, liveRows), s"split ${split.files.toSeq}")
    }
  }

  test("an ungrouped COUNT(*) packs its manifest answers; a grouped one stays keyed") {
    ten
    val df = spark.sql("SELECT count(*) FROM scat.ten")
    assert(df.collect().head.getLong(0) == live.size.toLong)
    val exec = scanExec(df)
    assert(exec.scan.isInstanceOf[GraftAggScan])
    val parts = exec.inputPartitions.map(_.asInstanceOf[GraftAggPartition])
    assert(parts.map(_.files.length).sum == 10 && parts.length < 10)
    assert(exec.metrics("numFiles").value == 10L)
    val g = spark.sql("SELECT c0, count(*) FROM scat.ten GROUP BY c0")
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 10L).map(c => (c, if (c % 2 == 0) 99L else 100L)))
    val gParts = scanExec(g).inputPartitions.map(_.asInstanceOf[GraftAggPartition])
    assert(gParts.length == 10 && gParts.forall(_.files.length == 1))
  }

  test("projecting a bucket column keeps KeyGroupedPartitioning, one file per split") {
    val keyed = new GraftScan(ten, StructType(Seq(StructField("d0", LongType),
      StructField("c0", LongType))), Array.empty)
    assert(keyed.outputPartitioning().isInstanceOf[KeyGroupedPartitioning])
    val parts = keyed.planInputPartitions().map(_.asInstanceOf[GraftInputPartition])
    assert(parts.length == 10 && parts.forall(_.files.length == 1))
    assert(parts.map(_.keyVals.toSeq).toSet == (0L until 10L).map(Seq(_)).toSet)
    assert(parts.forall(p => p.keyVals.toSeq == Seq(p.files.head.buckets("c0"))))
    val unkeyed = new GraftScan(ten, StructType(Seq(StructField("d0", LongType))),
      Array.empty)
    assert(unkeyed.outputPartitioning().isInstanceOf[UnknownPartitioning])
    assert(unkeyed.planInputPartitions().length < 10)
  }

  test("numFiles counts the planned chunk files of the 10-diagonal world") {
    import spark.implicits._
    val w = new World(spark, Files.createTempDirectory("graft-split-d").toString, Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    def numFiles(df: DataFrame): Long = {
      df.collect()
      scanExec(df).metrics("numFiles").value
    }
    val df = spark.read.format("graft").load(w.path)
    assert(numFiles(df.select("d0")) == 10L)
    assert(numFiles(df.where(col("c0") === 3).select("d0")) == 1L)
    // the keyed read plans one partition per file and counts the same
    assert(numFiles(df) == 10L)
    assert(numFiles(df.where(col("c0") === 3)) == 1L)
  }

  test("zone maps prune a disjunction: a file is kept when any leg might match") {
    spark.sql("CREATE TABLE scat.zor (id BIGINT, v BIGINT, s STRING, c0 BIGINT)")
    // four commits into one cell, one file each: id bounds [0,99],
    // [100,199], [200,299], [300,399]; v = 2 * id
    for (k <- 0 until 4)
      spark.sql(s"INSERT INTO scat.zor SELECT id, id * 2, concat('s', id), 0 " +
        s"FROM range(${k * 100}, ${(k + 1) * 100}, 1, 1)")
    val path = s"$warehouse/zor"
    val cols = StructType(Seq(StructField("id", LongType), StructField("v", LongType),
      StructField("s", StringType)))
    def planned(residual: Filter*): Int =
      new GraftScan(path, cols, Array.empty, residual = residual.toArray)
        .plannedFiles().length
    assert(planned() == 4)
    // id < 50 holds only in file 0; v >= 700 (id >= 350) only in file 3
    val or = Or(LessThan("id", 50L), GreaterThanOrEqual("v", 700L))
    assert(planned(or) == 2)
    // a partly translated leg keeps its translated atoms
    assert(planned(Or(And(LessThan("id", 50L), StringStartsWith("s", "s1")),
      GreaterThanOrEqual("v", 700L))) == 2)
    // a leg with no atom could match anything: nothing is pruned
    assert(planned(Or(LessThan("id", 50L), StringStartsWith("s", "s1"))) == 4)
    // nested disjunctions: a third leg inside file 1
    assert(planned(Or(or, And(GreaterThanOrEqual("id", 150L), LessThan("id", 160L)))) == 3)
    assert(new GraftScan(path, cols, Array.empty, residual = Array(or)).description()
      .contains("ZoneSkipCols: [id, v]"))
    // end to end: exact rows, two files planned
    val df = spark.sql("SELECT id FROM scat.zor WHERE id < 50 OR v >= 700")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 50L) ++ (350L until 400L)))
    assert(scanExec(df).metrics("numFiles").value == 2L)
  }

  test("boundsMightMatch: a disjunction holds when any leg holds") {
    import GraftBloom.{OrAtom, RangeAtom}
    val b = Map("id" -> (10L, 20L))
    def m(atom: GraftBloom.SkipAtom) =
      GraftStats.boundsMightMatch(b, Map.empty, Seq(atom), Map.empty)
    // id < 5 OR id > 30: both legs refuted
    assert(!m(OrAtom(Seq(Seq(RangeAtom("id", 2, 5L)), Seq(RangeAtom("id", 4, 30L))))))
    // id < 5 OR id > 15: the second leg might hold
    assert(m(OrAtom(Seq(Seq(RangeAtom("id", 2, 5L)), Seq(RangeAtom("id", 4, 15L))))))
    // a leg is a conjunction: (id > 15 AND id < 5) is refuted
    assert(!m(OrAtom(Seq(Seq(RangeAtom("id", 4, 15L), RangeAtom("id", 2, 5L)),
      Seq(RangeAtom("id", 4, 30L))))))
    // an unknown column keeps its leg
    assert(m(OrAtom(Seq(Seq(RangeAtom("nope", 2, 5L)), Seq(RangeAtom("id", 2, 5L))))))
  }
}
