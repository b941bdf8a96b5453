package graft.world

import graft.core._
import graft.sources.PlannedFiles._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Ports of the reference's world tests (/root/reference/src/tests.rs,
  * tokio-fs/src/tests.rs; FIXTURES §A) onto the Spark World: insert routing,
  * remove, save/load, select streaming, mutation, and relocation
  * (re-bucket-on-write).
  */
class WorldSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-world").toString

  private def dims2(ipc0: Long, ipc1: Long, end: Long = 1023L) = Seq(
    DimSpec("d0", DimMapping(0, end, ipc0)),
    DimSpec("d1", DimMapping(0, end, ipc1))
  )

  private def rows(vs: (Long, Long)*) = {
    import spark.implicits._
    vs.toDF("d0", "d1")
  }

  test("buf_insert: insert routes to correct chunk (src/tests.rs:8-33, w_8x16_1024)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L)))
    // chunk pos: (114/8, 514/16) = (14, 32)
    val got = w.df.where(col("c0") === 14 && col("c1") === 32).collect()
    assert(got.length == 1 && got(0).getAs[Long]("d0") == 114L)
    val dir = new java.io.File(w.path + "/c0=14/c1=32")
    assert(dir.isDirectory, "partition directory = chunk grid cell")
  }

  test("buf_remove: remove by id empties the chunk (src/tests.rs:35-69)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L)))
    assert(w.destroy(Seq(114L)) == 1L)
    assert(w.df.count() == 0)
    // the emptied cell's bytes stay in place (manifest-only retirement —
    // the destroy is a versioned commit, pre-delete snapshots keep
    // reading them); LIVE reads and the connector plan see no cell
    assert(spark.read.format("graft").load(w.path).count() == 0,
      "emptied cell invisible to live reads")
  }

  test("buf_save_load: round-trip through a fresh world handle (src/tests.rs:71-132)") {
    val path = tmp()
    val w = new World(spark, path, dims2(8, 16))
    w.create(rows((114L, 514L)))
    val w2 = new World(spark, path, dims2(8, 16))
    val got = w2.selectAll.iter().select("d0", "d1").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((114L, 514L)))
  }

  test("select: select_all streams exactly the inserted rows (src/tests.rs:134-175, w_25x25_100)") {
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 25)), DimSpec("d1", DimMapping(0, 99, 25))))
    w.create(rows((10L, 39L), (99L, 20L)))
    val all = w.selectAll.iter().select("d0", "d1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((10L, 39L), (99L, 20L)))
    // ranged: d0 in 0..50 -> chunks 0..=1 -> only (10,39)
    val some = w.select(0, Bounds.until(0, 50)).iter().select("d0").collect()
    assert(some.map(_.getLong(0)).toSet == Set(10L))
  }

  test("chunk-granular contract: iter() returns whole chunks, caller filters exactly (SURVEY §2.2)") {
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 25)), DimSpec("d1", DimMapping(0, 99, 25))))
    w.create(rows((10L, 39L), (20L, 10L), (99L, 20L)))
    // select d0 in [15..=20]: chunk 0 (0..24) -> includes row d0=10 too
    val granular = w.select(0, Bounds.to(15, 20)).iter().select("d0").collect()
      .map(_.getLong(0)).toSet
    assert(granular == Set(10L, 20L), "rounded out to chunk boundary")
    val exact = w.select(0, Bounds.to(15, 20)).iter()
      .where(col("d0").between(15, 20)).select("d0").collect().map(_.getLong(0)).toSet
    assert(exact == Set(20L))
  }

  test("and/plus compose intersect/union over chunk sets (src/world.rs:595-614)") {
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create(rows((5L, 5L), (15L, 15L), (25L, 25L), (85L, 85L)))
    val andSel = w.select(0, Bounds.to(0, 19)).and(1, Bounds.to(10, 29))
    assert(andSel.iter().select("d0").collect().map(_.getLong(0)).toSet == Set(15L))
    val plusSel = w.select(0, Bounds.to(0, 9)).plus(1, Bounds.to(80, 89))
    assert(plusSel.iter().select("d0").collect().map(_.getLong(0)).toSet == Set(5L, 85L))
  }

  test("hint: isin pruning on dim 0 (src/world.rs:616-636)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((1L, 1L), (2L, 2L), (3L, 3L)))
    val got = w.selectAll.hints(Seq(1L, 3L)).iter().select("d0").collect()
    assert(got.map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("out-of-range select -> empty (Shape::None, src/world.rs:301-329)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L)))
    assert(w.select(0, Bounds.to(0, 5000)).iter().count() == 0)
  }

  test("insert: replace-on-conflict returns displaced count (src/world.rs:124-150)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L), (7L, 7L)))
    val displaced = w.insert(rows((114L, 600L), (500L, 500L)))
    assert(displaced == 1L)
    val got = w.df.select("d0", "d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((114L, 600L), (7L, 7L), (500L, 500L)))
  }

  test("try_insert: insert-if-absent rejects existing ids (src/world.rs:152-178)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L)))
    val rejected = w.tryInsert(rows((114L, 600L), (9L, 9L)))
    assert(rejected == 1L)
    val got = w.df.select("d0", "d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((114L, 514L), (9L, 9L)), "existing id kept its old row")
  }

  test("io_modify/buf_modify + relocation: mutate d1 -> row moves chunks (src/tests.rs:177-268)") {
    // w_32x32_1024: [114,514] -> mutate d1 to 810; chunk (3,16) -> (3,25)
    val w = new World(spark, tmp(), dims2(32, 32))
    w.create(rows((114L, 514L)))
    assert(new java.io.File(w.path + "/c0=3/c1=16").isDirectory)
    val n = w.update(col("d0") === 114L, Map("d1" -> lit(810L)))
    assert(n == 1L)
    val got = w.df.select("d0", "d1", "c0", "c1").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[Long]("d1") == 810L)
    assert(r.getAs[Int]("c1").toLong == 25L, "re-bucketed into new chunk")
    // old cell retired in the manifest (bytes stay for snapshots); the
    // live read must not resurrect the pre-move row
    assert(spark.read.format("graft").load(w.path)
      .where(col("c1") === 16L).count() == 0, "old chunk cell retired")
    assert(new java.io.File(w.path + "/c0=3/c1=25").isDirectory)
  }

  test("update with NULL-evaluating condition keeps the NULL rows (3VL, ADVICE r1)") {
    import spark.implicits._
    val w = new World(spark, tmp(), dims2(8, 16))
    // v is nullable: cond `v === 1` is NULL for the (3, _, None) row — that
    // row is neither hit nor negated, and must survive the rewrite
    val in = Seq((1L, 1L, Some(1L)), (2L, 2L, Some(2L)), (3L, 3L, None: Option[Long]))
      .toDF("d0", "d1", "v")
    w.create(in)
    val n = w.update(col("v") === 1L, Map("v" -> lit(100L)))
    assert(n == 1L)
    val got = w.df.select("d0", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 2L), (3L, -1L)),
      "cond=NULL row retained untouched")
  }

  test("and with out-of-range bounds is a NO-OP, not an emptying (src/world.rs:598-605)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L)))
    // reference: `if let Shape::Single(v) = select(dim, value).shape` — an
    // out-of-range inner select leaves the selection unchanged
    val sel = w.selectAll.and(1, Bounds.to(5000, 9000))
    assert(sel.iter().count() == 1L, "selection unchanged by out-of-range and()")
    // select() itself still maps out-of-range to empty
    assert(w.select(1, Bounds.to(5000, 9000)).iter().count() == 0L)
  }

  test("applyDelta: removes + replace-upserts + fresh inserts in ONE rewrite") {
    import spark.implicits._
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((1L, 1L), (2L, 2L), (3L, 3L), (114L, 514L)))
    // remove 2; replace 3's dims (relocates); insert fresh 200
    val (removed, displaced) = w.applyDelta(
      Seq(2L).toDF("d0"),
      rows((3L, 900L), (200L, 5L)))
    assert(removed == 1L && displaced == 1L, s"($removed, $displaced)")
    assert(w.df.select("d0", "d1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (3L, 900L), (200L, 5L), (114L, 514L)))
    // an id in BOTH sides: the upsert wins (delete-then-insert semantics)
    val (r2, d2) = w.applyDelta(Seq(1L).toDF("d0"), rows((1L, 77L)))
    assert(r2 == 1L && d2 == 1L)
    assert(w.df.where(col("d0") === 1).select("d1")
      .collect().map(_.getLong(0)).toSeq == Seq(77L))
  }

  test("destroy by id DataFrame (scale path: semi/anti join, no isin)") {
    import spark.implicits._
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((1L, 1L), (2L, 2L), (114L, 514L)))
    val n = w.destroy(Seq(2L, 114L).toDF("d0"))
    assert(n == 2L)
    assert(w.df.select("d0").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("DataSource V2: spark.read.format(\"graft\") round-trips with chunk pruning pushed") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    // full round-trip through the connector's own reader
    assert(df.select("d0").as[Long].collect().sorted.toSeq == (0L until 100L))
    // bucket predicate is consumed at planning: only chunk c0=3 is planned
    val q = df.where(col("c0") === 3)
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.inputPartitions.length == 1,
      s"pruning must plan 1 of 10 diagonal chunks, got ${scan.inputPartitions.length}")
    assert(q.select("d1").as[Long].collect().toSet == (30L until 40L).toSet)
    // count-only scan (no data columns) uses the footer row count
    assert(df.count() == 100L)
  }

  test("DataSource V2 stats: post-prune size reported; a small world auto-broadcasts unhinted") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    // reported size is the chunk-file byte sum, and a pushed bucket filter
    // shrinks it to the surviving chunks' bytes
    val full = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = df.where(col("c0") === 3).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(full > 0 && full < 10L * 1024 * 1024, s"kilobyte world must report real bytes, got $full")
    assert(pruned > 0 && pruned < full,
      s"pruned scan must report only surviving chunks: $pruned vs $full")
    // the planning consequence: joined to a fact side sized ABOVE the
    // broadcast threshold (range stats ~16 MB > 10 MB default), the only
    // BroadcastHashJoin Spark can produce is one broadcasting the world —
    // pre-stats a V2 relation sized as defaultSizeInBytes and this join
    // could only shuffle
    val fact = spark.range(0, 2000000).select(col("id") % 100 as "d0", col("id") as "v")
    val joined = fact.join(df.select("d0", "d1"), "d0")
    assert(joined.count() == 2000000L)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"unhinted small-world join must auto-broadcast the world side:\n$p")
  }

  test("DataSource V2 runtime filtering: join-delivered bucket filters prune chunk planning") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    // unit level: a runtime EqualTo on a bucket column shrinks the planned
    // partitions exactly like a pushed one (10 diagonal chunks -> 1)
    val scanExec = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val scan = scanExec.scan.asInstanceOf[graft.sources.GraftScan]
    assert(scan.plannedFiles().length == 10)
    assert(scan.filterAttributes().map(_.toString).toSet == Set("c0", "c1"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("c0", 3L)))
    assert(scan.plannedFiles().length == 1,
      "runtime bucket filter must prune chunk planning")
    // non-bucket runtime filters are ignored, never over-prune
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("d1", 35L)))
    assert(scan.plannedFiles().length == 10)
    // end-to-end: Spark's PartitionPruning plants a dynamic IN-subquery of
    // the broadcast dim's join keys and delivers the materialized values to
    // this scan before partition planning (a LocalRelation dim would NOT
    // trigger it — its selective filter constant-folds away; Range keeps a
    // real Filter node)
    val dim = spark.range(0, 10).select(col("id").as("c0"), (col("id") % 3).as("k"))
    val q = spark.read.format("graft").load(w.path)
      .join(broadcast(dim.where(col("k") === 0)), "c0")
    // execute q ITSELF (a projection would finalize a different plan and
    // this one's runtime filter() would never run)
    assert(q.collect().map(_.getAs[Long]("d0")).toSet ==
      ((0L until 10L) ++ (30L until 40L) ++ (60L until 70L) ++ (90L until 100L)).toSet)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"planner must insert the dynamic pruning subquery:\n$p")
    assert(p.contains("RuntimeBucketFilters: [In(c0"),
      s"materialized join keys must reach the scan's runtime filter:\n$p")
  }

  test("DataSource V2 aggregate pushdown: COUNT(*) answered from footers, residual filters block it") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    // plain count: pushed, answered from footer metadata
    val c = df.groupBy().count()
    assert(c.collect().head.getLong(0) == 100L)
    val p = c.queryExecution.executedPlan.toString
    assert(p.contains("GraftAggScan") && p.contains("PushedAggregation: [COUNT(*)]"),
      s"ungrouped count must push to the footer scan:\n$p")
    // bucket filter composes: directory pruning first, then footer counts
    val cf = df.where(col("c0") === 3).groupBy().count()
    assert(cf.collect().head.getLong(0) == 10L)
    assert(cf.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    // a residual (row-level) filter must NOT push the aggregate
    val cr = df.where(col("d1") === 35).groupBy().count()
    assert(cr.collect().head.getLong(0) == 1L)
    assert(!cr.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "row-level residual filter must fall back to the row scan")
    // df.count() itself takes the same path
    assert(df.count() == 100L)
    // GROUP BY a bucket column pushes too: bucket values are directory
    // constants, so each file's (bucket, footer count) row is its exact
    // group contribution
    val g = df.groupBy("c0").count()
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 10L).map(c => (c, 10L)).toSet)
    val gp = g.queryExecution.executedPlan.toString
    assert(gp.contains("PushedGroupBy: [c0]"), s"bucket group-by must push:\n$gp")
    // group by a DATA column must not push
    val gd = df.groupBy("d0").count()
    assert(gd.collect().length == 100)
    assert(!gd.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "data-column group-by must fall back to the row scan")
  }

  test("DataSource V2 aggregate pushdown: MIN/MAX/COUNT(col) answered from footer statistics") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    // v: nullable data column with an all-null chunk (c0=0: d0 in 0..9)
    val in = (0L until 100L).map(i =>
      (i, i, if (i < 10) None else Some(i * 3 % 71))).toDF("d0", "d1", "v")
    w.create(in)
    val df = spark.read.format("graft").load(w.path)
    // mixed aggregate set in one query, all from footers
    val q = df.agg(min("v").as("mn"), max("v").as("mx"),
      count("v").as("cv"), count(lit(1)).as("ct"),
      min("c0").as("mnb"), max("c1").as("mxb"))
    val r = q.collect().head
    val exp = in.agg(min("v"), max("v"), count("v"), count(lit(1))).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (exp.getLong(0), exp.getLong(1), exp.getLong(2), exp.getLong(3)))
    assert((r.getLong(4), r.getLong(5)) == (0L, 9L), "bucket min/max from dir values")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GraftAggScan") && p.contains("MIN(v)") && p.contains("MAX(v)")
      && p.contains("COUNT(v)"), s"min/max/count must push to the footer scan:\n$p")
    // scan emits ONE row per chunk file, not the 100 table rows (AQE buries
    // the scan inside query-stage wrappers — check on a non-adaptive plan)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q2 = spark.read.format("graft").load(w.path)
        .agg(min("v").as("mn"), max("v").as("mx"), count("v").as("cv"))
      q2.collect()
      val scanExec = q2.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      assert(scanExec.metrics("numOutputRows").value == 10,
        "one partial-aggregate row per chunk file")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // grouped by bucket: per-group min/max recombine exactly
    val g = df.groupBy("c0").agg(min("v").as("mn"), max("v").as("mx"))
    val gexp = w.df.groupBy(col("c0").cast("long").as("c0"))
      .agg(min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(g.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getLong(1),
      if (r.isNullAt(2)) null else r.getLong(2))).toSet == gexp)
    assert(g.queryExecution.executedPlan.toString.contains("PushedGroupBy: [c0]"))
    // the all-null group (c0=0) surfaces as NULL, not a fabricated value
    val nullRow = g.where(col("c0") === 0).collect().head
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
    // floating-point min/max must NOT push (NaN-contaminated footer stats)
    val wf = new World(spark, tmp(), Seq(DimSpec("d0", DimMapping(0, 99, 10))))
    wf.create((0L until 20L).map(i => (i, i / 7.0)).toDF("d0", "x"))
    val f = spark.read.format("graft").load(wf.path).agg(min("x"))
    assert(!f.queryExecution.executedPlan.toString.contains("GraftAggScan"),
      "double min/max must fall back to the row scan")
    assert(f.collect().head.getDouble(0) == 0.0)
    // DISTINCT count must not push
    val d = df.agg(countDistinct("v"))
    assert(!d.queryExecution.executedPlan.toString.contains("GraftAggScan"))
  }

  test("DataSource V2 aggregate pushdown: stats-less and evolved files fall back to a file scan") {
    import spark.implicits._
    val root = tmp()
    // chunk c0=0: written WITHOUT footer statistics (stats-less writer)
    Seq((0L, 5L), (1L, 9L), (2L, 3L)).toDF("d0", "v").coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(root + "/c0=0")
    // chunk c0=1: written BEFORE column v existed (schema evolution)
    Seq(Tuple1(3L)).toDF("d0").coalesce(1).write.parquet(root + "/c0=1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d0",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c0",
        org.apache.spark.sql.types.LongType)))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_graft_schema.json"),
      schema.json.getBytes("UTF-8"))
    // guard: the stats-less file must REALLY lack min/max stats, or this test
    // silently degrades into re-testing the footer path
    val statlessFile = new java.io.File(root + "/c0=0").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(statlessFile.toString),
        new org.apache.hadoop.conf.Configuration()))
    val st = try pfr.getFooter.getBlocks.get(0).getColumns.get(1).getStatistics
      finally pfr.close()
    assert(st == null || !st.hasNonNullValue,
      s"expected stats disabled in the fixture file, got $st")
    // the pushdown still answers exactly: c0=0 via the per-file scan
    // fallback, c0=1 contributing (null, 0) for the evolved-in column
    val df = spark.read.format("graft").load(root)
    val q = df.agg(min("v").as("mn"), max("v").as("mx"),
      count("v").as("cv"), count(lit(1)).as("ct"))
    assert(q.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (3L, 9L, 3L, 4L))
  }

  test("DataSource V2 row-group predicates: residual filters reach the parquet readers") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i, s"tag_${i % 7}")).toDF("d0", "d1", "s"))
    val df = spark.read.format("graft").load(w.path)
    // a data-column equality: no chunk pruning (all 10 dirs scanned), but the
    // predicate inside each reader skips every ROW GROUP whose stats exclude
    // it — 9 of the 10 files emit nothing. r17's vectorized path filters at
    // block granularity like vanilla parquet (the surviving file's 10 rows
    // surface and Spark's re-check drops 9 of them); the pre-r17 row reader
    // additionally record-filtered to exactly 1. Both are correct (the scan
    // only ever has to emit a superset); the bound pinned here is the one
    // that matters at scale: output is one FILE's rows, not the table.
    val q = df.where(col("d1") === 35)
    assert(q.collect().map(_.getAs[Long]("d0")).toSeq == Seq(35L))
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("RowGroupFilters: [EqualTo(d1,35)"),
      s"residual filter must reach the readers: ${scan.scan.description()}")
    assert(scan.metrics("numOutputRows").value <= 10,
      s"readers must skip excluded row groups, emitted ${scan.metrics("numOutputRows").value}")
    // string predicate + conjunction with a range
    val q2 = df.where(col("s") === "tag_3" && col("d1") < 50)
    assert(q2.collect().map(_.getAs[Long]("d0")).toSet ==
      (0L until 50L).filter(_ % 7 == 3).toSet)
    // untranslatable leg (StringContains) inside NOT(AND(...)): the
    // predicate must NOT be pushed one-sided (that would drop rows SQL
    // keeps) — correctness is the assertion
    val q3 = df.where(!(col("d1") > 5 && col("s").contains("ag_3")))
    assert(q3.collect().map(_.getAs[Long]("d0")).toSet ==
      (0L until 100L).filter(i => !(i > 5 && (i % 7) == 3)).toSet)
    // schema evolution: a file missing the filtered column skips the parquet
    // predicate (its rows surface as NULL and Spark's re-check drops them)
    val root = tmp()
    Seq((1L, 5L), (2L, 9L)).toDF("d0", "v").coalesce(1).write.parquet(root + "/c0=0")
    Seq(Tuple1(11L)).toDF("d0").coalesce(1).write.parquet(root + "/c0=1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d0",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c0",
        org.apache.spark.sql.types.LongType)))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_graft_schema.json"),
      schema.json.getBytes("UTF-8"))
    val ev = spark.read.format("graft").load(root).where(col("v") >= 5)
    assert(ev.collect().map(_.getAs[Long]("d0")).toSet == Set(1L, 2L))
    // multiple row groups in one file: tiny block size forces several; the
    // range predicate stays exact across group boundaries
    val root2 = tmp()
    (0L until 5000L).map(i => (i, i * 3)).toDF("d0", "v").coalesce(1)
      .sortWithinPartitions("d0")
      .write.option("parquet.block.size", "4096").parquet(root2 + "/c0=0")
    java.nio.file.Files.write(java.nio.file.Paths.get(root2, "_graft_schema.json"),
      schema.json.getBytes("UTF-8"))
    val rgFile = new java.io.File(root2 + "/c0=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(rgFile.toString),
        new org.apache.hadoop.conf.Configuration()))
    val nGroups = try pfr.getFooter.getBlocks.size finally pfr.close()
    assert(nGroups > 1, s"fixture must span row groups, got $nGroups")
    val rq = spark.read.format("graft").load(root2)
      .where(col("v") >= 6000L && col("v") < 6600L)
    assert(rq.collect().map(_.getAs[Long]("d0")).toSet == (2000L until 2200L).toSet)
    // with `_pos` required the row-group predicate is dropped: a skipped
    // group would shift every later ordinal (the file holds d0 in order)
    val addressed = spark.read.format("graft").load(root2)
      .select(col("_pos"), col("d0"), col("v"))
      .where(col("v") >= 6000L && col("v") < 6600L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(addressed.map(_._2).toSet == (2000L until 2200L).toSet)
    assert(addressed.forall { case (pos, d0) => pos == d0 },
      addressed.filter { case (pos, d0) => pos != d0 }.take(5).toSeq)
  }

  test("DataSource V2 limit pushdown: partition readers stop at the pushed prefix") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    val lim = df.limit(3)
    assert(lim.collect().length == 3)
    val scan = lim.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("PushedLimit: 3"),
      s"limit must reach the scan: ${scan.scan.description()}")
    // each of the 10 diagonal-chunk readers emits at most 3 rows: the scan's
    // output is bounded by limit x partitions (30), not the 100 table rows
    val rows = scan.metrics("numOutputRows").value
    assert(rows <= 30, s"readers must stop at the pushed prefix, emitted $rows")
    // limit composes with bucket pruning
    assert(df.where(col("c0") === 3).limit(2).collect().length == 2)
  }

  test("DataSource V2 top-N pushdown: bucket-only sort orders truncate the planned chunk list") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 100L).map(i => (i, i)).toDF("d0", "d1"))
    val df = spark.read.format("graft").load(w.path)
    // ORDER BY c0 DESC LIMIT 15: the top chunks are c0=9 (10 rows) and c0=8
    // — only those two dirs may be planned (15 rows needs 2 of 10 dirs)
    val q = df.orderBy(col("c0").desc).limit(15).select("d0")
    val got = q.as[Long].collect().toSet
    assert(got.subsetOf((80L until 100L).toSet) && got.size == 15 &&
      (90L until 100L).forall(got.contains),
      s"top-15 by c0 desc must take all of c0=9 plus fill from c0=8, got $got")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("PushedTopN: [c0 DESC]"),
      s"top-N must reach the scan: ${scan.scan.description()}")
    assert(scan.scan.asInstanceOf[graft.sources.GraftScan]
      .plannedFiles().length == 2,
      "only the leading chunk dirs may be planned")
    // multi-column order, mixed directions
    val q2 = df.orderBy(col("c0").asc, col("c1").desc).limit(5).select("d0")
    assert(q2.as[Long].collect().toSet == (0L until 5L).toSet)
    assert(q2.queryExecution.executedPlan.toString
      .contains("PushedTopN: [c0 ASC, c1 DESC]"))
    // a data column in the order must reject the WHOLE pushdown
    val q3 = df.orderBy(col("c0").asc, col("d1").desc).limit(5)
    assert(!q3.queryExecution.executedPlan.toString.contains("PushedTopN"),
      "bucket-prefix-only orders are unsound to honor partially")
    assert(q3.select("d0").as[Long].collect().toSet == (5L until 10L).toSet,
      "rejected pushdown still answers exactly (c0=0 chunk, d1 desc)")
    // composes with pushed bucket filters: pruning first, then truncation
    val q4 = df.where(col("c0") >= 5).orderBy(col("c0").asc).limit(3)
    assert(q4.select("d0").as[Long].collect().toSet == Set(50L, 51L, 52L))
  }

  test("DataSource V2 storage-partitioned join: two worlds on one grid join with no exchange") {
    import spark.implicits._
    def mkWorld(vals: Seq[(Long, Long)]): World = {
      val w = new World(spark, tmp(), Seq(
        DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
      w.create(vals.toDF("d0", "d1"))
      w
    }
    val w1 = mkWorld((0L until 100L).map(i => (i, i)))
    val w2 = mkWorld((0L until 100L).map(i => (i, (i + 3) % 100)))
    // the scan's reported partitioning: keys = surviving bucket cols
    val scan = new graft.sources.GraftScan(w1.path,
      spark.read.format("graft").load(w1.path).schema, Array.empty)
    scan.outputPartitioning() match {
      case k: org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning =>
        assert(k.keys.map(_.describe()).toSeq == Seq("c0", "c1"))
        assert(k.numPartitions == 10, "10 populated diagonal cells")
      case other => fail(s"expected KeyGroupedPartitioning, got $other")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = spark.read.format("graft").load(w1.path)
        .select(col("c0"), col("c1"), col("d0").as("x"))
      val b = spark.read.format("graft").load(w2.path)
        .select(col("c0"), col("c1"), col("d0").as("y"))
      val j = a.join(b, Seq("c0", "c1"))
      val got = j.select("x", "y").as[(Long, Long)].collect().toSet
      // expected via the plain parquet path (which DOES shuffle)
      val exp = w1.df.select(col("c0"), col("c1"), col("d0").as("x"))
        .join(w2.df.select(col("c0"), col("c1"), col("d0").as("y")), Seq("c0", "c1"))
        .select("x", "y").as[(Long, Long)].collect().toSet
      assert(got == exp && got.nonEmpty)
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("DataSource V2: per-cell aggregate join of two worlds plans ZERO exchanges") {
    import spark.implicits._
    def mkWorld(vals: Seq[(Long, Long)]): World = {
      val w = new World(spark, tmp(), Seq(
        DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
      w.create(vals.toDF("d0", "d1"))
      w
    }
    val w1 = mkWorld((0L until 100L).map(i => (i, i)))
    val w2 = mkWorld((0L until 100L).map(i => (i, (i * 7) % 100)))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // both sides: pushed-aggregate scans grouped by c0 — the final
      // aggregation AND the join run in place over key-grouped footer rows
      val a = spark.read.format("graft").load(w1.path).groupBy("c0")
        .agg(count(lit(1)).as("na"))
      val b = spark.read.format("graft").load(w2.path).groupBy("c0")
        .agg(count(lit(1)).as("nb"))
      val j = a.join(b, Seq("c0")).orderBy("c0")
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == 10 && got.forall { case (_, na, nb) => na == 10 && nb == 10 })
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("GraftAggScan"), s"both sides must stay footer scans:\n$p")
      assert(!p.contains("ShuffleExchange") && !p.contains("BroadcastExchange"),
        s"aggregate+join over key-grouped footer rows must not shuffle:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("DataSource V2 write: rows append into their chunk directories (FsHandle::write_chunk analog)") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create(Seq((5L, 5L)).toDF("d0", "d1"))
    // write through the connector: rows carry bucket cols (the routing step)
    w.withBuckets(Seq((23L, 47L)).toDF("d0", "d1"))
      .write.format("graft").mode("append").save(w.path)
    assert(new java.io.File(w.path + "/c0=2/c1=4").isDirectory,
      "row must be routed into its chunk directory")
    // visible to BOTH the connector read path and the plain parquet path
    val viaConnector = spark.read.format("graft").load(w.path)
      .select("d0").as[Long].collect().toSet
    val viaParquet = w.df.select("d0").as[Long].collect().toSet
    assert(viaConnector == Set(5L, 23L) && viaParquet == Set(5L, 23L))
  }

  test("DataSource V2 write declares clustering: one file per chunk, not tasks x chunks") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create(Seq.empty[(Long, Long)].toDF("d0", "d1"))
    // 40 rows of ONE chunk spread across 8 input partitions: without the
    // RequiresDistributionAndOrdering clustering every partition would
    // write its own file into the chunk dir (8 files); with it, Spark
    // shuffles by bucket first and the chunk is written by one task
    val rows = (0L until 40L).map(i => (20L + i % 10, 30L + (i / 4) % 10))
    w.withBuckets(rows.toDF("d0", "d1").repartition(8))
      .write.format("graft").mode("append").save(w.path)
    val files = new java.io.File(w.path + "/c0=2/c1=3").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected one clustered file per chunk, got $files")
    assert(spark.read.format("graft").load(w.path).count() == 40)
  }

  test("DataSource V2 write to a VIRGIN path is readable back (sidecar written on commit)") {
    import spark.implicits._
    // no World.create, no prior sidecar — the connector sink must be
    // self-sufficient, like the reference's FsHandle::write_chunk
    val path = tmp()
    Seq((1L, 7L, 0L), (25L, 9L, 2L)).toDF("d0", "v", "c0")
      .write.format("graft").mode("append").save(path)
    assert(new java.io.File(s"$path/_graft_schema.json").isFile,
      "commit must leave a schema sidecar on a virgin path")
    val back = spark.read.format("graft").load(path)
      .select("d0", "v", "c0").as[(Long, Long, Long)].collect().toSet
    assert(back == Set((1L, 7L, 0L), (25L, 9L, 2L)))
    // a second write must NOT overwrite the authoritative sidecar
    Seq((42L, 3L, 4L)).toDF("d0", "v", "c0")
      .write.format("graft").mode("append").save(path)
    assert(spark.read.format("graft").load(path).count() == 3)
  }

  test("DataSource V2: binary / array<float> / timestamp round-trip (opaque-payload analog)") {
    import spark.implicits._
    // the reference's payload is opaque bytes (src/world.rs:33-47); an
    // embeddings world adds array<float> and event-time metadata
    val df = Seq(
      (5L, Array(1.5f, -2.25f, 3f), Array[Byte](1, 2, 3),
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")),
      (42L, Array(0f, 0.5f, -1f), Array[Byte](-1, 0, 127),
        java.sql.Timestamp.valueOf("2026-06-07 08:09:10.0"))
    ).toDF("vec_id", "embedding", "blob", "ts")
    def canon(r: org.apache.spark.sql.Row): (Long, Seq[Float], Seq[Byte], Long) =
      (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding"),
        r.getAs[Array[Byte]]("blob").toSeq, r.getAs[java.sql.Timestamp]("ts").getTime)
    val expect = df.collect().map(canon).sortBy(_._1).toSeq
    val cols = Seq("vec_id", "embedding", "blob", "ts")
    // Spark-written chunks readable through the connector
    val w = new World(spark, tmp(), Seq(DimSpec("vec_id", DimMapping(0, 99, 10))))
    w.create(df)
    val viaConn = spark.read.format("graft").load(w.path)
      .select(cols.map(col): _*).collect().map(canon).sortBy(_._1).toSeq
    assert(viaConn == expect, "connector read of Spark-written rich types")
    // connector-written chunks readable through BOTH paths
    val w2 = new World(spark, tmp(), Seq(DimSpec("vec_id", DimMapping(0, 99, 10))))
    w2.create(df.limit(0))
    w2.withBuckets(df).write.format("graft").mode("append").save(w2.path)
    val viaConn2 = spark.read.format("graft").load(w2.path)
      .select(cols.map(col): _*).collect().map(canon).sortBy(_._1).toSeq
    val viaParquet2 = w2.df
      .select(cols.map(col): _*).collect().map(canon).sortBy(_._1).toSeq
    assert(viaConn2 == expect, "connector read of connector-written rich types")
    assert(viaParquet2 == expect, "parquet read of connector-written rich types")
  }

  test("DataSource V2 upsert: graft.mode=upsert replaces on dim-0 conflict (World::insert analog)") {
    import spark.implicits._
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((1L, 1L), (2L, 2L)))
    w.withBuckets(rows((1L, 5L), (3L, 3L)))
      .write.format("graft").mode("append").option("graft.mode", "upsert").save(w.path)
    assert(graft.sources.GraftUpsertWrite.lastDisplaced(w.path) == 1L,
      "exactly the conflicting id is displaced")
    assert(graft.sources.GraftUpsertWrite.lastSummary(w.path)
      .contains(graft.sources.GraftUpsertWrite.UpsertSummary(2L, 1L)),
      "commit aggregates the tasks' staged-row counts into the summary")
    val out = w.df.select("d0", "d1").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 5L, 2L -> 2L, 3L -> 3L), "new row wins on conflict")
    assert(spark.read.format("graft").load(w.path).count() == 3,
      "connector read agrees after upsert")
    assert(!new java.io.File(w.path).getParentFile.listFiles
      .exists(_.getName.contains("__graft_upsert_stage")),
      "staging grid removed after commit")
  }

  test("DataSource V2 overwrite: truncate and dynamic chunk replacement through mode(overwrite)") {
    import spark.implicits._
    // TRUNCATE: .mode("overwrite") replaces the whole world
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create((0L until 40L).map(i => (i, i)).toDF("d0", "d1"))
    w.withBuckets(Seq((90L, 90L), (95L, 95L)).toDF("d0", "d1"))
      .write.format("graft").mode("overwrite").save(w.path)
    val after = spark.read.format("graft").load(w.path)
      .select("d0").as[Long].collect().toSet
    assert(after == Set(90L, 95L), "truncate overwrite replaces all chunks")
    // manifest-only liveness: the truncated bytes stay in place; the
    // first versioned commit's v0 baseline still addresses them
    assert(new java.io.File(w.path + "/c0=0").exists,
      "superseded cells stay on disk (zero moves) for snapshot reads")
    assert(w.snapshot(0).count() == 40L,
      "the pre-truncate state reads through the v0 baseline manifest")
    // DYNAMIC chunk replacement (path-based .mode("overwrite") always plans
    // a truncate; OverwritePartitionsDynamic needs a catalog table) — drive
    // the BatchWrite directly: stage a row for cell (0,0), commit, and only
    // that chunk is replaced
    val w2 = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w2.create((0L until 40L).map(i => (i, i)).toDF("d0", "d1"))
    val schema2 = spark.read.format("graft").load(w2.path).schema
    val dynWrite = new graft.sources.GraftOverwriteWrite(w2.path, schema2, None)
    // stage exactly like the task side would: the staging grid is a world
    // (the stage dir is per-write unique — ask the write for its path)
    w2.withBuckets(Seq((3L, 3L)).toDF("d0", "d1"))
      .write.format("graft").mode("append")
      .save(dynWrite.stagePath)
    dynWrite.commit(Array.empty)
    val after2 = spark.read.format("graft").load(w2.path)
      .select("d0").as[Long].collect().toSet
    assert(after2 == Set(3L) ++ (10L until 40L),
      s"dynamic overwrite replaces only the written cells, got $after2")
    // both paths still readable through the plain parquet side
    assert(w2.df.select("d0").as[Long].collect().toSet == after2)
    assert(!new java.io.File(dynWrite.stagePath).exists,
      "staging grid removed after commit")
  }

  test("compact: fragmented chunk dirs rewritten to one file, data intact") {
    import spark.implicits._
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(Seq((1L, 1L)).toDF("d0", "d1"))
    // three appends into the SAME chunk (0,0) -> fragmented dir
    w.tryInsert(Seq((2L, 2L)).toDF("d0", "d1"))
    w.tryInsert(Seq((3L, 3L)).toDF("d0", "d1"))
    // LIVE file count per cell (manifest-resolved): compaction retires the
    // fragments in place — physical listings keep them for snapshots
    def liveFiles = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(w.path), new org.apache.hadoop.conf.Configuration())
      graft.sources.GraftDataSource
        .liveCells(fs, new org.apache.hadoop.fs.Path(w.path), Array.empty)
        .map(_._3.size).sum
    }
    assert(liveFiles >= 3, s"expected fragmentation, got $liveFiles files")
    val n = w.compact()
    assert(n == 1L, "exactly the fragmented chunk is compacted")
    assert(liveFiles == 1, "one live file per chunk after compaction")
    assert(w.df.select("d0").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(w.compact() == 0L, "already-compact world is a no-op")
  }

  test("regrid: contents rebuild under a new chunk geometry, rows re-route") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((114L, 514L), (7L, 7L), (1000L, 3L)))
    // coarser grid: 64 items per chunk on both dims -> new bucket math
    val w2 = w.regrid(tmp(), dims2(64, 64))
    assert(w2.df.select("d0").collect().map(_.getLong(0)).toSet ==
      Set(114L, 7L, 1000L), "contents survive the re-grid")
    // 114 div 64 = 1, 514 div 64 = 8 under the new mapping
    assert(new java.io.File(w2.path + "/c0=1/c1=8").isDirectory,
      "rows route under the NEW chunk geometry")
    // selection algebra works against the new grid
    assert(w2.select(0, Bounds.to(0L, 100L)).iter()
      .where(col("d0") <= 100L).count() == 1L) // only (7,7); 114 and 1000 exceed
  }

  test("zorderWithinChunks: same contents and routing, z-monotonic rows inside each file") {
    import spark.implicits._
    // one big chunk (all rows in c0=0/c1=0) so the intra-chunk order is
    // the whole story; 256 grid points arrive scrambled
    val w = new World(spark, tmp(), dims2(1024, 1024))
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    w.create(scala.util.Random.shuffle(pts).toDF("d0", "d1"), zorderWithinChunks = true)
    assert(w.df.select("d0", "d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == pts.toSet, "contents survive the z-ordered create")
    // rows inside each parquet file must be z-sorted (read order = row order)
    val z = graft.ops.ZOrder.zvalue(col("d0"), col("d1"))
    val perFile = w.df.select(input_file_name().as("f"), z.as("z"))
      .collect().groupBy(_.getString(0)).values
    assert(perFile.nonEmpty)
    perFile.foreach { rs =>
      val zs = rs.map(_.getLong(1)).toSeq
      assert(zs == zs.sorted, "intra-file order must follow the z-curve")
    }
  }

  test("default create keeps chunks dim-sorted THROUGH the partitioned write") {
    import spark.implicits._
    // regression pin for a real defect: partitionBy's writer inserts its
    // own non-stable sort on the partition columns unless the child's
    // ordering leads with them — which silently scrambled the intra-chunk
    // dim sort (and the row-group stats story with it)
    val w = new World(spark, tmp(), dims2(1024, 1024))
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    w.create(scala.util.Random.shuffle(pts).toDF("d0", "d1"))
    val perFile = w.df.select(input_file_name().as("f"), col("d0"), col("d1"))
      .collect().groupBy(_.getString(0)).values
    perFile.foreach { rs =>
      val ks = rs.map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(ks == ks.sorted, "intra-file order must follow the dim sort")
    }
  }

  test("world! builder sugar declares dims in order (src/macros.rs:19-27)") {
    val w = World(spark, tmp())("d0" -> DimMapping(0, 1023, 8), "d1" -> DimMapping(0, 1023, 16))
    w.create(rows((114L, 514L)))
    // same routing as the explicit DimSpec construction
    assert(new java.io.File(w.path + "/c0=14/c1=32").isDirectory)
    assert(w.dims.map(_.column) == Seq("d0", "d1"))
  }

  test("id immutability: update refuses dim-0 (src/world.rs:108)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    w.create(rows((1L, 1L)))
    assertThrows[IllegalArgumentException](
      w.update(col("d0") === 1L, Map("d0" -> lit(2L))))
  }

  test("out-of-range rows quarantined, not written (src/range.rs:62-71)") {
    val w = new World(spark, tmp(), dims2(8, 16))
    val in = rows((1L, 1L), (5000L, 2L))
    assert(w.outOfRange(in).count() == 1L)
    w.create(in)
    assert(w.df.count() == 1L)
  }

  test("3-dim world: routing, selection algebra and relocation generalize beyond 2 dims") {
    import spark.implicits._
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)),
      DimSpec("d1", DimMapping(0, 99, 10)),
      DimSpec("d2", DimMapping(0, 99, 25))))
    w.create(Seq((5L, 5L, 5L), (15L, 15L, 30L), (25L, 85L, 60L), (85L, 25L, 90L))
      .toDF("d0", "d1", "d2"))
    assert(new java.io.File(w.path + "/c0=0/c1=0/c2=0").isDirectory)
    assert(new java.io.File(w.path + "/c0=2/c1=8/c2=2").isDirectory)
    // select on d2 only, then intersect d0
    val sel = w.select(2, Bounds.to(30, 60)).and(0, Bounds.to(0, 29))
    assert(sel.iter().select("d0").collect().map(_.getLong(0)).toSet == Set(15L, 25L))
    // union on another dim
    val plus = w.select(2, Bounds.point(5)).plus(1, Bounds.point(25))
    assert(plus.iter().select("d0").collect().map(_.getLong(0)).toSet == Set(5L, 85L))
    // mutate d2 -> relocation across the third axis
    assert(w.update(col("d0") === 5L, Map("d2" -> lit(95L))) == 1L)
    assert(spark.read.format("graft").load(w.path)
      .where(col("c2") === 0L).count() == 0, "old cell retired from live reads")
    assert(new java.io.File(w.path + "/c0=0/c1=0/c2=3").isDirectory)
  }

  test("merge-on-read point writes (r14): insert/destroy/update/applyDelta retire by vector, zero pre-existing bytes move") {
    import graft.sources.GraftVersions
    // one LARGE cell (ids 64..127 -> c0=1) so point deletes stay under the
    // DV cutover fraction — single-row cells would correctly retire/rewrite
    // whole files instead of vectoring (that path is GraftDvSpec's)
    val w = new World(spark, tmp(), dims2(64, 16))
    val big = (64L to 127L).map(i => (i, 514L))
    w.create(rows(big ++ Seq((1L, 1L), (2L, 2L), (200L, 300L)): _*))
    // first point write on an UNVERSIONED world: COW — seals v1, the log
    // is authoritative from here, so every later point write goes MoR
    assert(w.insert(rows((300L, 300L))) == 0L)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(w.path), new org.apache.hadoop.conf.Configuration())
    val root = new org.apache.hadoop.fs.Path(w.path)
    def live = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    def state = w.df.select("d0", "d1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val v1State = big.toSet ++
      Set((1L, 1L), (2L, 2L), (200L, 300L), (300L, 300L))
    val pre = live.map(e => e.rel -> e.size).toMap
    // MoR INSERT: one conflict (114 replaced + relocated: d1 600 -> c1=37),
    // one fresh (400)
    assert(w.insert(rows((114L, 600L), (400L, 400L))) == 1L)
    val afterIns = live
    assert(afterIns.exists(_.dv.isDefined),
      "displaced row must retire into a deletion vector")
    assert(pre.forall { case (rel, sz) =>
      afterIns.exists(e => e.rel == rel && e.size == sz) },
      "a MoR insert must keep every pre-insert data file live, unchanged")
    assert(state ==
      v1State - ((114L, 514L)) + ((114L, 600L)) + ((400L, 400L)))
    // MoR DESTROY: victim vanishes from live reads, no cell rewrite
    // (same big file: union grows to 2/64 deleted — still vectored)
    val preD = live.map(e => e.rel -> e.size).toMap
    assert(w.destroy(Seq(65L)) == 1L)
    assert(preD.forall { case (rel, sz) =>
      live.exists(e => e.rel == rel && e.size == sz) },
      "a MoR destroy moves zero pre-existing bytes")
    assert(!state.contains((65L, 514L)))
    // MoR UPDATE with relocation: old image vectored, new image lands in
    // its NEW cell (d1=900 -> c1=56)
    assert(w.update(col("d0") === 66L, Map("d1" -> lit(900L))) == 1L)
    assert(state.contains((66L, 900L)) && !state.contains((66L, 514L)))
    assert(spark.read.format("graft").load(w.path)
      .where(col("c1") === 56L && col("d0") === 66L).count() == 1L,
      "relocated new image routed to its new cell")
    // MoR APPLYDELTA: remove + replace + fresh in ONE seal
    val vBefore = GraftVersions.latestVersion(fs, root).get
    val (removed, disp) = w.applyDelta(
      rows((67L, 514L)).select("d0"),
      rows((68L, 999L), (500L, 500L)))
    assert(removed == 1L && disp == 1L)
    assert(GraftVersions.latestVersion(fs, root).get == vBefore + 1,
      "applyDelta seals exactly ONE version (single-flush contract)")
    assert(state ==
      v1State - ((114L, 514L)) + ((114L, 600L)) + ((400L, 400L)) -
        ((65L, 514L)) - ((66L, 514L)) + ((66L, 900L)) -
        ((67L, 514L)) - ((68L, 514L)) + ((68L, 999L)) + ((500L, 500L)))
    // snapshots through the whole MoR sequence stay addressable: v1 reads
    // the pre-MoR-insert rows through the vector-free entries
    assert(w.snapshot(1).select("d0", "d1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == v1State)
  }

  test("partition pruning reaches the file index (scan reads only selected dirs)") {
    val w = new World(spark, tmp(), Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 10))))
    w.create(rows((0L until 100L).map(i => (i, i)): _*))
    val sel = w.select(0, Bounds.to(0, 19))
    val plan = sel.iter().queryExecution.executedPlan.toString
    // 2 of 10 c0 buckets selected
    assert(sel.iter().count() == 20)
    assert(plan.contains("PartitionFilters") || plan.contains("partitionFilters"),
      s"expected partition filters in plan:\n$plan")
  }
}
