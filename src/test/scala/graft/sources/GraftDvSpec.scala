package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Merge-on-read deletion vectors: a selective row-level DELETE writes
  * per-file position sidecars and swaps manifest references — ZERO data
  * bytes move — and every read path (live, snapshot, CDC, rollback,
  * compaction, barrier rewrites) honors the vector of the version it
  * reads. */
class GraftDvSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val warehouse = Files.createTempDirectory("graft-dv").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.dvcat", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.dvcat.warehouse", warehouse)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fsOf(p: String): (FileSystem, Path) = {
    val root = new Path(p)
    (FileSystem.get(root.toUri, new Configuration()), root)
  }

  private def dataFileStates(fs: FileSystem, root: Path): Map[String, (Long, Long)] =
    GraftDataSource.walkChunks(fs, root, Array.empty)
      .flatMap { case (d, _) => GraftDataSource.chunkFileStatuses(fs, d) }
      .map(st => GraftVersions.relOf(root, st.getPath) ->
        (st.getLen, st.getModificationTime)).toMap

  test("selective DELETE writes a vector and moves zero data bytes") {
    spark.sql("CREATE TABLE dvcat.t (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.t SELECT id, id * 10, id DIV 10 FROM range(0, 40)")
    val (fs, root) = fsOf(s"$warehouse/t")
    val before = dataFileStates(fs, root)
    assert(before.nonEmpty)
    val v1 = GraftVersions.latestVersion(fs, root).get

    spark.sql("DELETE FROM dvcat.t WHERE d0 IN (7, 23)")

    // the data tree is byte-identical: same files, same sizes, same mtimes
    assert(dataFileStates(fs, root) == before,
      "a MOR delete must not touch a data byte")
    // one new version whose touched entries carry dv references
    val v2 = GraftVersions.latestVersion(fs, root).get
    assert(v2 == v1 + 1)
    val entries = GraftVersions.readEntries(fs, root, v2)
    val dvd = entries.filter(_.dv.isDefined)
    assert(dvd.map(_.dv.get._2).sum == 2L, s"two rows vectored: $dvd")
    assert(entries.map(_.rel).toSet == before.keySet,
      "the manifest still lists exactly the same data files")
    dvd.foreach(e => assert(fs.exists(new Path(root, e.dv.get._1))))
    // reads skip the vectored rows
    assert(spark.sql("SELECT sum(v) FROM dvcat.t").collect()(0).getLong(0) ==
      (0L until 40L).filterNot(Set(7L, 23L)).map(_ * 10).sum)
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 38L)
    // time travel: the pre-delete version still shows every row
    assert(spark.read.format("graft").option("graft.snapshot", v1.toString)
      .load(s"$warehouse/t").count() == 40L)
  }

  test("a second DELETE on the same file unions into a fresh sidecar") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val dvBefore = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).flatMap(_.dv).toMap
    spark.sql("DELETE FROM dvcat.t WHERE d0 = 8") // same cell as d0=7
    val entries = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    val cell0 = entries.filter(e => e.dv.isDefined && e.rel.contains("c0=0"))
    assert(cell0.map(_.dv.get._2).sum == 2L,
      s"cell c0=0's vector now holds d0=7 and d0=8: $cell0")
    cell0.foreach(e => assert(!dvBefore.contains(e.dv.get._1),
      "vectors are immutable: the union landed in a NEW sidecar"))
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 37L)
    // the older version still reads through its own (smaller) vector
    val v2 = GraftVersions.latestVersion(fs, root).get - 1
    assert(spark.read.format("graft").option("graft.snapshot", v2.toString)
      .load(s"$warehouse/t").count() == 38L)
  }

  test("CDC net change across a MOR delete is exactly the deleted rows") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val latest = GraftVersions.latestVersion(fs, root).get
    val net = GraftChanges.netBetween(spark, s"$warehouse/t", latest - 1, latest)
      .collect()
    assert(net.map(r => (r.getAs[Long]("d0"), r.getAs[String]("_change_type")))
      .toSet == Set((8L, "delete")),
      s"the dv-swap commit surfaces the one retired row: ${net.mkString(", ")}")
  }

  test("rollback across a delete restores the rows, pure metadata") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val latest = GraftVersions.latestVersion(fs, root).get
    spark.sql(s"CALL dvcat.system.rollback(table => 't', version => ${latest - 1})")
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 38L)
    spark.sql(s"CALL dvcat.system.rollback(table => 't', version => $latest)")
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 37L)
  }

  test("aggregate pushdown over vectors: COUNT(*) stays pushed and exact, data-column aggs decline") {
    // COUNT(*) derives from the manifest's (rows − dv) per file, so the
    // pushdown survives vectored state and answers exactly
    val countPlan = spark.sql("SELECT count(*) FROM dvcat.t")
      .queryExecution.executedPlan.toString
    assert(countPlan.contains("GraftAggScan"),
      s"COUNT(*) answers from manifest live counts:\n$countPlan")
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 37L)
    // data-column partials (footer stats/sums describe deleted rows too)
    // must decline on a vectored table…
    val sumPlan = spark.sql("SELECT sum(v) FROM dvcat.t")
      .queryExecution.executedPlan.toString
    assert(!sumPlan.contains("GraftAggScan"),
      s"a dv'd table must not answer SUM from footers:\n$sumPlan")
    // …and stay pushed on an un-vectored one
    spark.sql("CREATE TABLE dvcat.clean (d0 BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.clean SELECT id, id DIV 10 FROM range(0, 10)")
    val cleanPlan = spark.sql("SELECT sum(d0) FROM dvcat.clean")
      .queryExecution.executedPlan.toString
    assert(cleanPlan.contains("GraftAggScan"), cleanPlan)
    spark.sql("DROP TABLE dvcat.clean")
  }

  test("_file/_pos row addresses are queryable and stable under deletes") {
    val rows = spark.sql(
      "SELECT _file, _pos, d0 FROM dvcat.t WHERE c0 = 0 ORDER BY _pos")
      .collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0).contains("c0=0")))
    // physical ordinals: the vectored positions (7, 8) are absent, the
    // survivors keep their original addresses
    val pos = rows.map(r => (r.getLong(2), r.getLong(1))).toMap
    assert(!pos.values.exists(p => pos.getOrElse(7L, -1L) == p && pos.contains(7L)))
    assert(rows.map(_.getLong(1)).toSet.size == rows.length, "addresses unique")
  }

  test("UPDATE goes merge-on-read: old image vectored, new image appended, zero bytes rewritten") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val before = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    val bytesBefore = dataFileStates(fs, root)
    spark.sql("UPDATE dvcat.t SET v = v + 1 WHERE d0 = 12")
    val after = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    val cell1After = after.filter(_.rel.contains("c0=1"))
    val old1 = before.filter(_.rel.contains("c0=1")).map(_.rel).toSet
    // the old file stays listed, now carrying a 1-position vector
    assert(old1.subsetOf(cell1After.map(_.rel).toSet),
      "MOR UPDATE keeps the old file in the manifest")
    assert(cell1After.exists(e => old1.contains(e.rel) && e.dv.exists(_._2 == 1L)),
      s"the old image is vectored: $cell1After")
    // exactly one clean 1-row new-image file joined the same cell
    val fresh = cell1After.filterNot(e => old1.contains(e.rel))
    assert(fresh.size == 1 && fresh.head.dv.isEmpty && fresh.head.rows == 1L,
      s"one routed new-image file: $fresh")
    // NO pre-existing data byte moved (the COW path re-wrote the cell)
    val bytesAfter = dataFileStates(fs, root)
    assert(bytesBefore.forall { case (rel, st) => bytesAfter.get(rel).contains(st) },
      "MOR UPDATE must not touch a pre-existing data byte")
    assert(spark.sql("SELECT v FROM dvcat.t WHERE d0 = 12")
      .collect()(0).getLong(0) == 121L)
    assert(spark.sql("SELECT count(*) FROM dvcat.t").collect()(0).getLong(0) == 37L)
  }

  test("MERGE goes merge-on-read: matched updates/deletes vector, inserts route, zero bytes rewritten") {
    import spark.implicits._
    spark.sql("CREATE TABLE dvcat.mg (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.mg SELECT id, id * 10, id DIV 10 FROM range(0, 30)")
    val (fs, root) = fsOf(s"$warehouse/mg")
    val bytesBefore = dataFileStates(fs, root)
    Seq((5L, 500L), (12L, 1200L), (100L, 1L)).toDF("d0", "nv")
      .createOrReplaceTempView("mg_src")
    spark.sql("""MERGE INTO dvcat.mg t USING mg_src s ON t.d0 = s.d0
                 WHEN MATCHED AND s.d0 = 12 THEN DELETE
                 WHEN MATCHED THEN UPDATE SET v = s.nv
                 WHEN NOT MATCHED THEN INSERT (d0, v, c0) VALUES (s.d0, s.nv, 9)""")
    val after = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    // matched update (d0=5, cell 0) and matched delete (d0=12, cell 1):
    // both retire by position into vectors
    assert(after.exists(e => e.rel.contains("c0=0") && e.dv.exists(_._2 == 1L)),
      s"matched UPDATE vectored its old image: $after")
    assert(after.exists(e => e.rel.contains("c0=1") && e.dv.exists(_._2 == 1L)),
      s"matched DELETE vectored its victim: $after")
    // the update's new image appended in its cell; the insert routed to c0=9
    assert(after.exists(e => e.rel.contains("c0=0") && e.dv.isEmpty && e.rows == 1L))
    assert(after.exists(e => e.rel.contains("c0=9") && e.rows == 1L))
    // zero pre-existing bytes moved
    val bytesAfter = dataFileStates(fs, root)
    assert(bytesBefore.forall { case (rel, st) => bytesAfter.get(rel).contains(st) },
      "MOR MERGE must not touch a pre-existing data byte")
    val got = spark.sql("SELECT d0, v FROM dvcat.mg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.get(5L).contains(500L) && !got.contains(12L) &&
      got.get(100L).contains(1L) && got.get(7L).contains(70L),
      s"MERGE semantics exact through the delta path: $got")
    assert(got.size == 30, s"30 - 1 delete + 1 insert: $got")
    spark.sql("DROP TABLE dvcat.mg")
  }

  test("delta MERGE clusters inserts: one file per landed cell, not one per task-run") {
    import spark.implicits._
    spark.sql("CREATE TABLE dvcat.mcl (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.mcl VALUES (0, 0, 0)")
    // 40 not-matched source rows across 4 cells, arriving from a
    // many-partition source with cells interleaved: the delta write's
    // required clustering must coalesce each cell's inserts into ONE task
    // (and its local sort into one contiguous run), so the commit adds at
    // most one file per cell — not one per (task, bucket-switch)
    spark.range(1, 41).repartition(8)
      .selectExpr("id AS d0", "id * 10 AS v")
      .createOrReplaceTempView("mcl_src")
    spark.sql("""MERGE INTO dvcat.mcl t USING mcl_src s ON t.d0 = s.d0
                 WHEN NOT MATCHED THEN
                   INSERT (d0, v, c0) VALUES (s.d0, s.v, s.d0 DIV 10)""")
    val (fs, root) = fsOf(s"$warehouse/mcl")
    val after = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    assert(after.size <= 6,
      s"5 landed cells + the seed file => at most 6 files, got: ${after.map(_.rel)}")
    assert(spark.sql("SELECT count(*) FROM dvcat.mcl").collect()(0).getLong(0) == 41L)
    spark.sql("DROP TABLE dvcat.mcl")
  }

  test("relocating UPDATE: the moved row's new image lands in its NEW cell") {
    spark.sql("CREATE TABLE dvcat.rl (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.rl SELECT id, id, id DIV 10 FROM range(0, 20)")
    val (fs, root) = fsOf(s"$warehouse/rl")
    val files0 = dataFileStates(fs, root)
    spark.sql("UPDATE dvcat.rl SET c0 = 1 WHERE d0 = 3") // cell 0 → cell 1
    val after = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    assert(after.exists(e => e.rel.contains("c0=0") && e.dv.exists(_._2 == 1L)),
      s"old image vectored in its OLD cell: $after")
    assert(after.exists(e => e.rel.contains("c0=1") && e.rows == 1L && e.dv.isEmpty),
      s"new image appended in its NEW cell: $after")
    val bytesAfter = dataFileStates(fs, root)
    assert(files0.forall { case (rel, st) => bytesAfter.get(rel).contains(st) },
      "relocation moves exactly the relocated row, no rewrite")
    assert(spark.sql("SELECT c0 FROM dvcat.rl WHERE d0 = 3")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM dvcat.rl").collect()(0).getLong(0) == 20L)
    assert(spark.sql("SELECT count(*) FROM dvcat.rl WHERE c0 = 1")
      .collect()(0).getLong(0) == 11L, "bucket-pruned reads see the moved row")
    spark.sql("DROP TABLE dvcat.rl")
  }

  test("compaction reads through the vectors and sheds them") {
    val (fs, root) = fsOf(s"$warehouse/t")
    // fragment cell c0=0 so compact has work there, then compact all cells
    spark.sql("INSERT INTO dvcat.t VALUES (101, 1010, 0)")
    spark.sql("CALL dvcat.system.compact(table => 't', max_files => 1)")
    val entries = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    assert(entries.filter(_.rel.contains("c0=0")).forall(_.dv.isEmpty),
      "compaction rewrote c0=0 clean")
    assert(spark.sql("SELECT count(*) FROM dvcat.t WHERE c0 = 0")
      .collect()(0).getLong(0) == 9L, "0..9 minus deleted 7, 8, plus 101")
  }

  test("compact(max_deleted_pct) sheds vector-heavy cells by manifest math") {
    spark.sql("CREATE TABLE dvcat.dh (d0 BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.dh SELECT id, id DIV 10 FROM range(0, 20)")
    // cell c0=0 loses 6 of 10 rows (60% deleted), c0=1 loses none. The
    // fraction cutover is declared OFF so the vector-heavy state this
    // maintenance knob exists for can actually form.
    spark.conf.set(GraftDv.CutoverFractionConf, "1.0")
    try spark.sql("DELETE FROM dvcat.dh WHERE d0 < 6")
    finally spark.conf.unset(GraftDv.CutoverFractionConf)
    val (fs, root) = fsOf(s"$warehouse/dh")
    def entryOf(cell: String) = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).filter(_.rel.contains(cell))
    assert(entryOf("c0=0").exists(_.dv.isDefined))
    // 100 (default) = off: nothing exceeds, nothing rewritten
    assert(spark.sql("CALL dvcat.system.compact(table => 'dh', max_files => 9)")
      .collect()(0).getLong(0) == 0L)
    // 50%: only the vector-heavy cell rewrites, shedding its vector
    assert(spark.sql("""CALL dvcat.system.compact(table => 'dh',
        max_files => 9, max_deleted_pct => 50)""")
      .collect()(0).getLong(0) == 1L)
    assert(entryOf("c0=0").forall(_.dv.isEmpty), "the rewrite shed the vector")
    assert(spark.sql("SELECT count(*) FROM dvcat.dh").collect()(0).getLong(0) == 14L)
    spark.sql("DROP TABLE dvcat.dh")
  }

  test("mass-delete cutover: crossing the fraction rewrites the file, trickle stays vectored") {
    spark.sql("CREATE TABLE dvcat.cut (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.cut SELECT id, id * 2, id DIV 50 FROM range(0, 100)")
    val (fs, root) = fsOf(s"$warehouse/cut")
    def entriesNow = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    val before = entriesNow
    assert(before.forall(_.rows == 50L), s"writer-captured rows: $before")

    // trickle: 5 of 50 rows (10% < 20%) in cell c0=0 → vector, bytes intact
    val files0 = dataFileStates(fs, root)
    spark.sql("DELETE FROM dvcat.cut WHERE d0 < 5")
    val afterTrickle = entriesNow
    assert(afterTrickle.exists(e => e.rel.contains("c0=0") && e.dv.isDefined),
      s"a 10% delete stays a vector: $afterTrickle")
    assert(dataFileStates(fs, root) == files0, "trickle: zero data bytes move")

    // mass: cumulative 20 of 50 (40% > 20%) → the file is COW-rewritten
    // executor-side: no vector, a fresh rel, old bytes untouched in place
    spark.sql("DELETE FROM dvcat.cut WHERE d0 >= 5 AND d0 < 20")
    val afterMass = entriesNow
    val cell0 = afterMass.filter(_.rel.contains("c0=0"))
    assert(cell0.nonEmpty && cell0.forall(_.dv.isEmpty),
      s"the cutover must shed the vector: $cell0")
    assert(cell0.map(_.rel).toSet.intersect(
      before.filter(_.rel.contains("c0=0")).map(_.rel).toSet).isEmpty,
      "the cutover wrote a FRESH file")
    assert(cell0.forall(_.rows == 30L),
      s"the clean file's manifest rows are its live count: $cell0")
    // the rewrite carried zone maps for the clean file (no seal footer read)
    assert(cell0.forall(e => e.stats.contains("d0")), s"cutover stats: $cell0")
    // answers stay exact; the untouched cell kept its file verbatim
    assert(spark.sql("SELECT count(*), sum(v) FROM dvcat.cut").collect()(0)
      .toSeq == Seq(80L, (20L until 100L).map(_ * 2).sum))
    assert(afterMass.filter(_.rel.contains("c0=1")).map(_.rel).toSet ==
      before.filter(_.rel.contains("c0=1")).map(_.rel).toSet)
    // time travel: both pre-delete and post-trickle snapshots stay exact
    val vs = GraftVersions.listVersions(fs, root)
    assert(spark.read.format("graft")
      .option("graft.snapshot", vs(vs.size - 3).toString)
      .load(s"$warehouse/cut").count() == 100L)
    assert(spark.read.format("graft")
      .option("graft.snapshot", vs(vs.size - 2).toString)
      .load(s"$warehouse/cut").count() == 95L)
    // CDC stays exact through the cutover: the rewritten survivors appear
    // as matching delete+insert pairs that NET out, leaving exactly the
    // statement's own deleted rows
    val net = GraftChanges.netBetween(spark, s"$warehouse/cut",
      vs(vs.size - 2), vs.last).collect()
    assert(net.map(r => (r.getAs[Long]("d0"), r.getAs[String]("_change_type")))
      .toSet == (5L until 20L).map(d => (d, "delete")).toSet,
      s"cutover CDC nets to the deleted rows: ${net.take(30).mkString(", ")}")
    spark.sql("DROP TABLE dvcat.cut")
  }

  test("expire reclaims sidecars no retained manifest references") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val dvDir = GraftDv.dirOf(root)
    assert(fs.exists(dvDir) && fs.listStatus(dvDir).nonEmpty)
    spark.sql("CALL dvcat.system.expire_versions(table => 't', keep => 1)")
    val left =
      if (fs.exists(dvDir)) fs.listStatus(dvDir).length else 0
    // the latest manifest has no dv refs (compaction shed them) except
    // cells the compact didn't touch — count must match exactly
    val referenced = GraftDv.relsOf(GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get))
    assert(left == referenced.size,
      s"only still-referenced sidecars survive expire ($left vs $referenced)")
  }

  test("a World-rewrite barrier materializes vectors before raw tree reads") {
    spark.sql("CREATE TABLE dvcat.b (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.b SELECT id, id, id DIV 10 FROM range(0, 20)")
    spark.sql("DELETE FROM dvcat.b WHERE d0 = 3")
    val (fs, root) = fsOf(s"$warehouse/b")
    assert(GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).exists(_.dv.isDefined))
    GraftVersions.noteBarrier(fs, root)
    // the physical tree now holds ONLY live rows: a raw parquet read of the
    // cell directories must not resurrect d0=3
    val raw = spark.read.parquet(
      GraftDataSource.walkChunks(fs, root, Array.empty)
        .map(_._1.toString): _*)
    assert(raw.count() == 19L, "materialization dropped the vectored row")
    assert(!raw.select("d0").collect().map(_.getLong(0)).contains(3L))
    // and the pre-barrier seal left a clean manifest
    assert(GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).forall(_.dv.isEmpty))
    spark.sql("DROP TABLE dvcat.b")
  }

  test("WAP: a branch DELETE stages its vector invisibly until fast_forward") {
    spark.sql("CREATE TABLE dvcat.w (d0 BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.w SELECT id, id DIV 10 FROM range(0, 20)")
    spark.sql("CALL dvcat.system.branch(table => 'w', name => 'audit')")
    spark.conf.set("graft.wap.branch", "audit")
    try spark.sql("DELETE FROM dvcat.w WHERE d0 = 5")
    finally spark.conf.unset("graft.wap.branch")
    assert(spark.sql("SELECT count(*) FROM dvcat.w").collect()(0).getLong(0) == 20L,
      "main is untouched while the vector is staged on the branch")
    spark.sql("CALL dvcat.system.fast_forward(table => 'w', branch => 'audit')")
    assert(spark.sql("SELECT count(*) FROM dvcat.w").collect()(0).getLong(0) == 19L)
    assert(!spark.sql("SELECT d0 FROM dvcat.w").collect().map(_.getLong(0))
      .contains(5L))
    spark.sql("DROP TABLE dvcat.w")
  }

  test("incremental MV refresh sees a MOR delete through the change feed") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE TABLE dvcat.mv_base (id BIGINT, grp BIGINT, v DOUBLE, c0 BIGINT)")
    spark.sql("""INSERT INTO dvcat.mv_base
                 SELECT id, id % 3, CAST(id AS DOUBLE), id DIV 10
                 FROM range(0, 30)""")
    val mv = new graft.ops.MaterializedAgg(spark, s"$warehouse/mv_base",
      s"$warehouse/mv_state", Seq("grp"), Seq("v"))
    mv.initialize()
    // vectors, not rewrites: the MV's delta must still see the before-images
    // (30% of one file would cut over — pin the VECTOR path explicitly)
    spark.conf.set(GraftDv.CutoverFractionConf, "1.0")
    try spark.sql("DELETE FROM dvcat.mv_base WHERE id IN (3, 6, 9)") // all grp 0
    finally spark.conf.unset(GraftDv.CutoverFractionConf)
    val (fs, root) = fsOf(s"$warehouse/mv_base")
    assert(GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).exists(_.dv.isDefined),
      "the DELETE took the vector path")
    mv.refresh()
    val got = mv.world.df.where(col("gid") =!= 0L)
      .select("grp", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 7L, 1L -> 10L, 2L -> 10L),
      s"the refresh reversed exactly the vectored rows: $got")
    spark.sql("DROP TABLE dvcat.mv_base")
  }

  test("concurrent trickle-deletes compose: lost CAS re-unions, no aborts") {
    spark.sql("CREATE TABLE dvcat.cc (d0 BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.cc SELECT id, id DIV 100 FROM range(0, 100)")
    // 4 workers deleting disjoint rows of the SAME file, racing: position
    // deletes address the immutable physical file, so every loser re-unions
    // against the winner's vector and all four land. Cutover pinned OFF:
    // the cumulative union crosses 20% mid-race here, and a cutover
    // rewrite retires the rel the racing statements address — that case
    // aborts loudly ("retry against the new state"), it must not compose.
    spark.conf.set(GraftDv.CutoverFractionConf, "1.0")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val fs4 = (0 until 4).map { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          spark.sql(s"DELETE FROM dvcat.cc WHERE d0 % 10 = $w")
      })
    }
    pool.shutdown()
    try fs4.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    finally spark.conf.unset(GraftDv.CutoverFractionConf)
    assert(spark.sql("SELECT count(*) FROM dvcat.cc").collect()(0).getLong(0) == 60L,
      "all four workers' deletes composed")
    val (fs, root) = fsOf(s"$warehouse/cc")
    val entry = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).find(_.dv.isDefined).get
    assert(entry.dv.get._2 == 40L, s"one final vector holds the union: $entry")
    spark.sql("DROP TABLE dvcat.cc")
  }

  test("World.df applies vectors: the programmatic read face cannot resurrect") {
    import spark.implicits._
    import graft.core._
    // a World created programmatically, then vector-deleted through its
    // catalog face — the mixed-use shape where a raw manifest-list parquet
    // read would resurrect the deleted rows
    val w = new graft.world.World(spark, s"$warehouse/wd", Seq(
      graft.world.DimSpec("d0", DimMapping(0, 99, 10))))
    w.create((0L until 40L).map(i => (i, i * 10L)).toDF("d0", "v"))
    // a World.create resets the commit log (unversioned) — the SQL INSERT
    // seals the baseline + v1, making the log authoritative for MOR
    spark.sql("INSERT INTO dvcat.wd VALUES (41, 410, 4)")
    spark.sql("DELETE FROM dvcat.wd WHERE d0 IN (4, 17)")
    val (fs, root) = fsOf(s"$warehouse/wd")
    assert(GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get).exists(_.dv.isDefined),
      "the DELETE took the vector path")
    val got = w.df.select("d0").as[Long].collect().toSet
    assert(got == (0L until 40L).toSet ++ Set(41L) -- Set(4L, 17L),
      s"World.df must honor the vectors, got ${got.size} rows")
    // the select face rides the same frame
    assert(w.select(0, Bounds.to(0, 19)).iter().select("d0").as[Long]
      .collect().toSet == (0L until 20L).toSet -- Set(4L, 17L))
    spark.sql("DROP TABLE dvcat.wd")
  }

  test("r18 columnar MoR read: dv'd scans stay vectorized and match the data model") {
    spark.sql("CREATE TABLE dvcat.tcol (d0 BIGINT, v BIGINT, s STRING, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.tcol SELECT id, id * 10, concat('s', id), id DIV 25" +
      " FROM range(0, 100)")
    // deletes spread over several files/cells, including a batch-boundary-ish
    // mix of early/late ordinals
    spark.sql("DELETE FROM dvcat.tcol WHERE d0 IN (0, 1, 13, 24, 25, 49, 50, 99)")
    def readAll() = spark.read.format("graft").load(s"$warehouse/tcol")
    val df = readAll().orderBy("d0")
    val viaColumnar = df.collect().toSeq
    // the scan stays columnar DESPITE the deletion vectors (r17 forced the
    // row reader whenever any planned file carried a dv); checked on the
    // FINAL plan — AQE only shows the ColumnarToRow transition post-run
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString)
    val deleted = Set(0L, 1L, 13L, 24L, 25L, 49L, 50L, 99L)
    assert(viaColumnar.size == 92 &&
      !viaColumnar.exists(r => deleted(r.getAs[Long]("d0"))))
    // the inserted model, minus the deleted set
    val survivors = (0L until 100L).filterNot(deleted)
    assert(viaColumnar.map(r => (r.getAs[Long]("d0"), r.getAs[Long]("v"),
      r.getAs[String]("s"), r.getAs[Long]("c0"))) ==
      survivors.map(d => (d, 10 * d, s"s$d", d / 25)))
    // pushed limit counts LIVE rows
    assert(readAll().limit(95).count() == 92L)
    // const-only projection (bucket + _cell — no data column) through dv'd
    // files: the synthesized constant batches still debit the vector
    val constCols = readAll().select("c0", "_cell").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(constCols == survivors.map(d => (d / 25, s"c0=${d / 25}")) &&
      constCols.size == 92)
    // bucket-only projection: constant batches too, through the same reader
    val bucketOnly = readAll().select("c0")
    assert(bucketOnly.collect().map(_.getLong(0)).sorted.toSeq ==
      survivors.map(_ / 25))
    assert(bucketOnly.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      bucketOnly.queryExecution.executedPlan.toString)
    // residual filter over a dv'd columnar scan: Spark's re-check keeps it
    // row-exact even though block predicates are dropped for ordinal safety
    assert(readAll().where("v >= 130 AND v < 300").count() ==
      (13L until 30L).filterNot(deleted).size.toLong)
  }

  test("r18 columnar MoR read: dv mapping is exact across 4096-row batch boundaries") {
    // one cell = one file of 24k rows = 6 ColumnarBatches; deletes at batch
    // edges (0, 4095, 12288, last row) plus a dense range that wipes out
    // ALL of batch 2 (ordinals 4096..8191) — exercising the
    // skip-fully-deleted-batch loop and the baseOrdinal cursor across
    // batches. 4100 deletes on 24000 rows (17%) stays under the 20%
    // vector-abandon cutover so the file keeps its dv.
    spark.sql("CREATE TABLE dvcat.tbig (d0 BIGINT, v BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO dvcat.tbig SELECT id, id * 3, 0 FROM range(0, 24000)")
    spark.sql("DELETE FROM dvcat.tbig WHERE d0 = 0 OR d0 = 4095" +
      " OR (d0 BETWEEN 4096 AND 8191) OR d0 = 12288 OR d0 = 23999")
    val (fs, root) = fsOf(s"$warehouse/tbig")
    val entries = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    assert(entries.exists(_.dv.isDefined),
      s"the delete must stay merge-on-read for this test to mean anything: $entries")
    val deleted = (l: Long) => l == 0L || l == 4095L ||
      (l >= 4096L && l <= 8191L) || l == 12288L || l == 23999L
    val expect = (0L until 24000L).filterNot(deleted)
    def readSum() = {
      val rows = spark.read.format("graft").load(s"$warehouse/tbig")
        .select("d0", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.forall { case (d, v) => v == d * 3 },
        "survivor rows must keep their own values (no off-by-one row slip)")
      rows.map(_._1).sorted.toSeq
    }
    assert(readSum() == expect)
    // `_pos` is the physical ordinal, and the file holds d0 in ordinal order
    val addressed = spark.read.format("graft").load(s"$warehouse/tbig")
      .selectExpr("_pos", "d0")
    val addrs = addressed.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(addrs.map(_._2).sorted.toSeq == expect)
    assert(addrs.forall { case (p, d) => p == d },
      s"_pos must equal d0: ${addrs.filter { case (p, d) => p != d }.take(5).toSeq}")
    assert(addressed.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      addressed.queryExecution.executedPlan.toString)
    // a `_pos`-only projection has no data column: the reader walks the
    // ordinals itself, skipping the deleted ones
    val posOnly = spark.read.format("graft").load(s"$warehouse/tbig")
      .selectExpr("_pos").collect().map(_.getLong(0)).sorted.toSeq
    assert(posOnly == expect)
    // live-row limit across the wiped-out middle batch
    assert(spark.read.format("graft").load(s"$warehouse/tbig")
      .limit(5000).count() == 5000L)
  }

  test("DELETE matching nothing seals no version; bucket DELETE stays metadata") {
    val (fs, root) = fsOf(s"$warehouse/t")
    val before = GraftVersions.latestVersion(fs, root).get
    spark.sql("DELETE FROM dvcat.t WHERE v = -999")
    assert(GraftVersions.latestVersion(fs, root).get == before,
      "an empty delta must not burn a version")
    // bucket-only predicate: the metadata path drops whole cells, no vectors
    spark.sql("DELETE FROM dvcat.t WHERE c0 = 3")
    val entries = GraftVersions.readEntries(fs, root,
      GraftVersions.latestVersion(fs, root).get)
    assert(!entries.exists(_.rel.contains("c0=3")))
    spark.sql("DROP TABLE dvcat.t")
  }
}
