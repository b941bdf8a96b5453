package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import graft.sources.PlannedFiles._

/** Manifest-carried ZONE MAPS (sources/GraftStats.scala): commits capture
  * per-file integral min/max bounds into the version manifest, and planning
  * refutes pushed range/equality atoms against them with zero per-file
  * I/O — files whose bounds exclude the predicate are never scheduled AND
  * never footer-probed. The declared policy (`system.set_stats`) narrows or
  * disables capture; rename evolution keeps old spellings prunable.
  */
class GraftStatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val warehouse = Files.createTempDirectory("graft-zwh").toString

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.zcat", "graft.sources.GraftCatalog")
    .config("spark.sql.catalog.zcat.warehouse", warehouse)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fsOf(path: String) =
    FileSystem.get(new java.net.URI(path), new Configuration())

  private def scanOf(path: String,
      residual: Array[org.apache.spark.sql.sources.Filter],
      cols: Seq[String] = Seq("id", "v")) =
    new GraftScan(path,
      StructType(cols.map(StructField(_, LongType))),
      pushed = Array.empty, residual = residual)

  test("commits capture zone maps; range atoms prune files from the manifest alone") {
    spark.sql("CREATE TABLE zcat.z (id BIGINT, v BIGINT, c0 BIGINT)")
    // three commits, disjoint id ranges, ONE cell (c0=0) — bucket pruning
    // can't help, so any file drop below is the zone map's
    spark.sql(s"INSERT INTO zcat.z SELECT id, id * 2, 0 FROM range(0, 100)")
    spark.sql(s"INSERT INTO zcat.z SELECT id, id * 2, 0 FROM range(100, 200)")
    spark.sql(s"INSERT INTO zcat.z SELECT id, id * 2, 0 FROM range(200, 300)")
    val path = s"$warehouse/z"
    val fs = fsOf(path)

    // the manifest carries bounds for both integral data columns
    val entries = GraftVersions.readEntries(fs, new Path(path), 3L)
    assert(entries.nonEmpty)
    entries.foreach { e =>
      assert(e.stats.contains("id") && e.stats.contains("v"),
        s"entry ${e.rel} lacks zone maps: ${e.stats}")
    }
    val idBounds = entries.map(_.stats("id")).sortBy(_._1)
    assert(idBounds.map(_._1).min == 0L && idBounds.map(_._2).max == 299L)

    val all = scanOf(path, Array.empty).plannedFiles().length
    assert(all == entries.size, "no atoms: every live file planned")

    // range refutation: only the [200,299] commit's file(s) survive
    val hi = scanOf(path, Array(GreaterThan("id", 220L)))
    assert(hi.plannedFiles().length < all)
    assert(hi.description().contains("ZoneSkipCols: [id]"))
    // point refutation on the DERIVED column v (= id*2): 300 lives in file 2
    val pt = scanOf(path, Array(EqualTo("v", 300L)))
    assert(pt.plannedFiles().length == 1,
      s"v=300 lives in exactly one commit's bounds")
    // an impossible predicate plans ZERO files — and zero footer reads
    assert(scanOf(path, Array(GreaterThan("id", 10000L)))
      .plannedFiles().isEmpty)
    // results stay exact through the skip
    assert(spark.sql("SELECT count(*) FROM zcat.z WHERE id > 220").head.getLong(0) == 79L)
    assert(spark.sql("SELECT id FROM zcat.z WHERE v = 300").head.getLong(0) == 150L)
  }

  test("timestamp zone maps: time-range predicates prune files at planning") {
    import org.apache.spark.sql.types.TimestampType
    spark.sql("CREATE TABLE zcat.zt (id BIGINT, ts TIMESTAMP, c0 BIGINT)")
    // three commits, disjoint one-hour windows, one cell — any file drop
    // below is the int64 zone map tested through the timestamp conversion
    for (h <- 0 until 3)
      spark.sql(s"""INSERT INTO zcat.zt
                    SELECT id, timestamp'2026-01-01 0$h:00:00' + make_interval(0,0,0,0,0,0,id), 0
                    FROM range(0, 60)""")
    val path = s"$warehouse/zt"
    val entries = GraftVersions.readEntries(fsOf(path), new Path(path), 3L)
    assert(entries.forall(_.stats.contains("ts")),
      s"timestamp bounds ride the integral zone map: ${entries.map(_.stats)}")
    def scan(residual: Array[org.apache.spark.sql.sources.Filter]) =
      new GraftScan(path,
        StructType(Seq(StructField("id", LongType),
          StructField("ts", TimestampType))),
        pushed = Array.empty, residual = residual)
    val all = scan(Array.empty).plannedFiles().length
    assert(all == entries.size)
    // last hour only: both java.sql.Timestamp and Instant operand shapes
    val cut = java.sql.Timestamp.valueOf("2026-01-01 02:00:00")
    assert(scan(Array(org.apache.spark.sql.sources
      .GreaterThanOrEqual("ts", cut))).plannedFiles().length < all)
    val cutI = cut.toInstant
    assert(scan(Array(org.apache.spark.sql.sources
      .GreaterThanOrEqual("ts", cutI))).plannedFiles().length < all)
    // a window after every bound plans zero files
    assert(scan(Array(org.apache.spark.sql.sources.GreaterThan("ts",
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))))
      .plannedFiles().isEmpty)
    // end-to-end row-exactness through the skip
    assert(spark.sql(
      "SELECT count(*) FROM zcat.zt WHERE ts >= timestamp'2026-01-01 02:00:00'")
      .head.getLong(0) == 60L)
  }

  test("manifest row counts: captured at seal, exact numRows reported") {
    spark.sql("CREATE TABLE zcat.rc (id BIGINT, c0 BIGINT)")
    spark.sql("INSERT INTO zcat.rc SELECT id, id DIV 50 FROM range(0, 120)")
    spark.sql("INSERT INTO zcat.rc SELECT id, id DIV 50 FROM range(120, 150)")
    val path = s"$warehouse/rc"
    val fs = fsOf(path)
    val entries = GraftVersions.readEntries(fs, new Path(path), 2L)
    assert(entries.forall(_.rows >= 0L), s"rows captured: $entries")
    assert(entries.map(_.rows).sum == 150L)
    // the scan reports an EXACT live row count from the manifest alone
    val st = scanOf(path, Array.empty, Seq("id")).estimateStatistics()
    assert(st.numRows.isPresent && st.numRows.getAsLong == 150L,
      s"numRows from the manifest: ${st.numRows}")
  }

  test("string zone maps: prefix bounds prune files; long values stay safe") {
    import org.apache.spark.sql.types.StringType
    spark.sql("CREATE TABLE zcat.zs (id BIGINT, name STRING, c0 BIGINT)")
    // three commits, disjoint NAME ranges, one cell — any drop is the
    // string zone map's. The third commit's names exceed the 16-byte
    // prefix cap, so its max bound is stored TRUNCATED.
    spark.sql("""INSERT INTO zcat.zs
                 SELECT id, concat('apple_', id), 0 FROM range(0, 50)""")
    spark.sql("""INSERT INTO zcat.zs
                 SELECT id, concat('mango_', id), 0 FROM range(50, 100)""")
    spark.sql("""INSERT INTO zcat.zs
                 SELECT id, concat('zanzibar_longname_', id), 0
                 FROM range(100, 150)""")
    val path = s"$warehouse/zs"
    val fs = fsOf(path)
    val entries = GraftVersions.readEntries(fs, new Path(path), 3L)
    assert(entries.forall(_.sstats.contains("name")),
      s"string bounds captured: ${entries.map(_.sstats)}")
    assert(entries.exists(_.sstats("name")._2.endsWith("+")),
      "the long-name commit's max bound is truncation-marked")

    def scan(residual: Array[org.apache.spark.sql.sources.Filter]) =
      new GraftScan(path,
        StructType(Seq(StructField("id", LongType),
          StructField("name", StringType))),
        pushed = Array.empty, residual = residual)
    val all = scan(Array.empty).plannedFiles().length
    assert(all == entries.size)
    // equality under a cold prefix prunes to one commit's file(s)
    assert(scan(Array(EqualTo("name", "mango_75"))).plannedFiles()
      .length < all)
    // a range above every bound plans zero files
    assert(scan(Array(GreaterThan("name", "zz"))).plannedFiles().isEmpty)
    // the truncated bound does NOT refute a value extending its prefix
    assert(scan(Array(EqualTo("name", "zanzibar_longname_149")))
      .plannedFiles().nonEmpty,
      "a cut max bound must keep values sharing the cut prefix")
    // end-to-end row-exactness through the skip
    assert(spark.sql("SELECT count(*) FROM zcat.zs WHERE name >= 'mango'")
      .head.getLong(0) == 100L)
    assert(spark.sql("SELECT id FROM zcat.zs WHERE name = 'zanzibar_longname_149'")
      .head.getLong(0) == 149L)
  }

  test(".files metadata table surfaces each file's bounds") {
    val bounds = spark.sql(
      "SELECT bounds FROM zcat.z.files ORDER BY file LIMIT 1").head.getString(0)
    assert(bounds.contains("id=") && bounds.contains("v="),
      s"bounds column must carry the zone map, got '$bounds'")
  }

  test("set_stats 'off' stops capture; a column list narrows it; 'auto' restores") {
    spark.sql("CREATE TABLE zcat.zo (id BIGINT, v BIGINT, c0 BIGINT)")
    val path = s"$warehouse/zo"
    val fs = fsOf(path)
    spark.sql("CALL zcat.system.set_stats(table => 'zo', columns => 'off')")
    spark.sql("INSERT INTO zcat.zo VALUES (1, 2, 0)")
    assert(GraftVersions.readEntries(fs, new Path(path), 1L)
      .forall(_.stats.isEmpty), "declared-off commit captured bounds")
    spark.sql("CALL zcat.system.set_stats(table => 'zo', columns => 'v')")
    spark.sql("INSERT INTO zcat.zo VALUES (10, 20, 0)")
    val v2New = GraftVersions.readEntries(fs, new Path(path), 2L)
      .filter(_.stats.nonEmpty)
    assert(v2New.nonEmpty && v2New.forall(e =>
      e.stats.keySet == Set("v") && e.stats("v") == (20L, 20L)))
    spark.sql("CALL zcat.system.set_stats(table => 'zo', columns => 'auto')")
    spark.sql("INSERT INTO zcat.zo VALUES (30, 40, 0)")
    assert(GraftVersions.readEntries(fs, new Path(path), 3L)
      .exists(e => e.stats.contains("id") && e.stats.contains("v")))
  }

  test("nulls: all-null files get no entry and are kept; mixed files bound non-nulls") {
    spark.sql("CREATE TABLE zcat.zn (id BIGINT, v BIGINT, c0 BIGINT)")
    val path = s"$warehouse/zn"
    spark.sql("INSERT INTO zcat.zn VALUES (1, NULL, 0), (2, NULL, 0)") // v all-null
    spark.sql("INSERT INTO zcat.zn VALUES (3, 7, 0), (4, NULL, 0)")    // v mixed
    val entries = GraftVersions.readEntries(fsOf(path), new Path(path), 2L)
    val byV = entries.map(_.stats.get("v"))
    assert(byV.contains(None), "all-null file must carry no v bounds")
    assert(byV.flatten.contains((7L, 7L)), "mixed file bounds its non-null values")
    // a range scan keeps the no-bounds file (sound) and answers exactly
    assert(spark.sql("SELECT id FROM zcat.zn WHERE v > 5").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("rename evolution: old files stay prunable under the new name") {
    spark.sql("CREATE TABLE zcat.zr (id BIGINT, v BIGINT, c0 BIGINT)")
    val path = s"$warehouse/zr"
    spark.sql("INSERT INTO zcat.zr SELECT id, id, 0 FROM range(0, 50)")
    spark.sql("ALTER TABLE zcat.zr RENAME COLUMN id TO doc_id")
    spark.sql("INSERT INTO zcat.zr SELECT id, id, 0 FROM range(1000, 1050)")
    // pre-rename bounds live under 'id'; the atom on doc_id must resolve
    // through the alias and still drop the old file for a high range
    val hi = scanOf(path, Array(GreaterThan("doc_id", 500L)), Seq("doc_id", "v"))
    val all = scanOf(path, Array.empty, Seq("doc_id", "v"))
      .plannedFiles().length
    assert(hi.plannedFiles().length < all,
      "pre-rename file with id<=49 must be zone-pruned for doc_id > 500")
    assert(spark.sql("SELECT count(*) FROM zcat.zr WHERE doc_id > 500")
      .head.getLong(0) == 50L)
    // and the old file is still FOUND when the range wants it
    assert(spark.sql("SELECT count(*) FROM zcat.zr WHERE doc_id < 10")
      .head.getLong(0) == 10L)
  }

  test("seal-time stats are writer-captured: zero driver footer opens for connector writes") {
    spark.sql("CREATE TABLE zcat.zw (id BIGINT, name STRING, c0 BIGINT)")
    val path = s"$warehouse/zw"
    val before = GraftStats.footerOpens.get()
    // append, MoR UPDATE (delta: vector + routed append), MoR DELETE,
    // dynamic overwrite — every connector-written commit shape; bounds +
    // row counts must ride the task commit messages, so the seal re-opens
    // NOTHING
    spark.sql("INSERT INTO zcat.zw SELECT id, concat('n_', id), id % 2 FROM range(0, 100)")
    spark.sql("INSERT INTO zcat.zw SELECT id, concat('m_', id), id % 2 FROM range(100, 200)")
    spark.sql("UPDATE zcat.zw SET name = 'x_5' WHERE id = 5")
    spark.sql("DELETE FROM zcat.zw WHERE id = 150")
    spark.sql("INSERT OVERWRITE zcat.zw SELECT id, concat('o_', id), id % 2 FROM range(0, 50)")
    assert(GraftStats.footerOpens.get() == before,
      "a connector-written commit must not open parquet footers at seal — " +
        "the writer tasks already carried bounds/rows in their messages")
    val fs = fsOf(path)
    val v = GraftVersions.latestVersion(fs, new Path(path)).get
    val entries = GraftVersions.readEntries(fs, new Path(path), v)
    assert(entries.nonEmpty)
    assert(entries.forall(_.rows >= 0L),
      s"writer-captured row counts on every entry: $entries")
    assert(entries.forall(e => e.stats.contains("id") && e.sstats.contains("name")),
      s"writer-captured bounds on every entry: $entries")
    // the captured bounds still prune and answers stay exact
    import org.apache.spark.sql.types.StringType
    val all = new GraftScan(path,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      pushed = Array.empty, residual = Array.empty).plannedFiles().length
    // post-overwrite live files all span id 0..49: a bound above every
    // max plans ZERO files purely from the writer-captured manifest
    val hi = new GraftScan(path,
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      pushed = Array.empty,
      residual = Array(GreaterThan("id", 100L))).plannedFiles().length
    assert(all > 0 && hi == 0, "writer-captured zone maps must still drop files")
    assert(spark.sql("SELECT count(*) FROM zcat.zw WHERE id > 40").head.getLong(0) == 9L)
  }

  test("foreign parquet still enriches: the footer fallback covers files our writer never saw") {
    // a pre-versioning world written by PLAIN spark parquet (no commit
    // messages, no writer stats) — the first versioned commit's baseline
    // walk must footer-read these files to capture bounds
    val path = s"$warehouse/zforeign"
    spark.range(0, 40).selectExpr("id", "id * 3 AS v", "CAST(0 AS BIGINT) AS c0")
      .write.partitionBy("c0").parquet(path)
    val fs = fsOf(path)
    val before = GraftStats.footerOpens.get()
    val c = GraftVersions.beginCommit(fs, new Path(path))
    GraftVersions.sealCommit(fs, new Path(path), c, Set.empty, Seq.empty)
    assert(GraftStats.footerOpens.get() > before,
      "foreign files must take the footer fallback")
    val entries = GraftVersions.readEntries(fs, new Path(path), 0L)
    assert(entries.nonEmpty && entries.forall(e =>
      e.stats.contains("id") && e.stats.contains("v") && e.rows >= 0L),
      s"fallback-captured bounds: $entries")
  }

  test("boundsMightMatch: refutation is a proof, unknowns are kept") {
    import GraftBloom.{EqAtom, RangeAtom}
    val b = Map("id" -> (10L, 20L))
    def m(atoms: Seq[GraftBloom.SkipAtom],
        aliases: Map[String, Seq[String]] = Map.empty) =
      GraftStats.boundsMightMatch(b, Map.empty, atoms, aliases)
    assert(m(Seq(EqAtom("id", Array[Any](15L)))))
    assert(!m(Seq(EqAtom("id", Array[Any](9L)))))
    assert(!m(Seq(EqAtom("id", Array[Any](21L)))))
    assert(m(Seq(EqAtom("id", Array[Any](9L, 12L)))), "IN keeps on any hit")
    // fractional equality can never hit an integral column
    assert(!m(Seq(EqAtom("id", Array[Any](java.lang.Double.valueOf(15.5))))))
    assert(m(Seq(EqAtom("id", Array[Any](java.lang.Double.valueOf(15.0))))))
    // ranges: 2=lt 3=ltEq 4=gt 5=gtEq
    assert(!m(Seq(RangeAtom("id", 2, 10L))) && m(Seq(RangeAtom("id", 3, 10L))))
    assert(!m(Seq(RangeAtom("id", 4, 20L))) && m(Seq(RangeAtom("id", 5, 20L))))
    // unknown column / non-numeric candidate: kept
    assert(m(Seq(EqAtom("other", Array[Any](1L)))))
    assert(m(Seq(EqAtom("id", Array[Any]("x")))))
    // alias resolution: atom on the new name tests the old spelling's
    // bounds; without the alias the column is unknown and kept
    assert(m(Seq(RangeAtom("doc_id", 4, 20L))))
    assert(!GraftStats.boundsMightMatch(b, Map.empty,
      Seq(RangeAtom("doc_id", 4, 20L)), Map("doc_id" -> Seq("id"))))
    assert(GraftStats.boundsMightMatch(b, Map.empty,
      Seq(RangeAtom("doc_id", 4, 15L)), Map("doc_id" -> Seq("id"))))
  }

  test("string prefix bounds: sound refutation, truncation never over-prunes") {
    import GraftBloom.{EqAtom, StrRangeAtom}
    def enc(s: String) = GraftStats.encodeStrBound(s.getBytes("UTF-8"))
    // exact (un-truncated) bounds: ["frank", "peter"]
    val sb = Map("name" -> (enc("frank"), enc("peter")))
    def m(atoms: Seq[GraftBloom.SkipAtom],
        s: Map[String, (String, String)] = sb) =
      GraftStats.boundsMightMatch(Map.empty, s, atoms, Map.empty)
    assert(m(Seq(EqAtom("name", Array[Any]("karen")))))
    assert(!m(Seq(EqAtom("name", Array[Any]("alice")))))
    assert(!m(Seq(EqAtom("name", Array[Any]("zara")))))
    assert(m(Seq(EqAtom("name", Array[Any]("frank")))), "boundary kept")
    assert(m(Seq(EqAtom("name", Array[Any]("peter")))), "boundary kept")
    // ranges: 2=lt 3=ltEq 4=gt 5=gtEq
    assert(!m(Seq(StrRangeAtom("name", 2, "frank"))), "nothing < min")
    assert(m(Seq(StrRangeAtom("name", 3, "frank"))))
    assert(!m(Seq(StrRangeAtom("name", 4, "peter"))), "nothing > max")
    assert(m(Seq(StrRangeAtom("name", 5, "peter"))))

    // TRUNCATED max: a 20-char value cut at the 16-byte prefix. The bound
    // must not refute values SHARING the cut prefix (they may exceed the
    // stored part), only values provably above the prefix-successor.
    val long = "peterpeterpeterpeter" // 20 bytes; stored prefix = 16
    val encLong = enc(long)
    assert(encLong.endsWith("+") && encLong.length == 33)
    val tb = Map("name" -> (enc("frank"), encLong))
    // the boundary value ITSELF (and any extension of the cut prefix) kept
    assert(m(Seq(EqAtom("name", Array[Any](long))), tb),
      "a truncated bound must NOT refute the boundary value")
    assert(m(Seq(EqAtom("name", Array[Any]("peterpeterpeterpzzz"))), tb),
      "values under the cut prefix are unknowable — kept")
    assert(m(Seq(StrRangeAtom("name", 4, long)), tb),
      "> boundary might hold under the cut prefix")
    // but clearly-above values still prune
    assert(!m(Seq(EqAtom("name", Array[Any]("zzz"))), tb))
    assert(!m(Seq(StrRangeAtom("name", 5, "q")), tb), "max < 'q' is provable")

    // truncated MIN stays a valid lower bound: values below it prune,
    // values above it keep
    val tmin = Map("name" -> (enc("frankfrankfrankfrank"), enc("peter")))
    assert(!m(Seq(StrRangeAtom("name", 2, "frank")), tmin),
      "nothing can sort below the min PREFIX")
    assert(m(Seq(EqAtom("name", Array[Any]("frankfrankfrankfzzz"))), tmin))
  }
}
