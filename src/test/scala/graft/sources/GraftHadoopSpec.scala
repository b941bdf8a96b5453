package graft.sources

import graft.core.DimMapping
import graft.world.{DimSpec, World}
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A local file system under its own scheme, known to Hadoop only through
  * the `fs.graftsession.impl` key of a session's Hadoop conf: any code path
  * that builds a fresh `Configuration` fails with "No FileSystem for scheme". */
class SessionSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = SessionSchemeFileSystem.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${SessionSchemeFileSystem.Scheme}:///")
  // the two create chains FileSystem.create(Path, ...) can land on
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    SessionSchemeFileSystem.created.add(f.getName)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    SessionSchemeFileSystem.created.add(f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object SessionSchemeFileSystem {
  val Scheme = "graftsession"
  /** Names of the files created through the scheme's own `create`. */
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The connector takes its Hadoop conf from the session (driver side) and
  * from the conf its factories ship (executor side), never from a fresh
  * `Configuration`. */
class GraftHadoopSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the connector honours session-only Hadoop settings: columnar, _pos and pushed-COUNT reads") {
    import spark.implicits._
    import SessionSchemeFileSystem.Scheme
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Map(
      s"fs.$Scheme.impl" -> classOf[SessionSchemeFileSystem].getName,
      // no FileSystem cache entry may outlive a conf that knew the scheme
      s"fs.$Scheme.impl.disable.cache" -> "true",
      // the scheme is unknown to the commit log's capability table
      s"${GraftVersions.CapabilityConfPrefix}$Scheme" -> "create-exclusive")
    keys.foreach { case (k, v) => hc.set(k, v) }
    try {
      val path = s"$Scheme://${Files.createTempDirectory("graft-hadoop")}/w"
      val w = new World(spark, path, Seq(
        DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 50))))
      w.create((0L until 50L).map(i => (i, 99L - i)).toDF("d0", "d1"))
      SessionSchemeFileSystem.created.clear()
      w.append((50L until 100L).map(i => (i, 99L - i)).toDF("d0", "d1"))
      // a non-local store is written through its own create: chunk files
      // (parquet writers) and commit-log files (streams) alike
      val created = SessionSchemeFileSystem.created.asScala.toSeq
      assert(created.exists(_.endsWith(".parquet")), created)
      assert(created.exists(_.endsWith(".claim")), created)
      val expected = (0L until 100L).map(i => (i, 99L - i))
      val df = spark.read.format("graft").load(path)

      val full = df.select("d0", "d1")
      assert(full.as[(Long, Long)].collect().sorted.toSeq == expected)
      assert(full.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "a plain projection reads through the columnar reader")

      // _pos is the physical ordinal: every file's ordinals are 0..n-1
      val addressed = df.select("d0", "_file", "_pos").as[(Long, String, Long)].collect()
      assert(addressed.map(_._1).sorted.toSeq == expected.map(_._1))
      addressed.groupBy(_._2).foreach { case (f, rs) =>
        assert(rs.map(_._3).sorted.toSeq == (0L until rs.length.toLong), f)
      }

      val count = df.groupBy().count()
      assert(count.collect().head.getLong(0) == 100L)
      assert(count.queryExecution.executedPlan.toString.contains("GraftAggScan"))
      // MIN/MAX of a data column answer from each file's footer
      val bounds = df.agg(min("d1"), max("d1"))
      assert(bounds.as[(Long, Long)].collect().toSeq == Seq((0L, 99L)))
      assert(bounds.queryExecution.executedPlan.toString.contains("GraftAggScan"))
    } finally keys.keys.foreach(hc.unset)
  }

  private def tmpDir() = Files.createTempDirectory("graft-hadoop-create")
  private def localFs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private def crcOf(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()
  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("create on the local file system: exact bytes, no .crc, the mode Hadoop sets") {
    val fs = localFs
    assert(GraftHadoop.isLocal(fs))
    val dir = tmpDir()
    val viaHadoop = dir.resolve("hadoop.txt")
    write(fs.create(new Path(viaHadoop.toUri), false), "h")
    val file = dir.resolve("a/b/nio.txt") // parents are created
    write(GraftHadoop.create(fs, new Path(file.toString), overwrite = false), "graft bytes")
    assert(new String(Files.readAllBytes(file), "UTF-8") == "graft bytes")
    assert(read(fs, new Path(file.toString)) == "graft bytes")
    assert(!Files.exists(crcOf(file)))
    assert(Files.exists(crcOf(viaHadoop)), "Hadoop's own create writes a .crc")
    val mode = Files.getPosixFilePermissions(file)
    assert(mode == Files.getPosixFilePermissions(viaHadoop))
    assert(mode == GraftHadoop.fileMode(fs.getConf))
    assert(mode.asScala.map(_.toString) ==
      Set("OWNER_READ", "OWNER_WRITE", "GROUP_READ", "OTHERS_READ"),
      "rw-rw-rw- under the default umask 022")
  }

  test("create honours the file system's umask") {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(FsPermission.UMASK_LABEL, "077")
    val fs = new org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    try {
      val file = tmpDir().resolve("private.txt")
      write(GraftHadoop.create(fs, new Path(file.toString), overwrite = false), "x")
      assert(Files.getPosixFilePermissions(file).asScala.map(_.toString) ==
        Set("OWNER_READ", "OWNER_WRITE"))
    } finally fs.close()
  }

  test("overwriting a file that carries a stale .crc reads back with no ChecksumException") {
    val fs = localFs
    val file = tmpDir().resolve("sidecar.json")
    val p = new Path(file.toString)
    write(fs.create(p, false), "old content, checksummed")
    assert(Files.exists(crcOf(file)))
    write(GraftHadoop.create(fs, p, overwrite = true), "new")
    assert(!Files.exists(crcOf(file)), "the stale checksum is dropped with the old bytes")
    assert(read(fs, p) == "new")
    assert(Files.getPosixFilePermissions(file) == GraftHadoop.fileMode(fs.getConf))
  }

  test("create with overwrite = false on an existing file throws Hadoop's FileAlreadyExistsException") {
    val fs = localFs
    val p = new Path(tmpDir().resolve("claim").toString)
    GraftHadoop.create(fs, p, overwrite = false).close()
    intercept[FileAlreadyExistsException](GraftHadoop.create(fs, p, overwrite = false))
    val f = GraftHadoop.outputFile(p, spark.sparkContext.hadoopConfiguration)
    intercept[FileAlreadyExistsException](f.create(0L))
    write(GraftHadoop.create(fs, p, overwrite = true), "x") // overwrite still allowed
    assert(read(fs, p) == "x")
  }

  test("outputFile: nio on the local file system, Hadoop on any other scheme") {
    import SessionSchemeFileSystem.Scheme
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = tmpDir()
    assert(!GraftHadoop.outputFile(new Path(dir.resolve("a.parquet").toString), hc)
      .isInstanceOf[org.apache.parquet.hadoop.util.HadoopOutputFile])
    val conf = new org.apache.hadoop.conf.Configuration(hc)
    conf.set(s"fs.$Scheme.impl", classOf[SessionSchemeFileSystem].getName)
    conf.set(s"fs.$Scheme.impl.disable.cache", "true")
    assert(GraftHadoop.outputFile(new Path(s"$Scheme://$dir/b.parquet"), conf)
      .isInstanceOf[org.apache.parquet.hadoop.util.HadoopOutputFile])
  }

  test("connector writes on the local file system leave no .crc; earlier files keep theirs") {
    import spark.implicits._
    val path = tmpDir().resolve("w").toString
    val w = new World(spark, path, Seq(
      DimSpec("d0", DimMapping(0, 99, 10)), DimSpec("d1", DimMapping(0, 99, 50))))
    // World.create writes through Spark's own parquet writer (with .crc)
    w.create((0L until 50L).map(i => (i, 99L - i)).toDF("d0", "d1"))
    def parquet(): Set[java.nio.file.Path] = {
      val s = Files.walk(Paths.get(path))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSet
      finally s.close()
    }
    val old = parquet()
    assert(old.nonEmpty && old.forall(f => Files.exists(crcOf(f))))
    w.append((50L until 100L).map(i => (i, 99L - i)).toDF("d0", "d1"))
    val added = parquet() -- old
    assert(added.nonEmpty)
    val mode = GraftHadoop.fileMode(localFs.getConf)
    added.foreach { f =>
      assert(!Files.exists(crcOf(f)), f)
      assert(Files.getPosixFilePermissions(f) == mode, f)
    }
    assert(old.forall(f => Files.exists(crcOf(f))))
    val log = Files.walk(Paths.get(path, "_graft_versions"))
    try assert(!log.iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")))
    finally log.close()
    assert(spark.read.format("graft").load(path).select("d0").as[Long].collect().sorted.toSeq ==
      (0L until 100L))
  }

  test("two appends racing onto one virgin path both land, rows exact") {
    import spark.implicits._
    (0 until 3).foreach { round =>
      val path = tmpDir().resolve("virgin").toString
      val start = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val ranges = Seq(0L until 100L, 1000L until 1100L)
      try {
        ranges.map { ids =>
          val df = ids.map(i => (i, i % 7, i / 100)).toDF("d0", "v", "c0")
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              start.await()
              df.write.format("graft").mode("append").save(path)
            }
          })
        }.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      val got = spark.read.format("graft").load(path).select("d0").as[Long].collect().sorted
      assert(got.toSeq == ranges.flatten, s"round $round")
    }
  }

  test("writeSidecarIfAbsent: racing writers all return; the sidecar is one whole schema") {
    val schemas = (0 until 4).map(i => StructType(Seq(
      StructField(s"d$i", LongType), StructField("c0", LongType))))
    (0 until 10).foreach { round =>
      val path = tmpDir().toString
      val start = new java.util.concurrent.CyclicBarrier(schemas.size)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(schemas.size)
      try {
        schemas.map { sc =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              start.await()
              GraftDataSource.writeSidecarIfAbsent(path, sc)
            }
          })
        }.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      assert(schemas.contains(GraftDataSource.sidecarSchema(path)), s"round $round")
    }
  }

  private val freshConf = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\(\s*\)""".r
  private val footerOpen = java.util.regex.Pattern.quote("ParquetFileReader.open(").r

  /** Argument count of the call whose '(' ends just before `from`. */
  private def arity(src: String, from: Int): Int = {
    var depth = 1
    var commas = 0
    var i = from
    while (depth > 0 && i < src.length) {
      src.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case _ =>
      }
      i += 1
    }
    commas + 1
  }

  // a `.create(` on a value (an object's is a factory: `Predicate.create`)
  private val valueCreate = """([\w)]+)\s*\.create\(""".r
  private val builderOpen = java.util.regex.Pattern.quote("new GraftParquetWriterBuilder(").r
  private val hadoopOutput = java.util.regex.Pattern.quote("HadoopOutputFile.fromPath(").r
  // the Group-API read only GraftDv's record copy keeps: scans decode
  // through GraftColumnarPartitionReader
  private val groupRead = """GroupReadSupport|ParquetReader\.builder""".r

  /** The text of the first argument of the call whose '(' ends just before `from`. */
  private def firstArg(src: String, from: Int): String = {
    var depth = 1
    var i = from
    while (i < src.length && !(depth == 1 && src.charAt(i) == ',') && depth > 0) {
      src.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    src.substring(from, i)
  }

  /** `name:line: what` for each fresh default conf and one-argument footer
    * open; outside GraftHadoop.scala, each file created around
    * [[GraftHadoop.create]] / [[GraftHadoop.outputFile]]; and outside
    * GraftDv.scala, each parquet Group-API read. */
  private def violations(name: String, src: String): Seq[String] = {
    def line(at: Int) = src.substring(0, at).count(_ == '\n') + 1
    val creates =
      if (name == "GraftHadoop.scala") Nil
      else valueCreate.findAllMatchIn(src)
        .filter(m => m.group(1).endsWith(")") || m.group(1).head.isLower)
        .map(m => s"$name:${line(m.start)}: FileSystem create, not GraftHadoop.create") ++
        builderOpen.findAllMatchIn(src)
          .filterNot(m => firstArg(src, m.end).contains("GraftHadoop.outputFile("))
          .map(m => s"$name:${line(m.start)}: writer builder not on GraftHadoop.outputFile") ++
        hadoopOutput.findAllMatchIn(src)
          .map(m => s"$name:${line(m.start)}: HadoopOutputFile, not GraftHadoop.outputFile")
    val groupReads =
      if (name == "GraftDv.scala") Nil
      else groupRead.findAllMatchIn(src)
        .map(m => s"$name:${line(m.start)}: Group-API read, not the columnar reader")
    (freshConf.findAllMatchIn(src).map(m => s"$name:${line(m.start)}: ${m.matched}") ++
      footerOpen.findAllMatchIn(src).filter(m => arity(src, m.end) == 1)
        .map(m => s"$name:${line(m.start)}: one-argument ParquetFileReader.open") ++
      creates ++ groupReads).toSeq
  }

  test("lint checker flags fresh confs and one-argument footer opens only") {
    val bad = Seq(
      "val c = new Configuration()",
      "FileSystem.get(uri, new org.apache.hadoop.conf.Configuration( ))",
      "ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))",
      "ParquetFileReader.open(\n  inFile)")
    bad.foreach(s => assert(violations("x", s).size == 1, s))
    val good = Seq(
      "val c = new Configuration(shared)",
      "val c = new Configuration(false)",
      "ParquetFileReader.open(in, HadoopReadOptions.builder(f(a, b)).build())",
      "ParquetFileReader.open(\n  HadoopInputFile.fromPath(p, conf),\n  opts)")
    good.foreach(s => assert(violations("x", s).isEmpty, s))
  }

  test("lint checker flags file creation that bypasses GraftHadoop, outside GraftHadoop.scala") {
    val bad = Seq(
      "val out = fs.create(p, true)",
      "tfs.create(new Path(root, name), false).close()",
      "val out = fs().create(droppedPath(t), true)",
      "pl.fs\n  .create(tmp, true)",
      "FileSystem.get(uri, conf).create(p)",
      "new GraftParquetWriterBuilder(new Path(file), ws)",
      "new GraftParquetWriterBuilder(\n  dst, ws)",
      "val f = HadoopOutputFile.fromPath(p, conf)")
    bad.foreach(s => assert(violations("x.scala", s).size == 1, s))
    val good = Seq(
      "val out = GraftHadoop.create(fs, p, overwrite = true)",
      "val p = Predicate.create(c.bound)",
      "val pinned = GraftClone.create(src, target, v)",
      "new GraftParquetWriterBuilder(GraftHadoop.outputFile(new Path(file), c), ws)",
      "new GraftParquetWriterBuilder(GraftHadoop.outputFile(dst, conf),\n  new GroupWriteSupport())")
    good.foreach(s => assert(violations("x.scala", s).isEmpty, s))
    // the helpers themselves call the store's create
    assert(violations("GraftHadoop.scala", bad.head).isEmpty)
  }

  test("lint checker flags parquet Group-API reads outside GraftDv.scala") {
    val bad = Seq(
      "import org.apache.parquet.hadoop.example.GroupReadSupport",
      "val r = ParquetReader.builder(support, new Path(file)).withConf(c).build()")
    val good = Seq(
      "new GraftColumnarPartitionReader(spec, -1L, schema, conf)",
      "import org.apache.parquet.hadoop.example.GroupWriteSupport",
      "val reader: ParquetReader[Group] = null")
    good.foreach(s => assert(violations("x.scala", s).isEmpty, s))
    bad.foreach { s =>
      assert(violations("x.scala", s).size == 1, s)
      assert(violations("GraftDv.scala", s).isEmpty, s)
    }
  }

  // also fails on a file created around GraftHadoop.create / outputFile, and
  // on a Group-API read outside GraftDv.scala
  test("lint: sources/ builds no default Configuration and opens no footer without read options") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val found = files.flatMap(f =>
      violations(f.getName, new String(Files.readAllBytes(f.toPath), "UTF-8")))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
