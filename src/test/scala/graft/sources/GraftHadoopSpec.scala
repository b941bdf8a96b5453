package graft.sources

import graft.core.DimMapping
import graft.world.{DimSpec, World}
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** A local file system under its own scheme, known to Hadoop only through
  * the `fs.graftsession.impl` key of a session's Hadoop conf: any code path
  * that builds a fresh `Configuration` fails with "No FileSystem for scheme". */
class SessionSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = SessionSchemeFileSystem.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${SessionSchemeFileSystem.Scheme}:///")
}

object SessionSchemeFileSystem {
  val Scheme = "graftsession"
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
      w.append((50L until 100L).map(i => (i, 99L - i)).toDF("d0", "d1"))
      val expected = (0L until 100L).map(i => (i, 99L - i))
      val df = spark.read.format("graft").load(path)

      val full = df.select("d0", "d1")
      assert(full.as[(Long, Long)].collect().sorted.toSeq == expected)
      assert(full.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "a plain projection reads through the columnar reader")

      // _pos is served by the row reader: every file's ordinals are 0..n-1
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

  /** `name:line: what` for each fresh default conf and one-argument footer open. */
  private def violations(name: String, src: String): Seq[String] = {
    def line(at: Int) = src.substring(0, at).count(_ == '\n') + 1
    (freshConf.findAllMatchIn(src).map(m => s"$name:${line(m.start)}: ${m.matched}") ++
      footerOpen.findAllMatchIn(src).filter(m => arity(src, m.end) == 1)
        .map(m => s"$name:${line(m.start)}: one-argument ParquetFileReader.open")).toSeq
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

  test("lint: sources/ builds no default Configuration and opens no footer without read options") {
    val dir = new java.io.File("src/main/scala/graft/sources")
    val files = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under ${dir.getAbsolutePath}")
    val found = files.flatMap(f =>
      violations(f.getName, new String(Files.readAllBytes(f.toPath), "UTF-8")))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
