package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("materialize evaluates every output column, where count() prunes them") {
    val df = spark.range(0, 10, 1, 2)
      .select(col("id"), when(col("id") >= 0, raise_error(lit("evaluated"))).as("e"))
    assert(df.count() == 10L)
    val e = intercept[Exception](Harness.materialize(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("evaluated")), e)
    assert(Harness.materialize(spark.range(0, 10, 1, 3).toDF()) == 10L)
  }

  test("jsonString round-trips control characters, quotes and backslashes through Jackson") {
    val mapper = new ObjectMapper()
    for (s <- Seq("", "plain", "tab\there", "cr\rlf\n", "\u0001\u001f", "q\"uote", "back\\slash",
        "/data/sf\t0.1 \"x\" \\ \u0000 é"))
      assert(mapper.readValue(Harness.jsonString(s), classOf[String]) == s, s)
    val line = s"""{"label":${Harness.jsonString("a\tb")},"sf":${Harness.jsonString("/x\r/y")}}"""
    val node = mapper.readTree(line)
    assert(node.get("label").asText == "a\tb" && node.get("sf").asText == "/x\r/y")
  }

  test("priorBest takes the last same-sf line that is not host_degraded") {
    val sf = "/data/sf0.1"
    def line(sfDir: String, q1: Double, degraded: Boolean) =
      s"""{"queries":{"q1_agg":$q1,"d_simhash":2.5},"host_degraded":$degraded,""" +
        s""""metric":"total","value":1.0,"unit":"sec","sf":${Harness.jsonString(sfDir)}}"""
    val hist = Files.createTempFile("bench-history", ".jsonl")
    try {
      Files.write(hist, Seq(
        line(sf, 1.0, degraded = false),
        line(sf, 2.0, degraded = false),
        line(sf, 3.0, degraded = true),
        line("/data/sf0.001", 4.0, degraded = false),
        line(sf + "x", 5.0, degraded = false)).asJava)
      val (name, best) = Bench.priorBest(sf, hist.toFile)
      assert(name == hist.toString)
      assert(best == Map("q1_agg" -> 2.0, "d_simhash" -> 2.5))
      assert(Bench.priorBest("/data/sf0.001", hist.toFile)._2("q1_agg") == 4.0)
      assert(Bench.priorBest("/data/sf1", hist.toFile) == ("", Map.empty))
      Files.write(hist, Seq(line(sf, 3.0, degraded = true)).asJava)
      assert(Bench.priorBest(sf, hist.toFile) == ("", Map.empty))
    } finally Files.delete(hist)
    assert(Bench.priorBest(sf, hist.toFile) == ("", Map.empty))
  }

  private val builder = """SparkSession\s*\.\s*builder\b""".r

  /** `path:line` of each session builder in `src`, unless `path` is the harness. */
  private def builders(path: String, src: String): Seq[String] =
    if (path.endsWith("graft/Harness.scala")) Nil
    else builder.findAllMatchIn(src)
      .map(m => s"$path:${src.substring(0, m.start).count(_ == '\n') + 1}").toSeq

  test("lint checker flags session builders outside Harness.scala") {
    val bad = Seq(
      "val spark = SparkSession.builder()",
      "org.apache.spark.sql.SparkSession.builder().getOrCreate()",
      "SparkSession\n  .builder()")
    bad.foreach { s =>
      assert(builders("graft/Tool.scala", s).size == 1, s)
      assert(builders("src/main/scala/graft/Harness.scala", s).isEmpty, s)
    }
    val good = Seq("val spark = Harness.session()", "SparkSession.active",
      "SparkSession.getActiveSession", "SparkSession.builderless")
    good.foreach(s => assert(builders("graft/Tool.scala", s).isEmpty, s))
  }

  test("lint: the main sources build sessions only through Harness.session") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft/Harness.scala"))), root.toAbsolutePath)
    val found = files.flatMap((f: Path) =>
      builders(f.toString, new String(Files.readAllBytes(f), "UTF-8")))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
