package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session and run harness every command-line tool shares (Bench,
  * Verify, Profile, Explain, ScaleProbe), so the correctness dump and the
  * bench run the same configuration. One default per setting:
  *  - `SPARK_GRAFT_CPUS` (default 4): `local[cpus]` and as many shuffle
  *    partitions;
  *  - `SPARK_GRAFT_SF_DIR` (default the sf0.1 fixtures): the fixture
  *    directory of the tools that take none as an argument;
  *  - `SPARK_GRAFT_ONLY=a,b`: narrows the declared queries a tool runs
  *    while iterating; unset, all of them run.
  */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The tools' local session. Sets only what differs from Spark's defaults. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); read as raw long (Tables.t
      // converts to a microsecond timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The registry's two admitted global windows (rank over a LIMIT-reduced
    // top-k — t_zipf_fit, s_hybrid_rrf's lexical side; ≤ 100 rows by
    // construction, statically admitted by RegistryScaleSpec) make
    // WindowExec WARN "No Partition Defined … serious performance
    // degradation" on every run — noise over a non-problem. Only that one
    // logger is raised, so real hazards elsewhere still surface; queries
    // that would actually single-reduce are caught structurally by
    // RegistryScaleSpec, not by grepping logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Untimed warm-up: session, codegen and JIT init and the first touch of
    * every fixture table's read path, so none of it is billed to whichever
    * query happens to run first. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
  }

  /** Iterates the physical plan's output rows with the full output schema
    * and returns their count. `.count()` lets Catalyst prune unreferenced
    * projections, billing expression-heavy queries at scan cost; `toRdd`
    * keeps every output column in the produced UnsafeRows, so the real
    * expression work runs. */
  def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.fold(0L)(_ + _)

  type Query = (SparkSession, String) => DataFrame

  /** The declared query `name`; an unknown name fails listing the declared ones. */
  def query(name: String): Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name' — declared: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))

  /** The declared queries sorted by name, narrowed to `SPARK_GRAFT_ONLY` when set. */
  def selected: Seq[(String, Query)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) => only.forall(_(name)) }
  }

  /** `use` over a fresh build of `fn`, then the release of every checkpoint
    * the query pinned (ScalableWindow slice pins, dedup batch pins; some
    * are pinned at construction time) — a run over many queries would
    * otherwise accumulate them. */
  def run[T](spark: SparkSession, sfDir: String, fn: Query)(use: DataFrame => T): T =
    try use(fn(spark, sfDir)) finally ops.Pins.releaseAll()

  /** `s` as a JSON string literal: quote, backslash and every control
    * character below 0x20 escaped — one raw tab or CR in a line makes the
    * reader's JSON parse fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
