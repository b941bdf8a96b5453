package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures._
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL faces for the MAINTAINED INDEXES (`ops.InvertedIndex`,
  * `ops.VectorIndex`, `ops.PqVectorIndex`): the full index lifecycle —
  * build, incremental refresh, serve — without leaving SQL:
  *
  * {{{
  *   CALL cat.system.index_text(table => 't', name => 'ti')
  *   CALL cat.system.index_vector(table => 'v', name => 'vi', dim => 64)
  *   CALL cat.system.index_refresh(table => 't', name => 'ti')
  *   SELECT * FROM (CALL cat.system.search_text(
  *     table => 't', name => 'ti', query => 'spark join', k => 10))
  *   CALL cat.system.search_vector(table => 'v', name => 'vi',
  *     q => array(...), k => 5)
  * }}}
  *
  * The index world lives BESIDE its base table
  * (`<tablePath>__idx_<name>`), so catalog table management never sweeps
  * an index silently, and one base table carries any number of named
  * indexes. Everything a later call needs to reconstruct the index handle
  * — kind, column bindings, grid geometry — persists in a DESCRIPTOR file
  * under the index meta dir at build time, so `index_refresh` and the
  * search faces take only (table, name): the SQL caller never re-states
  * (and can never mis-state) the build-time configuration. Search results
  * are driver-side `LocalScan` rows — top-k bounded by construction, the
  * same serving-lookup shape as the programmatic faces.
  *
  * Reference anchor: the reference reaches its worlds only through a
  * programmatic handle (/root/reference/src/lib.rs:30-44); these
  * procedures are the catalog restatement of the index handles, like
  * GraftCatalog is of `World`.
  */
private[sources] object GraftIndexDescriptor {
  private val File = "descriptor"

  /** `<tablePath>__idx_<name>` — a sibling of the table directory. */
  def idxPath(tablePath: String, name: String): String = {
    require(name.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"graft index name '$name' (want [A-Za-z][A-Za-z0-9_]*)")
    s"${tablePath}__idx_$name"
  }

  /** Persist the build-time configuration (simple `k=v` lines — the same
    * no-parser discipline as the name-encoded retention markers). */
  def write(idx: String, kv: Map[String, String]): Unit = {
    val fs = GraftHadoop.fs(idx)
    val p = new Path(idx + "__meta", File)
    val out = GraftHadoop.create(fs, p, overwrite = true)
    try out.write(kv.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  def read(idx: String): Map[String, String] = {
    val fs = GraftHadoop.fs(idx)
    val p = new Path(idx + "__meta", File)
    require(fs.exists(p),
      s"graft index at $idx has no descriptor — was it built through " +
        "system.index_text / system.index_vector?")
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new String(bytes, "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** Collected top-k DataFrame → LocalScan rows (schema preserved, so the
    * id column keeps the base table's type). */
  def scanOfDf(df: org.apache.spark.sql.DataFrame): java.util.Iterator[Scan] = {
    val schema = df.schema
    val rs = df.collect().map { r =>
      InternalRow.fromSeq(schema.fields.indices.map { i =>
        r.get(i) match {
          case null => null
          case s: String => UTF8String.fromString(s)
          case v => v
        }
      })
    }
    GraftProcedures.scanOf(schema, rs)
  }
}

/** `CALL cat.system.index_text(table, name, id_col, text_col, pid_chunks,
  * fp_chunks)` — build (or rebuild) a named inverted text index over a
  * catalog table and persist its descriptor. Returns the base commit
  * cursor the build consumed. */
class GraftIndexTextProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "index_text"
  override def description(): String =
    "build a named inverted text index (BM25-servable) over a catalog table"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "index_text"
    override def description(): String = GraftIndexTextProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType)
        .comment("index name; index world lives at <table>__idx_<name>").build(),
      ProcedureParameter.in("id_col", StringType).defaultValue("'doc_id'").build(),
      ProcedureParameter.in("text_col", StringType).defaultValue("'text'").build(),
      ProcedureParameter.in("pid_chunks", IntegerType).defaultValue("8").build(),
      ProcedureParameter.in("fp_chunks", IntegerType).defaultValue("16").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val base = cat.tablePath(input.getUTF8String(0).toString)
      val idx = GraftIndexDescriptor.idxPath(base,
        input.getUTF8String(1).toString)
      val idCol = input.getUTF8String(2).toString
      val textCol = input.getUTF8String(3).toString
      val pidChunks = input.getInt(4)
      val fpChunks = input.getInt(5)
      val spark = org.apache.spark.sql.SparkSession.active
      val ix = new graft.ops.InvertedIndex(spark, base, idx, idCol, textCol,
        pidChunks, fpChunks)
      val cursor = ix.initialize()
      GraftIndexDescriptor.write(idx, Map(
        "kind" -> "text", "id_col" -> idCol, "text_col" -> textCol,
        "pid_chunks" -> pidChunks.toString, "fp_chunks" -> fpChunks.toString))
      GraftProcedures.singleRow("base_version", cursor)
    }
  }
}

/** `CALL cat.system.index_vector(table, name, id_col, vec_col, nlist, dim,
  * pq, pid_chunks, m, ksub)` — build a named IVF ANN index (raw vectors,
  * or PQ-coded with `pq => true` — the memory axis at index level). */
class GraftIndexVectorProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "index_vector"
  override def description(): String =
    "build a named IVF vector ANN index (pq => true stores PQ codes)"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "index_vector"
    override def description(): String =
      GraftIndexVectorProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("id_col", StringType).defaultValue("'vec_id'").build(),
      ProcedureParameter.in("vec_col", StringType)
        .defaultValue("'embedding'").build(),
      ProcedureParameter.in("nlist", IntegerType).defaultValue("16").build(),
      ProcedureParameter.in("dim", IntegerType).defaultValue("64").build(),
      ProcedureParameter.in("pq", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("pid_chunks", IntegerType).defaultValue("4").build(),
      ProcedureParameter.in("m", IntegerType).defaultValue("8").build(),
      ProcedureParameter.in("ksub", IntegerType).defaultValue("16").build(),
      // register a bloom on the base's id column (if it carries none) so
      // serving-time exact re-ranks FILE-SKIP the base instead of scanning
      // it — pass false to leave the base untouched (opt-out)
      ProcedureParameter.in("bloom_id", BooleanType).defaultValue("true").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val base = cat.tablePath(input.getUTF8String(0).toString)
      val idx = GraftIndexDescriptor.idxPath(base,
        input.getUTF8String(1).toString)
      val idCol = input.getUTF8String(2).toString
      val vecCol = input.getUTF8String(3).toString
      val nlist = input.getInt(4); val dim = input.getInt(5)
      val pq = input.getBoolean(6); val pidChunks = input.getInt(7)
      val m = input.getInt(8); val ksub = input.getInt(9)
      val spark = org.apache.spark.sql.SparkSession.active
      // default id-column bloom on the BASE: the ANN search's exact
      // re-rank is a k-bounded semi-join against the base on the id
      // column; with the bloom registered the runtime join filter
      // file-skips everything but the shortlist's cells, so a serving
      // lookup never scans the corpus. Registered only when the base
      // declares NO bloom columns (an existing declaration is the user's;
      // bloom_id => false opts out entirely). Existing files refute via
      // footer stats/dictionaries; files written after this commit carry
      // real bloom pages.
      if (input.getBoolean(10)) {
        val fs = GraftHadoop.fs(base)
        val root = new org.apache.hadoop.fs.Path(base)
        if (GraftBloom.columns(fs, root).isEmpty)
          GraftBloom.register(fs, root, Seq(idCol))
      }
      val cursor =
        if (pq) new graft.ops.PqVectorIndex(spark, base, idx, idCol, vecCol,
          nlist, dim, m, ksub, pidChunks).initialize()
        else new graft.ops.VectorIndex(spark, base, idx, idCol, vecCol,
          nlist, dim, pidChunks).initialize()
      GraftIndexDescriptor.write(idx, Map(
        "kind" -> (if (pq) "vector_pq" else "vector"),
        "id_col" -> idCol, "vec_col" -> vecCol,
        "nlist" -> nlist.toString, "dim" -> dim.toString,
        "pid_chunks" -> pidChunks.toString,
        "m" -> m.toString, "ksub" -> ksub.toString))
      GraftProcedures.singleRow("base_version", cursor)
    }
  }
}

private[sources] object GraftIndexProcedures {
  /** Reconstruct the index handle a descriptor describes. Returned as the
    * three concrete types behind a common view of (refresh, bm25?, ann?). */
  def open(cat: GraftCatalog, table: String, name: String)
      : Either[graft.ops.InvertedIndex,
               Either[graft.ops.VectorIndex, graft.ops.PqVectorIndex]] = {
    val base = cat.tablePath(table)
    val idx = GraftIndexDescriptor.idxPath(base, name)
    val d = GraftIndexDescriptor.read(idx)
    val spark = org.apache.spark.sql.SparkSession.active
    d("kind") match {
      case "text" => Left(new graft.ops.InvertedIndex(spark, base, idx,
        d("id_col"), d("text_col"), d("pid_chunks").toInt,
        d("fp_chunks").toInt))
      case "vector" => Right(Left(new graft.ops.VectorIndex(spark, base, idx,
        d("id_col"), d("vec_col"), d("nlist").toInt, d("dim").toInt,
        d("pid_chunks").toInt)))
      case "vector_pq" => Right(Right(new graft.ops.PqVectorIndex(spark,
        base, idx, d("id_col"), d("vec_col"), d("nlist").toInt,
        d("dim").toInt, d("m").toInt, d("ksub").toInt,
        d("pid_chunks").toInt)))
      case other => throw new IllegalArgumentException(
        s"graft index at $idx: unknown kind '$other'")
    }
  }
}

/** `CALL cat.system.index_refresh(table, name)` — advance the named index
  * to the base's latest commit (consumes only the commit-log net change
  * feed, whichever kind the descriptor names). Returns the new cursor. */
class GraftIndexRefreshProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "index_refresh"
  override def description(): String =
    "advance a named index to the base table's latest commit"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "index_refresh"
    override def description(): String =
      GraftIndexRefreshProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val cursor = GraftIndexProcedures.open(cat,
        input.getUTF8String(0).toString, input.getUTF8String(1).toString) match {
        case Left(ti) => ti.refresh()
        case Right(Left(vi)) => vi.refresh()
        case Right(Right(pi)) => pi.refresh()
      }
      GraftProcedures.singleRow("base_version", cursor)
    }
  }
}

/** `CALL cat.system.mv_create(table, name, group_cols, sum_cols,
  * minmax_cols)` — build an incrementally-maintained materialized
  * aggregate (`ops.MaterializedAgg`) at `<tablePath>__mv_<name>`. Because
  * the MV world lives INSIDE the warehouse, it is automatically a catalog
  * table: consumption is plain SQL —
  * `SELECT grp, n, s_v_micro FROM cat.t__mv_<name> WHERE gid <> 0`
  * (micro-unit sums; `gid <> 0` excludes the cursor sentinel row) — so
  * with [[GraftMvRefreshProcedure]] the whole MV lifecycle (build,
  * incremental refresh, read) needs no programmatic handle. */
class GraftMvCreateProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "mv_create"
  override def description(): String =
    "build an incrementally-maintained materialized aggregate over a catalog table"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "mv_create"
    override def description(): String = GraftMvCreateProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("group_cols", StringType)
        .comment("comma-separated grouping columns").build(),
      ProcedureParameter.in("sum_cols", StringType).defaultValue("''")
        .comment("comma-separated columns to SUM (micro-unit exact)").build(),
      ProcedureParameter.in("minmax_cols", StringType).defaultValue("''")
        .comment("comma-separated columns to MIN/MAX").build())
    override def isDeterministic: Boolean = false

    private def cols(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val base = cat.tablePath(input.getUTF8String(0).toString)
      val nm = input.getUTF8String(1).toString
      require(nm.matches("[A-Za-z][A-Za-z0-9_]*"),
        s"graft mv name '$nm' (want [A-Za-z][A-Za-z0-9_]*)")
      val mvPath = s"${base}__mv_$nm"
      val g = cols(input.getUTF8String(2).toString)
      val su = cols(input.getUTF8String(3).toString)
      val mm = cols(input.getUTF8String(4).toString)
      val spark = org.apache.spark.sql.SparkSession.active
      val cursor = new graft.ops.MaterializedAgg(spark, base, mvPath,
        g, su, mm).initialize()
      GraftIndexDescriptor.write(mvPath, Map(
        "kind" -> "mv", "group_cols" -> g.mkString(","),
        "sum_cols" -> su.mkString(","), "minmax_cols" -> mm.mkString(",")))
      GraftProcedures.singleRow("base_version", cursor)
    }
  }
}

/** `CALL cat.system.mv_refresh(table, name)` — advance the named MV to the
  * base's latest commit (delta-incremental; delete-affected min/max groups
  * recomputed group-restricted, per the MaterializedAgg contract). */
class GraftMvRefreshProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "mv_refresh"
  override def description(): String =
    "advance a named materialized aggregate to the base table's latest commit"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "mv_refresh"
    override def description(): String = GraftMvRefreshProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val base = cat.tablePath(input.getUTF8String(0).toString)
      val mvPath = s"${base}__mv_${input.getUTF8String(1).toString}"
      val d = GraftIndexDescriptor.read(mvPath)
      require(d("kind") == "mv", s"$mvPath is not a materialized aggregate")
      def cols(k: String) =
        d(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val spark = org.apache.spark.sql.SparkSession.active
      val cursor = new graft.ops.MaterializedAgg(spark, base, mvPath,
        cols("group_cols"), cols("sum_cols"), cols("minmax_cols")).refresh()
      GraftProcedures.singleRow("base_version", cursor)
    }
  }
}

/** `CALL cat.system.search_text(table, name, query, k)` — BM25 top-k over
  * the named text index; whitespace-split query terms, result rows
  * (id, score_u, n_terms) exactly as `InvertedIndex.searchBm25`. */
class GraftSearchTextProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "search_text"
  override def description(): String =
    "BM25 top-k over a named inverted text index"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "search_text"
    override def description(): String =
      GraftSearchTextProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("query", StringType)
        .comment("whitespace-separated terms").build(),
      ProcedureParameter.in("k", IntegerType).defaultValue("10").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val terms = input.getUTF8String(2).toString.trim
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val k = input.getInt(3)
      GraftIndexProcedures.open(cat, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString) match {
        case Left(ti) => GraftIndexDescriptor.scanOfDf(ti.searchBm25(terms, k))
        case _ => throw new UnsupportedOperationException(
          "search_text: the named index is a vector index — use search_vector")
      }
    }
  }
}

/** `CALL cat.system.search_vector(table, name, q, k, nprobe)` — ANN top-k
  * over the named vector index (raw-cosine or PQ ADC + exact re-rank,
  * per the descriptor); result rows (id, simu) as `VectorIndex.search`. */
class GraftSearchVectorProcedure(cat: GraftCatalog) extends UnboundProcedure {
  override def name(): String = "search_vector"
  override def description(): String =
    "ANN top-k over a named vector index"

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "search_vector"
    override def description(): String =
      GraftSearchVectorProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("q", ArrayType(DoubleType))
        .comment("query vector, e.g. array(0.1D, ...)").build(),
      ProcedureParameter.in("k", IntegerType).defaultValue("10").build(),
      ProcedureParameter.in("nprobe", IntegerType).defaultValue("2").build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val q = input.getArray(2).toDoubleArray()
      val k = input.getInt(3); val nprobe = input.getInt(4)
      GraftIndexProcedures.open(cat, input.getUTF8String(0).toString,
        input.getUTF8String(1).toString) match {
        case Right(Left(vi)) =>
          GraftIndexDescriptor.scanOfDf(vi.search(q, k, nprobe))
        case Right(Right(pi)) =>
          GraftIndexDescriptor.scanOfDf(pi.search(q, k, nprobe))
        case Left(_) => throw new UnsupportedOperationException(
          "search_vector: the named index is a text index — use search_text")
      }
    }
  }
}
