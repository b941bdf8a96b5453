package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Expression, IsNull, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.types.StructType

/** Declared CHECK constraints on a world: `CALL system.set_check(table,
  * name, expr)` stores a boolean SQL expression beside the grid
  * (`_graft_checks/<name>`), and EVERY later write through the connector —
  * SQL INSERT, path-API append, overwrite, upsert, row-level COW rewrite,
  * streaming epoch — validates each row before it is routed, failing the
  * statement loudly on the first violation (the task's writer abort
  * deletes its partial files, so a failed statement leaves no debris and
  * no committed version). ANSI CHECK semantics: a NULL-valued condition
  * PASSES (`Or(IsNull(cond), cond)` is compiled into the predicate).
  *
  * Two design points match the 100-TB posture:
  *   - enforcement lives in the WRITE PATH, not an optimizer rule — it
  *     cannot be skipped by a session that forgot to install extensions,
  *     and it costs one codegen'd predicate per row inside the task that
  *     is already routing that row (no extra pass, no shuffle);
  *   - `set_check` validates EXISTING data first (one distributed scan,
  *     count of violations) and refuses to declare a constraint the
  *     current table already breaks — so "the table satisfies its checks"
  *     is an invariant from declaration onward, and COW rewrites of old
  *     rows can never trip a later-added check.
  *
  * Reference anchor: the reference validates dim values on every insert
  * and returns `Error::ValueOutOfRange` (/root/reference/src/world.rs:
  * 252-267, restated as this repo's dim quarantine) — checks are the
  * user-declared generalization of that same write-time gate to arbitrary
  * row predicates.
  */
private[graft] object GraftChecks {
  private val Dir = "_graft_checks"
  private val NamePat = java.util.regex.Pattern.compile("[A-Za-z][A-Za-z0-9._-]*")

  /** One declared check, carried to write tasks: the bound expression is
    * serializable Catalyst; tasks compile it once via `Predicate.create`
    * (codegen with interpreted fallback). */
  final case class Check(name: String, sql: String, bound: Expression)
    extends Serializable

  private def dirOf(root: Path) = new Path(root, Dir)

  /** Declare (or replace) a named check. Fails if the expression does not
    * parse/resolve to a boolean over the table schema, or if any existing
    * row violates it. */
  def set(spark: SparkSession, path: String, name: String, sql: String): Long = {
    require(NamePat.matcher(name).matches(),
      s"graft check name '$name' (want [A-Za-z][A-Za-z0-9._-]*)")
    val fs = GraftHadoop.fs(path)
    val schema = GraftDataSource.sidecarSchema(path)
    // fail fast on an unresolvable expression, with the analyzer's error
    resolve(spark, sql, schema)
    // one distributed scan: the constraint must hold on day one
    val bad = spark.read.format("graft").load(path)
      .where(org.apache.spark.sql.functions.not(
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.expr(sql),
          org.apache.spark.sql.functions.lit(true))))
      .count()
    if (bad > 0) throw new IllegalStateException(
      s"graft set_check '$name': $bad existing row(s) violate ($sql) — " +
        "clean the data first; a check is an invariant, not an aspiration")
    val d = dirOf(new Path(path))
    val out = GraftHadoop.create(fs, new Path(d, name), overwrite = true)
    try out.write(sql.getBytes("UTF-8")) finally out.close()
    bad
  }

  def drop(path: String, name: String): Boolean = {
    val fs = GraftHadoop.fs(path)
    fs.delete(new Path(dirOf(new Path(path)), name), false)
  }

  /** (name, expr) pairs, name-ordered. */
  def list(path: String): Seq[(String, String)] = {
    val fs = GraftHadoop.fs(path)
    val d = dirOf(new Path(path))
    val entries = try fs.listStatus(d)
      catch { case _: java.io.FileNotFoundException => return Nil }
    entries.toSeq.map { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      st.getPath.getName -> new String(bytes, "UTF-8")
    }.sortBy(_._1)
  }

  /** Resolve the declared checks against a WRITE schema (driver-side, once
    * per statement — one listing RPC when no checks exist) and bind them
    * for executor-side evaluation. The row-level rewrite schema carries
    * extra routing metadata (`_cell`); binding is by name, so checks see
    * exactly the data columns they were declared over. */
  def boundFor(spark: SparkSession, path: String, schema: StructType): Seq[Check] =
    list(path).map { case (name, sql) =>
      Check(name, sql, bind(resolve(spark, sql, schema), schema))
    }

  /** Parse + analyze `sql` as a condition over `schema` through the
    * session's own analyzer (full built-in function resolution), returning
    * the resolved condition still referencing the schema's attributes. */
  private def resolve(spark: SparkSession, sql: String,
      schema: StructType): (Expression, Seq[AttributeReference]) = {
    val attrs = schema.fields.toIndexedSeq
      .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val analyzed = spark.sessionState.analyzer.execute(
      Filter(parsed, LocalRelation(attrs)))
    analyzed match {
      case f: Filter if f.resolved => (f.condition, attrs)
      case other => throw new IllegalArgumentException(
        s"graft check ($sql) does not resolve over ${schema.simpleString}: " +
          other.toString.linesIterator.take(3).mkString(" | "))
    }
  }

  private def bind(resolved: (Expression, Seq[AttributeReference]),
      schema: StructType): Expression = {
    val (cond, attrs) = resolved
    // ANSI CHECK: NULL passes
    BindReferences.bindReference(Or(IsNull(cond), cond), attrs)
  }
}
