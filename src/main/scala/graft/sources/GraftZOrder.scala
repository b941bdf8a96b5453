package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** Declared Z-order clustering for a world: the `_graft_zorder` sidecar
  * names the data columns whose Morton interleave orders rows WITHIN each
  * chunk cell. Unlike a one-shot `OPTIMIZE ZORDER` rewrite, the sidecar is
  * a TABLE property — `CALL system.zorder(table, columns)` both rewrites
  * the existing cells and registers the columns, so later batch writes
  * (INSERT, COW rewrite, compaction) keep the layout instead of silently
  * decaying it back to the dim sort. Streaming-sink epochs take the
  * lexicographic fallback (no function catalog in their plan); a
  * `system.compact`/`system.zorder` pass restores the exact curve.
  *
  * Why intra-cell Z-order matters at scale: the chunk grid prunes by the
  * registered dims; WITHIN a surviving cell, per-row-group (and, for
  * multi-file cells, per-file) min/max envelopes are what executor-side
  * skipping has. A single-column sort keeps those envelopes tight on one
  * column and leaves every other spanning the cell; the Z-curve keeps them
  * tight on ALL the named columns at once, so a box predicate on any
  * subset skips row groups no matter which columns it constrains (the
  * same argument as `ops.ZOrder.cluster`, applied below the grid instead
  * of instead of it). Registered range-skip columns (`GraftBloom`) then
  * prune z-clustered files at PLANNING time from footer stats.
  *
  * The ordering reaches the writer through the DSv2 write contract
  * (`RequiresDistributionAndOrdering`), whose sort expression is the
  * connector `zvalue` function below — resolved against [[GraftCatalog]]'s
  * `FunctionCatalog` face for catalog-routed writes. Path-routed writes
  * have no function catalog (Spark cannot resolve a connector function
  * without one), so they degrade to a lexicographic sort on the same
  * columns — still clustered, leading-column-tight — rather than failing
  * the write; the catalog surface is the engine's DML face and gets the
  * true curve.
  */
object GraftZOrder {
  val SidecarName = "_graft_zorder"

  def sidecar(root: Path): Path = new Path(root, SidecarName)

  /** Z-order columns of a table path; empty when the sidecar is absent.
    * One driver-side read per WRITE plan, never per task. */
  def columnsOf(path: String): Seq[String] = {
    val fs = GraftHadoop.fs(path)
    columns(fs, new Path(path))
  }

  def columns(fs: FileSystem, root: Path): Seq[String] = {
    val p = sidecar(root)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** Replace the declared z-order columns (ORDER is significant — it is
    * the interleave order — so unlike blooms this is a set, not a union). */
  def register(fs: FileSystem, root: Path, cols: Seq[String]): Unit = {
    val out = GraftHadoop.create(fs, sidecar(root), overwrite = true)
    try out.write((cols.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The interleave kernel — MUST stay bit-identical to
    * [[graft.functions.ZValue]] (ZOrderSpec pins the two against each
    * other): low `63/n` bits of each value, dim i's bit b at output
    * `b*n + i`. */
  def interleave(vals: Array[Long]): Long = {
    val n = vals.length
    val bitsPerDim = 63 / math.max(n, 1)
    val mask = (1L << bitsPerDim) - 1
    var z = 0L
    var i = 0
    while (i < n) {
      val masked = vals(i) & mask
      var b = 0
      while (b < bitsPerDim) {
        z |= ((masked >>> b) & 1L) << (b * n + i)
        b += 1
      }
      i += 1
    }
    z
  }
}

/** `zvalue(c1, …, cn)` as a connector (DSv2) function: the Morton key the
  * write contract sorts by, resolvable by ANY Spark through the catalog's
  * `FunctionCatalog` face — including inside `requiredOrdering()` of a
  * catalog-routed write (Spark resolves connector sort expressions against
  * the owning catalog). Also directly callable:
  * `SELECT <cat>.system.zvalue(a, b)`. */
object GraftZValueFunction extends UnboundFunction {
  override def name(): String = "zvalue"
  override def description(): String =
    "zvalue(bigint, ...) -> bigint: Morton/Z-order interleave of 1..16 dims"

  override def bind(inputType: StructType): BoundFunction = {
    val n = inputType.fields.length
    if (n < 1 || n > 16)
      throw new UnsupportedOperationException(
        s"zvalue takes 1..16 bigint dims, got $n")
    inputType.fields.find(_.dataType != LongType).foreach { f =>
      throw new UnsupportedOperationException(
        s"zvalue requires bigint dims, got ${f.dataType.simpleString} " +
          s"for ${f.name}")
    }
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] = Array.fill(n)(LongType)
      override def resultType(): DataType = LongType
      override def name(): String = "zvalue"
      override def canonicalName(): String = s"graft.zvalue[$n]"
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): java.lang.Long = {
        val vals = new Array[Long](n)
        var i = 0
        while (i < n) {
          if (input.isNullAt(i)) return null
          vals(i) = input.getLong(i)
          i += 1
        }
        GraftZOrder.interleave(vals)
      }
    }
  }
}
