package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native pair generators for the single-shuffle near-duplicate operators
  * ([[graft.ops.Dedup.minhashLshPairs]], [[graft.ops.Dedup.hammingPairs]]).
  *
  * Each input row is ONE bucket: its key index (the LSH band, or the
  * pigeonhole block) and the collected members of the bucket. The generator
  * walks every member pair `id_a < id_b` in id order and emits the pair only
  * in the pair's LOWEST colliding bucket — a pair colliding on several bands
  * or blocks is checked in each, but emitted in exactly one, so the operator
  * needs no `distinct` — and verifies it inline. A bucket of k members costs
  * k(k-1)/2 pair checks in one task; its output is already up to that many
  * pairs.
  *
  * The walk is lazy (one pair row at a time). A member id is the first
  * struct field, of any orderable type, and the pair columns keep that type;
  * members with a null id never pair, matching the `id_a < id_b` predicate
  * of a join. Interpreted (CodegenFallback): one `eval` per bucket, the
  * per-pair work is the plain loops below.
  */
object BucketPairs {

  /** The `i < j` pairs of `k` members, lazily; `emit` returns null to skip. */
  private[functions] def walk(k: Int)(emit: (Int, Int) => InternalRow): Iterator[InternalRow] =
    Iterator.range(0, k).flatMap(i =>
      Iterator.range(i + 1, k).map(j => emit(i, j)).filter(_ != null))

  /** The id type of `array<struct<id, ...>>` members (NullType otherwise). */
  private[functions] def idType(members: Expression): DataType = members.dataType match {
    case ArrayType(s: StructType, _) if s.nonEmpty => s.head.dataType
    case _ => NullType
  }

  /** Member structs with a non-null id, and their ids, sorted by id. */
  private[functions] def sortedMembers(arr: ArrayData, nFields: Int, idType: DataType,
      ord: Ordering[Any]): (Array[Any], Array[InternalRow]) = {
    val live = (0 until arr.numElements()).map(arr.getStruct(_, nFields))
      .filterNot(_.isNullAt(0)).map(r => (r.get(0, idType), r)).sortBy(_._1)(ord)
    (live.map(_._1).toArray, live.map(_._2).toArray)
  }

  /** |A ∩ B| of two ascending (binary order), duplicate-free string arrays:
    * one merge pass, no allocation. */
  private[functions] def sortedIntersection(a: Array[UTF8String], b: Array[UTF8String]): Long = {
    var i = 0; var j = 0; var inter = 0L
    while (i < a.length && j < b.length) {
      val c = a(i).binaryCompare(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  private[functions] def schema(idType: DataType, third: String): StructType = new StructType()
    .add("id_a", idType, nullable = false)
    .add("id_b", idType, nullable = false)
    .add(third, LongType, nullable = false)

  /** `key` is an int and `members` an array of structs (id, fields...), the
    * id of an orderable type. */
  private[functions] def check(name: String, key: Expression, members: Expression,
      fields: DataType*): TypeCheckResult = {
    val id = idType(members)
    val want = ArrayType(StructType((id +: fields).zipWithIndex.map { case (t, i) =>
      StructField(s"f$i", t) }))
    if (key.dataType == IntegerType && id != NullType && RowOrdering.isOrderable(id) &&
        DataType.equalsStructurally(members.dataType, want, ignoreNullability = true))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name requires (int, ${want.simpleString}) " +
      s"with an orderable id, got (${key.dataType.simpleString}, ${members.dataType.simpleString})")
  }
}

/** MinHash-LSH bucket pairs. `band` is the bucket's band index; `members`
  * is array<struct<id, sh: array<string>, bk: array<long>>> — each
  * member's shingles, sorted ascending in binary order (`sort_array`) and
  * distinct, and its full band-key array. A pair is emitted here only when
  * no band below `band` has equal keys for the two members, and only when
  * its exact Jaccard percent `floor(inter * 100 / union)` reaches
  * `thresholdPct` — the integer rule of [[JaccardPct]], computed as a merge
  * of the two sorted shingle arrays. Emits (id_a, id_b, jaccard_pct). */
case class MinHashBucketPairs(band: Expression, members: Expression, thresholdPct: Int)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(band, members)

  @transient private lazy val idType = BucketPairs.idType(members)
  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(idType)

  override def elementSchema: StructType = BucketPairs.schema(idType, "jaccard_pct")

  override def checkInputDataTypes(): TypeCheckResult =
    BucketPairs.check(prettyName, band, members, ArrayType(StringType), ArrayType(LongType))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = members.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) return Iterator.empty
    val b = band.eval(input).asInstanceOf[Int]
    val (ids, ms) = BucketPairs.sortedMembers(arr, 3, idType, idOrd)
    val keys = ms.map(_.getArray(2))
    // each member's shingles materialize once per bucket; the pair merges
    // below then allocate nothing
    val sh = ms.map { r =>
      val a = r.getArray(1)
      Array.tabulate(a.numElements())(a.getUTF8String)
    }
    BucketPairs.walk(ms.length) { (i, j) =>
      var lower = false
      var c = 0
      while (!lower && c < b) { lower = keys(i).getLong(c) == keys(j).getLong(c); c += 1 }
      if (lower || idOrd.equiv(ids(i), ids(j))) null
      else {
        val inter = BucketPairs.sortedIntersection(sh(i), sh(j))
        val uni = sh(i).length + sh(j).length - inter
        val pct = if (uni == 0L) 0L else inter * 100L / uni
        if (pct >= thresholdPct) InternalRow(ids(i), ids(j), pct) else null
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashBucketPairs =
    copy(band = newChildren(0), members = newChildren(1))

  override def prettyName: String = "minhash_bucket_pairs"
}

object MinHashBucketPairs {
  def apply(band: Column, members: Column, thresholdPct: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MinHashBucketPairs(org.apache.spark.sql.GraftColumnBridge.expression(band),
        org.apache.spark.sql.GraftColumnBridge.expression(members), thresholdPct))
}

/** Hamming pigeonhole bucket pairs. `block` is the bucket's block index;
  * `members` is array<struct<id, h: long>>, h the 64-bit fingerprint
  * split into `bits`-wide blocks. A pair is emitted here only when no block
  * below `block` is equal for the two members (`(h_a ^ h_b) >>> (c * bits)
  * & mask != 0` for every c < block), and only when `bitCount(h_a ^ h_b)
  * <= maxDist`. Emits (id_a, id_b, hamming). */
case class HammingBucketPairs(block: Expression, members: Expression, bits: Int, maxDist: Int)
    extends Generator with CodegenFallback {
  require(bits >= 1 && bits <= 32, s"block width must be in [1, 32], got $bits")

  override def children: Seq[Expression] = Seq(block, members)

  @transient private lazy val idType = BucketPairs.idType(members)
  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(idType)

  override def elementSchema: StructType = BucketPairs.schema(idType, "hamming")

  override def checkInputDataTypes(): TypeCheckResult =
    BucketPairs.check(prettyName, block, members, LongType)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = members.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) return Iterator.empty
    val blk = block.eval(input).asInstanceOf[Int]
    val mask = (1L << bits) - 1
    val (ids, ms) = BucketPairs.sortedMembers(arr, 2, idType, idOrd)
    val hs = ms.map(_.getLong(1))
    BucketPairs.walk(ms.length) { (i, j) =>
      val x = hs(i) ^ hs(j)
      val dist = java.lang.Long.bitCount(x)
      var lower = false
      var c = 0
      while (!lower && c < blk) { lower = ((x >>> (c * bits)) & mask) == 0L; c += 1 }
      if (lower || dist > maxDist || idOrd.equiv(ids(i), ids(j))) null
      else InternalRow(ids(i), ids(j), dist.toLong)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HammingBucketPairs =
    copy(block = newChildren(0), members = newChildren(1))

  override def prettyName: String = "hamming_bucket_pairs"
}

object HammingBucketPairs {
  def apply(block: Column, members: Column, bits: Int, maxDist: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      HammingBucketPairs(org.apache.spark.sql.GraftColumnBridge.expression(block),
        org.apache.spark.sql.GraftColumnBridge.expression(members), bits, maxDist))
}
