package graftbench

/** The output checks every workload applies; a failed check fails the run. */
object Checks {
  /** A read's (row count, checksum) against the reference. */
  def sameRows(got: (Long, Long), want: (Long, Long)): Boolean = got == want

  /** Exact dedup survivors against the planted truth, in any order. */
  def sameIds(got: Array[Long], want: Array[Long]): Boolean =
    got.sorted.sameElements(want.sorted)

  /** An unordered document pair as one key, `a` in the low 32 bits (the
    * layout the dedup workload builds on the engine side). */
  def pairKey(a: Int, b: Int): Long = (a.toLong & 0xffffffffL) | (b.toLong << 32)

  /** Share of the `truth` planted pairs meeting `ok` that `keys` found. */
  def pairRecall(keys: Seq[Long], c: Corpus, ok: (Int, Int) => Boolean, truth: Long): Double = {
    val hit = keys.distinct.count(k => c.planted((k & 0xffffffffL).toInt, (k >>> 32).toInt, ok))
    if (truth == 0) 1.0 else hit.toDouble / truth
  }

  /** (row count, checksum) of event rows, as the engine side computes it. */
  def summary(rows: Seq[(Long, Long, Long)]): (Long, Long) =
    (rows.size.toLong, rows.map { case (i, u, v) => Gen.rowSum(i, u, v) }.sum)

  /** After draining, every emitted row is there exactly once. */
  def ingested(got: (Long, Long), distinctIds: Long, emitted: Long, wantSum: Long): Boolean =
    got == ((emitted, wantSum)) && distinctIds == emitted
}
