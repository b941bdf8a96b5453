package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev scaling probe (r18, guide §2): the declared suite at sf0.1 is
  * fixed-latency-bound (per-query floors of 0.2–0.5 s dwarf the ~hundreds
  * of KB of data), so even its compute-dense queries cannot show parallel
  * scaling. This tool measures the ENGINE KERNELS — the per-row compute and
  * the shuffle shapes the declared queries are built from — over the same
  * fixtures REPLICATED to a data-dense size, at whatever core count
  * `SPARK_GRAFT_CPUS` names, so an 8-core vs 32-core comparison measures
  * the operators instead of the session machinery.
  *
  * Replication multiplies rows with DISTINCT synthetic ids (a cross join
  * with a small range, id-salted), so group/join cardinalities scale with
  * the data — no artificial hot key is introduced. Timings are noop-style
  * materializations (every column computed, nothing written).
  * Not part of the shipped library; never run by the driver; adds no
  * declared query and no oracle surface.
  *
  * Usage: SPARK_GRAFT_CPUS=8 scripts/run.sh graft.ScaleProbe [replication]
  * Prints one JSON line {"probe": sec, ...} on stdout.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val rep = args.headOption.map(_.toInt).getOrElse(24)
    val spark = Harness.session()

    /** `rep` copies of the frame, ids disambiguated by the copy index,
      * MATERIALIZED to a temp parquet outside every timed region — probes
      * then read a real corpus-sized scan (64 splits) instead of paying the
      * replication cross join inside the measurement. Same build-once stamp
      * discipline as the world fixtures (TESTDATA.md): keyed on (sf, rep),
      * deterministic content, ready-marker guarded. */
    def replicate(name: String, idCol: String, cols: Seq[String]): DataFrame = {
      val srcFile = new java.io.File(s"$sfDir/$name.parquet")
      val parts = if (srcFile.isDirectory)
        Option(srcFile.listFiles).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
      else Seq(srcFile)
      // SHA-256 of the full (name, length, mtime) tuple list, like
      // Registry.sourceStamp: a 32-bit hashCode can collide silently
      val stamp = java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.map(x => s"${x.getName}\u0000${x.length}\u0000${x.lastModified}")
          .mkString("\n").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val path = s"/tmp/graft_scaleprobe_${name}_${rep}_${stamp}_" +
        sfDir.replaceAll("[^0-9a-zA-Z]", "_")
      val marker = new java.io.File(path, "_graft_ready")
      if (!marker.exists) {
        val src = spark.read.parquet(s"$sfDir/$name.parquet")
          .select(cols.map(col): _*)
        val n = src.count()
        src.crossJoin(spark.range(rep).select(col("id").as("__copy")))
          .withColumn(idCol, col(idCol) + col("__copy") * lit(n * 2))
          .drop("__copy")
          .repartition(64)
          .write.mode("overwrite").parquet(path)
        marker.createNewFile()
      }
      spark.read.parquet(path)
    }

    val docs = replicate("documents", "doc_id", Seq("doc_id", "text"))
    val embs = replicate("embeddings", "vec_id", Seq("vec_id", "embedding"))
    val li = replicate("lineitem", "l_orderkey",
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount"))
    docs.count(); embs.count(); li.count() // warm page cache + JIT paths

    val mat: Array[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(8 * 64) { i =>
        (java.lang.Long.parseLong(md.digest(s"sp_$i".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16) % 6) match {
          case 0 => 1L; case 1 => -1L; case _ => 0L
        }
      }
    }

    val probes: Seq[(String, () => DataFrame)] = Seq(
      // per-row text kernels (the dedup/decontamination hot path)
      "winnow_kernel" -> (() => docs.select(col("doc_id"),
        graft.functions.WinnowFingerprints(lower(col("text")), 8, 4).as("f"))),
      "simhash_kernel" -> (() => docs.select(col("doc_id"),
        graft.functions.SimHash64(split(lower(trim(col("text"))), "\\s+")).as("s"))),
      "minhash_band_join" -> (() => {
        // banding + the linear min-id drop decision (the r18 intra shape)
        val keys = docs
          .select(col("doc_id"), graft.functions.WordShingles(col("text"), 5).as("__sh"))
          .where(size(col("__sh")) > 0)
          .select(col("doc_id"), posexplode(
            graft.functions.MinHashBandKeys(col("__sh"), 64, 8))
            .as(Seq("__band", "__bh")))
        val m = keys.groupBy("__band", "__bh").agg(min(col("doc_id")).as("__m"))
        keys.join(m, Seq("__band", "__bh")).where(col("doc_id") > col("__m"))
          .select(col("doc_id")).distinct()
      }),
      // embedding kernel (codegen int matrix projection)
      "rp_project_kernel" -> (() => embs.select(col("vec_id"),
        graft.functions.IntMatProject(col("embedding"), mat, 8).as("y"))),
      // relational shapes: one hash-agg shuffle, one shuffled join
      "groupby_shuffle" -> (() => li.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("q"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))),
      "join_shuffle" -> (() => {
        val a = li.select(col("l_orderkey"), col("l_quantity"))
        val b = li.select(col("l_orderkey"), col("l_extendedprice"))
        a.join(b, Seq("l_orderkey")).groupBy()
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      })
    )

    val results = probes.map { case (name, mk) =>
      // best of 2: same discipline as the bench
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Harness.materialize(mk())
        (System.nanoTime() - t0) / 1e9
      }
      name -> ts.min
    }
    spark.stop()
    println(results.map { case (k, v) => s"${Harness.jsonString(k)}:$v" }.mkString("{", ",",
      s""","cpus":${Harness.cpus},"rep":$rep,"sf":${Harness.jsonString(sfDir)}}"""))
  }
}
