package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for LLM-data pipelines (north-star extension).
  *
  * Scale design (the point of every choice here):
  *   - exact dedup is a hash-groupBy — one shuffle on the 16-byte digest, no
  *     text comparison;
  *   - near-dup (MinHash/SimHash) NEVER does all-pairs: candidate pairs come
  *     from buckets on band/block keys (one shuffle on the bucket key), the
  *     expensive verify runs only on candidates. All signature computation is
  *     pure Catalyst expressions (codegen'd, per-row, shuffle-free).
  */
object Dedup {

  /** Rebalance a CPU-bound stage's input: Spark splits scans by BYTES
    * (maxPartitionBytes), so a small file (one row group) plans one task and
    * a signature pass over it runs single-threaded — 12 s of the round-1
    * minhash time at sf0.1 was one core hashing while 31 idled. When the
    * input has fewer partitions than the cluster's parallelism the shuffle
    * is by definition small (bounded by those few partitions' bytes); at
    * real scale the condition is false and this is a no-op. */
  private[ops] def parallelize(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact duplicate groups by content hash; keeps the smallest id. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("h"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n"))

  /** Rows surviving exact dedup (first id per content hash wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Incremental exact dedup against a PERSISTED fingerprint store — the
    * cross-batch form of [[exactDedup]] for a corpus that arrives over time
    * (crawl snapshots, daily drops): a [[graft.world.World]] whose dim 0 is
    * the 64-bit fingerprint key holds everything ever seen, new batches
    * anti-join against it, and survivors register their fingerprints via
    * `tryInsert` (insert-if-absent), so a re-run of the same batch is
    * idempotent and a crash between steps loses no registered state.
    *
    * Key = xxhash64 of the whitespace/case-normalized [[Text.fingerprint]]:
    * a uniform u64, so the world's chunk grid stays balanced no matter how
    * skewed the corpus; the store carries (fp64, id) only — two longs per
    * document ever seen, the cheapest possible memory of 100 TB of history.
    * Within a batch, first occurrence (lowest id) wins, as in exactDedup.
    *
    * Returns the fresh rows (original columns plus the `fp64` key).
    *
    * `onFresh` runs over the fresh rows BEFORE their fingerprints register:
    * downstream-first ordering, so a crash between the two steps replays as
    * at-least-once into the sink (which must be idempotent — a World insert
    * by id is) instead of silently LOSING the batch (fingerprints registered,
    * sink never fed, replay sees "nothing fresh"). The streaming daemon
    * threads its sink through here for exactly that reason.
    */
  def incrementalDedup(world: graft.world.World, batch: DataFrame,
      idCol: String, textCol: String,
      onFresh: DataFrame => Unit = _ => ()): DataFrame = {
    val dimCol = world.dims.head.column
    val keyed = batch.withColumn(dimCol, xxhash64(Text.fingerprint(col(textCol))))
    val w = Window.partitionBy(dimCol).orderBy(col(idCol))
    val firsts = keyed.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    // a virgin store (nothing ever written — no data, no schema sidecar)
    // means nothing is seen: create it from this batch's fingerprints.
    // Checked on the filesystem, not via a catch: Spark 4 resolves a
    // missing source lazily, so the read error would surface at some later
    // action instead of here.
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(world.path),
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(world.path)
    val virgin = !fs.exists(root) || fs.listStatus(root).isEmpty
    if (virgin) {
      onFresh(firsts)
      // create also writes the schema sidecar that keeps a later
      // fully-drained store readable
      world.create(firsts.select(col(dimCol), col(idCol).as("seen_id")))
      firsts
    } else {
      // localCheckpoint PINS the anti-join result before the store mutates:
      // `fresh` is lazy, and re-evaluating it after tryInsert registers
      // these very fingerprints would anti-join the batch against itself
      // (every returned row would vanish on the caller's first action).
      // A plain cache() is NOT enough — the write invalidates cached plans
      // that reference the store's path, forcing exactly that re-read;
      // checkpointing cuts the plan loose from the path entirely. Pinned via
      // [[Pins]]: the caller frees the materialized batch copy with
      // Pins.releaseAll after consuming the result (the streaming daemon
      // does this per batch).
      val fresh = Pins.pin(
        firsts.join(world.df.select(col(dimCol)), Seq(dimCol), "left_anti"))
      onFresh(fresh)
      // tryInsert re-checks absence before appending — redundant under the
      // world's single-writer contract, but it makes replay after a partial
      // failure safe (a fingerprint registered by a crashed run is skipped,
      // not duplicated)
      world.tryInsertQuiet(fresh.select(col(dimCol), col(idCol).as("seen_id")))
      fresh
    }
  }

  /** Incremental NEAR-duplicate dedup against a persisted signature store —
    * the cross-batch form of [[simhashPairs]], the way [[incrementalDedup]]
    * is the cross-batch form of [[exactDedup]]. Exact incremental dedup
    * misses the dominant arrival pattern of a crawl: today's batch carries
    * lightly-edited copies of documents ingested months ago, and their
    * original text is long gone — but their 64-bit SimHash signatures are
    * not. The store (a [[graft.world.World]]) keeps one row per
    * (document, pigeonhole block): dim 0 is the unique row key
    * `doc_id * nBlocks + blockIdx` (doc ids must fit 64/nBlocks bits
    * headroom — u62 at the default maxDist 3), and the payload is
    * (probe_key = blockIdx·2^bits + blockValue, seen_id, seen_sig) — four
    * longs per block row, 4 rows per document ever OBSERVED, the entire
    * memory of the corpus. NO document text is ever stored or re-read.
    *
    * Per batch: (1) within-batch near-dups resolve first (block self-join +
    * Hamming verify; the larger id drops, matching [[semanticDedup]]'s
    * pairwise convention); (2) survivors' blocks equality-join the store's
    * probe keys, and any new doc within `maxDist` of a STORED signature
    * drops (pigeonhole: distance <= maxDist forces at least one equal
    * block, so candidate generation is an equality join, never an
    * all-pairs scan); (3) EVERY batch doc's block rows — dropped ones
    * included — register via idempotent `tryInsert`. Registering losers
    * matters because near-duplication is not transitive: a later document
    * near only a dropped doc (but not near the kept one or any other
    * stored signature) must still be caught, so dropping a doc must not
    * un-witness its neighborhood. The sizing consequence: the store grows
    * nBlocks rows per OBSERVED doc, not per admitted doc — on a
    * high-duplication stream (say 90% dups) the store is ~10x the kept
    * corpus's row count. At four longs per row the observed-doc form stays
    * small relative to the text it replaces (32 bytes x nBlocks per doc
    * ever seen). Same crash/replay contract as [[incrementalDedup]]:
    * `onFresh` runs downstream-first, the result is pinned ([[Pins]])
    * before the store mutates, and a replayed batch re-admits nothing.
    *
    * `registerLosers = false` selects the KEPT-DOCS-ONLY mode for streams
    * where duplication volume, not corpus size, dominates (a recrawl loop
    * re-observing the same pages forever would otherwise grow the store
    * linearly in time): only admitted docs register, so the store is
    * bounded by nBlocks rows per ADMITTED doc regardless of duplicate
    * volume. The explicit price is the loser-neighborhood recall hole this
    * scaladoc's default closes: a future doc within `maxDist` of a dropped
    * doc but not of any KEPT signature is admitted as a false fresh
    * (DedupSpec pins the exact triple). Replay stays safe — a replayed
    * admitted doc self-hits its own registration and repairs any partial
    * write; a replayed loser re-loses against the same kept signatures.
    */
  def incrementalNearDedup(world: graft.world.World, batch: DataFrame,
      idCol: String, textCol: String, maxDist: Int = 3,
      onFresh: DataFrame => Unit = _ => (),
      registerLosers: Boolean = true): DataFrame = {
    // maxDist 0 would make bits = 64 and the block mask wrap to 0 (every
    // probe key identical -> accidental all-pairs); > 63 would make bits 0
    require(maxDist >= 1 && maxDist <= 63,
      s"maxDist must be in [1, 63], got $maxDist")
    val nBlocks = maxDist + 1
    val bits = 64 / nBlocks
    val dimCol = world.dims.head.column
    val spark = batch.sparkSession

    // ONE simhash pass per batch (r17, guide §2.4): the signature kernel is
    // the batch's dominant per-row cost, and unpinned it re-executed for
    // every consumer — the block self-join, the store probe, and the
    // registration rows each paid a full text pass. The batch pins once
    // (original columns; the survivor frames below re-derive from it by
    // id), the signatures pin as a NARROW (id, __sig) frame — two longs a
    // row — and every block view derives from that arithmetically. Caller
    // releases via Pins.releaseAll, as with every pin in this family.
    val base = Pins.pin(parallelize(batch))
    val sigKeys = Pins.pin(
      base.select(col(idCol), simhash(col(textCol)).as("__sig")))
    // block rows: probe_key packs (blockIdx, blockValue) into one join key
    def blocksOf(keys: DataFrame): DataFrame = keys
      .select(col(idCol), col("__sig"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("__bi"))
      .select(col(idCol), col("__sig"), col("__bi"),
        (col("__bi").cast("long") * (1L << bits) +
          call_function("shiftright", col("__sig"), col("__bi") * bits)
            .bitwiseAND(lit((1L << bits) - 1))).as("__key"))

    // (1) within-batch: drop every id with a smaller near-dup id
    val batchBlocks = blocksOf(sigKeys)
    val intraDrops = batchBlocks
      .select(col(idCol).as("__ia"), col("__sig").as("__ha"), col("__key"))
      .join(batchBlocks.select(col(idCol).as("__ib"), col("__sig").as("__hb"),
        col("__key")), Seq("__key"))
      .where(col("__ia") < col("__ib"))
      // hamming-filter BEFORE deduplicating: bit_count is a one-instruction
      // codegen op, so re-checking a pair that collides in several blocks is
      // far cheaper than a wide 4-column shuffle-distinct of the whole pair
      // set — the surviving ids deduplicate narrow (r18)
      .where(bit_count(col("__ha").bitwiseXOR(col("__hb"))) <= maxDist)
      .select(col("__ib").as(idCol)).distinct()
    // within-batch survivors, as narrow signature rows
    val intraKeys = sigKeys.join(intraDrops, Seq(idCol), "left_anti")

    def blockRows(keys: DataFrame): DataFrame = blocksOf(keys).select(
      (col(idCol) * nBlocks + col("__bi")).as(dimCol),
      col("__key").as("probe_key"),
      col(idCol).as("seen_id"),
      col("__sig").as("seen_sig"))

    // virgin store check on the filesystem, as in incrementalDedup (Spark 4
    // resolves a missing source lazily; a catch would fire too late)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(world.path),
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(world.path)
    val virgin = !fs.exists(root) || fs.listStatus(root).isEmpty
    if (virgin) {
      val fresh = base.join(intraDrops, Seq(idCol), "left_anti")
      onFresh(fresh)
      // register ALL observed docs (the within-batch losers too — see the
      // non-transitivity note in the scaladoc); the rows derive from the
      // PINNED signature frame, no extra text pass. Kept-only mode
      // registers just the within-batch winners (= this batch's admissions).
      world.create(blockRows(if (registerLosers) sigKeys else intraKeys))
      fresh
    } else {
      // (2) cross-batch: candidates from the probe-key equality join only
      val hitPairs = blocksOf(intraKeys)
        .join(world.df.select(col("probe_key").as("__key"),
          col("seen_id"), col("seen_sig")), Seq("__key"))
        // filter first, dedupe narrow afterwards (see intraDrops note)
        .where(bit_count(col("__sig").bitwiseXOR(col("seen_sig"))) <= maxDist)
        .select(col(idCol), col("seen_id"))
      // a SELF hit (seen_id == this id) is a replayed doc from a run that
      // crashed after registering at least one of its block rows: not
      // fresh (the crashed run's onFresh already emitted it), and its
      // possibly-PARTIAL registration is repaired below because the
      // register step covers every batch doc with per-block-row tryInsert
      val crossDrops = hitPairs.select(idCol).distinct()
      // pinned BEFORE the store mutates — same self-anti-join trap as
      // incrementalDedup (see the scaladoc there); released by the caller
      // via Pins.releaseAll after the consuming action
      val fresh = Pins.pin(base
        .join(intraDrops, Seq(idCol), "left_anti")
        .join(crossDrops, Seq(idCol), "left_anti"))
      onFresh(fresh)
      if (registerLosers) {
        // (3) register ALL observed docs, losers included (non-transitivity:
        // a future doc near only a loser must still be caught); tryInsert
        // keeps a replayed batch idempotent and repairs partial registration
        world.tryInsertQuiet(blockRows(sigKeys))
      } else {
        // kept-only: register admissions plus SELF-hit replays (a self hit
        // proves a prior run admitted this doc, so its possibly-partial
        // registration must be completed — same repair contract as the
        // default mode, restricted to docs that ever registered). The id
        // set pins BEFORE tryInsert: selfHits' plan reads world.df, and
        // feeding an unpinned store-reading plan into the store's own
        // mutation is the self-anti-join trap the fresh pin already guards.
        val selfHits = hitPairs.where(col("seen_id") === col(idCol))
          .select(idCol).distinct()
        val regIds = Pins.pin(
          fresh.select(col(idCol)).unionByName(selfHits))
        world.tryInsertQuiet(blockRows(
          sigKeys.join(regIds, Seq(idCol), "left_semi")))
      }
      fresh
    }
  }

  /** Incremental MinHash-LSH near-duplicate dedup against a persisted BAND
    * store — the cross-batch form of [[minhashLshPairs]], completing the
    * incremental family ([[incrementalDedup]] = exact fingerprints,
    * [[incrementalNearDedup]] = SimHash/Hamming, this = MinHash/Jaccard):
    * a continuously-crawling corpus sees today's batch carry shingle-level
    * near-copies of documents ingested months ago, whose text is long gone
    * but whose banded MinHash keys are not. The store (a
    * [[graft.world.World]]) keeps one row per (document, band): dim 0 is
    * the unique row key `doc_id * bands + bandIdx` (doc ids need
    * 64/bands-bit headroom), payload (band, bh, seen_id) — three longs per
    * band row, `bands` rows per document ever observed. NO text, shingles
    * or full signatures are stored: at the LSH operating point a BAND
    * COLLISION IS the decision (the same contract as `d_minhash_lsh`; the
    * provably-exact jaccard=1 operating point is oracle-gated by
    * `d_minhash_inc`, the probabilistic recall curve by DedupSpec), so the
    * banded keys are the entire memory of the corpus.
    *
    * Per batch: (1) within-batch band self-join — smaller id wins; (2)
    * survivors' band keys equality-join the store on (band, bh) and any
    * hit drops; (3) every batch doc's band rows — losers included, see the
    * non-transitivity note in [[incrementalNearDedup]] — register via
    * idempotent `tryInsert`. Docs with NO shingles (empty/whitespace-only
    * text; sub-width docs still yield one all-words shingle) can neither
    * collide nor witness: they pass through fresh and never register. Crash/replay contract as the siblings:
    * `onFresh` runs downstream-first, results are pinned ([[Pins]], caller
    * releases) before the store mutates, a replayed batch re-admits
    * nothing (self-hits), and partial registration repairs on replay.
    * `registerLosers = false` is the kept-docs-only mode with the same
    * bounded-store/recall-hole trade documented on the SimHash sibling.
    */
  def incrementalMinHashLsh(world: graft.world.World, batch: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8,
      onFresh: DataFrame => Unit = _ => (),
      registerLosers: Boolean = true): DataFrame = {
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val dimCol = world.dims.head.column
    val spark = batch.sparkSession

    // ONE shingle+banding pass per batch (r17, guide §2.4): the fused
    // shingle→signature→band-key kernel is the batch's dominant per-row
    // cost, and unpinned it re-executed for every consumer — the band
    // self-join, the store probe, and the registration rows each paid a
    // full kernel pass (measured ~3 passes per batch in d_minhash_inc).
    // The batch pins once (original columns; survivor frames re-derive
    // from it by id), the band keys pin as a NARROW (id, band, bh) frame —
    // three longs a row — every view below derives from. Caller releases
    // via Pins.releaseAll, as with every pin in this family.
    val base = Pins.pin(parallelize(batch))
    // A doc with no shingles emits no band rows. The guard sits inside the
    // generator's input: a filter on the `__sh` alias would be pushed below
    // the projection and run the shingle kernel a second time.
    val bandKeys = Pins.pin(base
      .select(col(idCol), shingles(col(textCol)).as("__sh"))
      .select(col(idCol), posexplode(when(size(col("__sh")) > 0,
        graft.functions.MinHashBandKeys(col("__sh"), numHashes, bands)))
        .as(Seq("__band", "__bh"))))

    // (1) within-batch: any band collision decides; smaller id wins.
    // "collides with a smaller id on some band" ⟺ id > min(id) over the
    // (band, bh) key — one aggregation + one join instead of the band
    // self-join, whose output is Σ_key cnt² pairs (a band value shared by
    // k docs costs k² pair rows there, O(k) here — the hot-key quadratic
    // the guide's skew section warns about, removed outright).
    val keyMin = bandKeys.groupBy(col("__band"), col("__bh"))
      .agg(min(col(idCol)).as("__m"))
    val intraDrops = bandKeys.join(keyMin, Seq("__band", "__bh"))
      .where(col(idCol) > col("__m"))
      .select(col(idCol)).distinct()
    // within-batch survivors, as narrow band-key rows
    val keptKeys = bandKeys.join(intraDrops, Seq(idCol), "left_anti")

    def bandRows(keys: DataFrame): DataFrame = keys.select(
      (col(idCol) * bands + col("__band")).as(dimCol),
      col("__band").cast("long").as("band"),
      col("__bh").as("bh"),
      col(idCol).as("seen_id"))

    // virgin store checked on the filesystem (Spark 4 resolves a missing
    // source lazily; a catch would fire too late) — as in the siblings
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(world.path),
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(world.path)
    val virgin = !fs.exists(root) || fs.listStatus(root).isEmpty
    if (virgin) {
      val fresh = base.join(intraDrops, Seq(idCol), "left_anti")
      onFresh(fresh)
      world.create(bandRows(if (registerLosers) bandKeys else keptKeys))
      fresh
    } else {
      // (2) cross-batch: candidates from the (band, bh) equality join only;
      // consumers deduplicate narrow (id alone / the self-hit ids) instead
      // of a wide pair distinct here (r18)
      val hits = keptKeys
        .join(world.df.select(col("band").as("__band"), col("bh").as("__bh"),
          col("seen_id")), Seq("__band", "__bh"))
        .select(col(idCol), col("seen_id"))
      val crossDrops = hits.select(idCol).distinct()
      // pinned BEFORE the store mutates — the self-anti-join trap, see
      // incrementalDedup's scaladoc
      val fresh = Pins.pin(base
        .join(intraDrops, Seq(idCol), "left_anti")
        .join(crossDrops, Seq(idCol), "left_anti"))
      onFresh(fresh)
      if (registerLosers) {
        // (3) all observed docs register, losers included; tryInsert keeps
        // replays idempotent and repairs partial registration
        world.tryInsertQuiet(bandRows(bandKeys))
      } else {
        // kept-only: admissions plus SELF-hit replays (repair contract as
        // the SimHash sibling); the id set pins before feeding the store's
        // mutation
        val selfHits = hits.where(col("seen_id") === col(idCol))
          .select(idCol).distinct()
        val regIds = Pins.pin(
          fresh.select(col(idCol)).unionByName(selfHits))
        world.tryInsertQuiet(bandRows(
          bandKeys.join(regIds, Seq(idCol), "left_semi")))
      }
      fresh
    }
  }

  /** Cross-batch PARTIAL-overlap suppression on winnowing fingerprints
    * (r16) — the incremental-store sibling of [[incrementalMinHashLsh]] for
    * the overlap class MinHash is blind to: a new document REUSING a span
    * of previously-admitted content (boilerplate blocks, syndicated
    * paragraphs, quote farms). The store World holds ONE row per distinct
    * fingerprint (dim 0 = the 52-bit fingerprint itself; payload = the
    * first witnessing doc id), so state is O(distinct fingerprints over
    * admitted content) and a probe is a plain equality semi-join on the
    * fingerprint value.
    *
    * Admission rule (exact, oracle-restatable), two stages like the
    * MinHash sibling: a document is DROPPED when it shares at least
    * `minShared` distinct fingerprints with its own batch's smaller-id
    * documents COLLECTIVELY (any smaller id counts, admitted or not —
    * conservative chain-drops), or — surviving that — at least `minShared`
    * with the store COLLECTIVELY. Each stage's threshold is collective
    * (vs the union of that stage's content, not any single document), and
    * at the default `minShared = 1` the two-stage rule coincides with a
    * single union rule; each stage is one join + one count.
    *
    * Replay safety: the store registers through `tryInsert` (keyed by the
    * fingerprint), so a replayed batch re-registers idempotently and
    * repairs partial registration; ALL observed docs register (losers
    * included) so a replayed loser still finds its own fingerprints and
    * stays dropped. Both batch-side subtrees are pinned before the store
    * mutates (the lazy-reread trap, see [[incrementalDedup]]); the caller
    * releases via [[Pins.releaseAll]].
    */
  def incrementalWinnow(world: graft.world.World, batch: DataFrame,
      idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 1,
      onFresh: DataFrame => Unit = _ => ()): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val dimCol = world.dims.head.column
    val spark = batch.sparkSession
    // pinned: the md5-per-codepoint kernel is the batch's dominant cost and
    // this subtree feeds the self-join (twice), the probe, and registration
    // — unpinned it would recompute per consumer (caller releases via
    // Pins.releaseAll, same contract as the pinned anti-joins below)
    val withFp = Pins.pin(parallelize(batch).withColumn("__fps",
      graft.functions.WinnowFingerprints(col(textCol), k, w)))
    // kernel output is distinct per doc, so exploded rows are (doc, fp)-unique
    def fpRows(df: DataFrame): DataFrame = df
      .where(size(col("__fps")) > 0)
      .select(col(idCol), explode(col("__fps")).as("__fp"))
    val bf = fpRows(withFp)
    // "shares this fp with a smaller-id batch doc" ⟺ id > min(id over the
    // fp): one aggregation + one join instead of the fp self-join, whose
    // output is Σ_fp cnt² pairs — boilerplate fingerprints shared by k docs
    // cost k² pair rows there (measured 24 s task-time on the sf0.1 batch)
    // and O(k) here. bf is (id, fp)-unique by kernel distinctness, so the
    // per-id count of qualifying rows IS the count of distinct shared fps —
    // exactly the old distinct-pair count.
    val fpMin = bf.groupBy(col("__fp")).agg(min(col(idCol)).as("__m"))
    val intraDrops = bf.join(fpMin, Seq("__fp"))
      .where(col(idCol) > col("__m"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minShared)
      .select(col(idCol))
    val intra = Pins.pin(withFp.join(intraDrops, Seq(idCol), "left_anti"))
    // one store row per fingerprint: the first witness is enough — a probe
    // only asks "is this fingerprint known", never "known by whom else"
    def storeRows(df: DataFrame): DataFrame = fpRows(df)
      .groupBy(col("__fp")).agg(min(col(idCol)).as("seen_id"))
      .select(col("__fp").as(dimCol), col("seen_id"))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(world.path),
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(world.path)
    val virgin = !fs.exists(root) || fs.listStatus(root).isEmpty
    if (virgin) {
      val fresh = intra.drop("__fps")
      onFresh(fresh)
      world.create(storeRows(withFp))
      fresh
    } else {
      val hits = fpRows(intra)
        .join(world.df.select(col(dimCol).as("__fp")), Seq("__fp"))
        .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= minShared)
        .select(idCol)
      val freshFp = Pins.pin(intra.join(hits, Seq(idCol), "left_anti"))
      val fresh = freshFp.drop("__fps")
      onFresh(fresh)
      world.tryInsertQuiet(storeRows(withFp))
      fresh
    }
  }

  /** Distributed connected components over an undirected edge list —
    * transitive near-duplicate GROUPS from a pair list (a near-dup relation
    * is not transitive, so group formation needs real graph connectivity,
    * not a groupBy). Iterative min-label propagation with a pointer-jumping
    * step each round: the label of every member converges to the group's
    * smallest id in O(log diameter) rounds, so a 1M-doc duplicate chain
    * needs ~20 rounds, not 1M. Each round is two joins + an aggregation on
    * (id, label) longs; per-round results are cached and the previous round
    * unpersisted — the working set never exceeds one label table.
    *
    * Returns (id, group_id). Isolated ids (in `ids` but no edge) form their
    * own singleton groups.
    */
  def connectedComponents(ids: DataFrame, edges: DataFrame,
      maxIter: Int = 25): DataFrame = {
    // no edges -> every id is its own singleton group; skip the loop (a
    // mostly-unique corpus pays one cheap existence probe instead of a
    // full propagation round)
    if (edges.limit(1).isEmpty)
      return ids.select(col("id"), col("id").as("group_id"))
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // eager localCheckpoint per round ([[Pins.pinWithHandle]]): materializes
    // the label table AND truncates lineage — without it the plan doubles
    // every iteration and the optimizer, not the data, becomes the
    // bottleneck. The handle to the persisted RDD lets each round explicitly
    // free its predecessor: at 100 TB x 20 rounds, leaked label tables would
    // otherwise accumulate in executor storage memory. The FINAL round's
    // table (the returned result's backing blocks) stays registered in
    // [[Pins]] until the consumer's releaseAll.
    var (lab, labRdd) = Pins.pinWithHandle(ids.select(col("id"), col("id").as("label")))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // min label over neighbors
      val nbrMin = sym.join(lab.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nlabel"))
      // carry the pre-round label through as `old` so convergence is read
      // off the checkpointed result itself (a cached-block scan that
      // short-circuits on the first changed row) instead of the former
      // join+isEmpty, which re-ran both propagation joins a second time
      val stepped = lab.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump: label <- label(label); halves remaining path lengths
      val jump = stepped
        .join(stepped.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("old"), coalesce(col("ll"), col("label")).as("label"))
      val (jumped, jumpedRdd) = Pins.pinWithHandle(jump)
      converged = jumped.where(col("label") =!= col("old")).isEmpty
      Pins.release(labRdd)
      lab = jumped.select("id", "label")
      labRdd = jumpedRdd
      it += 1
    }
    // exhausting maxIter means the labels may not be fixed-point yet —
    // surface it rather than silently emitting wrong groups
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge within $maxIter iterations; " +
          "group labels may be incomplete — raise maxIter")
    lab.select(col("id"), col("label").as("group_id"))
  }

  /** Word n-gram shingles (distinct), the unit of Jaccard similarity.
    * Native codegen'd [[graft.functions.WordShingles]] — byte-identical to
    * the interpreted HOF chain it replaced (see its scaladoc), which
    * profiled as the single largest cost of every dedup pipeline. */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles(text, n)

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard_pct) with id_a < id_b, jaccard as an exact
    * integer percent (engine-neutral). Ids must be unique; id_a and id_b
    * keep the id column's type.
    *
    * Pipeline, ONE shuffle: a single projection computes each kernel once
    * per document — the sorted distinct shingles `sh` and the fused
    * signature+banding keys `bk` — and posexplodes `bk` into one row per
    * band; the rows shuffle once, on the bucket key (band, bh), into
    * `defaultParallelism` partitions (an explicit count, so AQE cannot fold
    * the verify work onto one task); each bucket's members are collected and
    * walked by the native [[graft.functions.MinHashBucketPairs]] generator.
    * A pair is emitted only in its LOWEST colliding band (its band keys
    * differ in every band below this one), so every candidate pair appears
    * exactly once with no pair `distinct`, and it is verified inline: exact
    * `floor(inter*100/union) >= threshold%`, a merge of the two sorted
    * shingle arrays. Documents with no shingles (empty, whitespace-only or
    * null text) emit no band rows and never pair.
    *
    * The trade: each document's shingles travel once per band row (8x at
    * the default banding) instead of once per verified candidate, and a
    * bucket of k members holds k x (shingles + band keys) in one task — its
    * output is already up to k(k-1)/2 pairs. On a 753-document corpus with
    * a 100-copy cluster that is 4.5 MB of shuffle per call against 0.25 MB
    * for the former join-then-dedup plan, which evaluated the shingle kernel
    * several times per document, generated each pair once per colliding
    * band, and verified every pair in one coalesced task.
    *
    * Default 8 bands x 8 rows targets true near-duplicates (collision
    * probability ~99% at j=0.9, ~3% at j=0.5): on a self-similar corpus wide
    * bands (16x4) collide for most pairs and the verify stage degenerates to
    * all-pairs. Raise `bands` only if you need recall at low similarity.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val base = parallelize(df.select(col(idCol).as("id"), col(textCol).as("text")))
    // `sh` feeds two expressions of the next projection, so Catalyst keeps
    // the shingle kernel in its own projection instead of inlining it twice
    val keyed = base.select(col("id"), sort_array(shingles(col("text"))).as("sh"))
      .select(col("id"), col("sh"),
        graft.functions.MinHashBandKeys(col("sh"), numHashes, bands).as("bk"))
    // the generator's input is an expression, not the `bk` alias: a plain
    // explode of an alias makes Catalyst infer `size(bk) > 0` and push it
    // below the projection, where it runs both kernels a second time
    keyed.select(col("id"), col("sh"), col("bk"),
        posexplode(when(size(col("sh")) > 0, col("bk"))).as(Seq("band", "bh")))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("band"), col("bh"))
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("id"), col("sh"), col("bk"))).as("m"))
      .select(graft.functions.MinHashBucketPairs(col("band"), col("m"), (threshold * 100).toInt))
  }

  /** 64-bit SimHash over word unigrams: sign of the per-bit sum of +-1 votes
    * from each word's xxhash64 (seed 42). Backed by the native codegen'd
    * [[graft.functions.SimHash64]] — bit-identical to the interpreted HOF
    * formulation it replaced (same hash, same vote rule), ~60x cheaper
    * (one tight loop vs words x 64 interpreted ops per row). */
  def simhash(text: Column): Column =
    graft.functions.SimHash64(split(lower(trim(text)), "\\s+"))

  /** SimHash near-dup pairs with Hamming distance <= maxDist: one
    * [[simhash]] per document, then [[hammingPairs]] — one shuffle on the
    * pigeonhole block key, each pair emitted once in its lowest equal
    * block. Ids must be unique; id_a and id_b keep the id column's type. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    hammingPairs(
      parallelize(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"), simhash(col("text")).as("h")),
      maxDist)

  /** Generic 64-bit Hamming near-dup pairs (r17) on ANY 64-bit fingerprint
    * — [[simhashPairs]] and the perceptual image/audio/video hashes of
    * [[graft.ops.Multimodal]] ride it. `withH` must carry `id` (unique,
    * of any orderable type, which id_a and id_b keep) and `h` (the long
    * fingerprint; null never pairs); emits (id_a, id_b, hamming) with
    * id_a < id_b and hamming <= maxDist.
    *
    * Pigeonhole completeness: the hash splits into maxDist+1 blocks, so any
    * pair within distance shares at least one exact block. Each fingerprint
    * emits one row per block, the rows shuffle ONCE on the bucket key
    * (blockIdx, blockValue) into `defaultParallelism` partitions, and the
    * native [[graft.functions.HammingBucketPairs]] generator walks each
    * bucket: a pair is emitted only in its LOWEST equal block (every block
    * below differs) and only when `bitCount(h_a ^ h_b) <= maxDist` — each
    * pair once, no pair `distinct`, never all-pairs. The trade: a bucket of
    * k members is k x (id, h) in one task, with up to k(k-1)/2 pairs out. */
  def hammingPairs(withH: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1 && maxDist <= 63,
      s"maxDist must be in [1, 63], got $maxDist") // 0 wraps the block mask
    val nBlocks = maxDist + 1
    val bits = 64 / nBlocks
    // explode a constant sequence and derive the block value ABOVE the
    // Generate: the fingerprint is then evaluated once per input row, not
    // once per block. The null guard sits inside the generator's input; a
    // filter on `h` would be pushed below — and re-run — a kernel projection.
    withH
      .select(col("id"), col("h"),
        explode(when(col("h").isNotNull, sequence(lit(0), lit(nBlocks - 1)))).as("bi"))
      .select(col("id"), col("h"), col("bi"),
        call_function("shiftright", col("h"), col("bi") * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("bv"))
      .repartition(withH.sparkSession.sparkContext.defaultParallelism, col("bi"), col("bv"))
      .groupBy(col("bi"), col("bv"))
      .agg(collect_list(struct(col("id"), col("h"))).as("m"))
      .select(graft.functions.HammingBucketPairs(col("bi"), col("m"), bits, maxDist))
  }

  /** SemDedup-style SEMANTIC near-duplicate removal: drop documents whose
    * embeddings say the same thing, even when their text does not (the
    * paraphrase case every lexical dedup above misses). The standard
    * pipeline shape — cluster the embedding space, then deduplicate within
    * clusters only:
    *
    *   1. k-means centroids from the IVF trainer ([[Similarity
    *      .trainCentroids]] / the distributed twin — index build, shared
    *      with ANN);
    *   2. one native [[graft.functions.NearestCentroids]] pass assigns each
    *      document its cluster — candidate pairs are WITHIN-cluster only,
    *      bounded by cluster size, never corpus²;
    *   3. ids-only self-join per cluster, embeddings attached to candidates
    *      afterwards (the same shuffle discipline as every pairs op here),
    *      exact native-cosine verify;
    *   4. of every pair at/above `threshold`, the LARGER id drops — each
    *      semantic-duplicate chain deterministically keeps its lowest id
    *      (the chain's global minimum always survives; pairwise dropping is
    *      the SemDedup trade vs. full connected components, which
    *      [[connectedComponents]] offers when exact groups matter).
    *
    * Cross-cluster near-dups are missed by design (the SemDedup recall
    * trade); raising `nlist` tightens clusters and cost, lowering it raises
    * recall. Returns the surviving rows of `df` unchanged.
    */
  def semanticDedup(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", threshold: Double = 0.9,
      nlist: Int = 64, dim: Int = Similarity.DefaultDim,
      distributedTraining: Boolean = false): DataFrame = {
    val base = parallelize(df)
    val trainInput = base.select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
    val (cents, k) =
      if (distributedTraining) Similarity.trainCentroidsDistributed(trainInput, nlist, dim)
      else Similarity.trainCentroids(trainInput, nlist, dim)
    val assigned = base.select(col(idCol).as("id"),
      element_at(graft.functions.NearestCentroids(col(embCol), cents, k, 1), 1)
        .as("cid"))
    val a = assigned.select(col("id").as("id_a"), col("cid"))
    val b = assigned.select(col("id").as("id_b"), col("cid"))
    val vecs = base.select(col(idCol).as("vid"), col(embCol).as("emb"))
    val drops = a.join(b, Seq("cid")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(vecs.select(col("vid").as("id_a"), col("emb").as("emb_a")), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("emb").as("emb_b")), Seq("id_b"))
      .where(graft.functions.CosineSim(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("__drop_id")).distinct()
    base.join(drops, base(idCol) === drops("__drop_id"), "left_anti")
  }

  /** Exact n-gram Jaccard via a **PPJoin-style** set-similarity join: prefix
    * filtering + asymmetric index prefix + positional filtering + length-ratio
    * pruning, then exact verification. All filters are true upper-bound
    * prunes, so the result set is IDENTICAL to the naive all-pairs join.
    *
    *   - prefix filter: J(A,B) >= t forces a shared token among each doc's
    *     `|X| - ceil(t|X|) + 1` globally-rarest shingles;
    *   - asymmetric prefix (PPJoin): orienting each pair so the probe side is
    *     the (sz, id)-larger doc, the smaller side only needs its
    *     `|X| - ceil(2t/(1+t)|X|) + 1`-length *index* prefix — the hot tail
    *     of the inverted index shrinks by ~1/3 at t=0.5;
    *   - accumulated-overlap positional filter (PPJoin): matched prefix rows
    *     are grouped per pair (the same shuffle the candidate-dedup needed
    *     anyway) into `ov` = number of shared prefix shingles plus the ranks
    *     of the globally-LAST shared prefix shingle. Prefix ranks are
    *     positions in one global `(df, s)` order, so every shared shingle
    *     outside both prefixes ranks after that last match in BOTH docs
    *     (if it ranked before it in the global order, its rank would be
    *     inside both prefixes and it would itself be a match). Hence
    *     `ov + min(sz_p - max(rk_p), sz_i - max(rk_i))` is a true overlap
    *     upper bound — tighter than any single-row `first-match` bound and
    *     the standard PPJoin formulation. On a DIVERSE corpus this is the
    *     decisive prune (pairs sharing one incidental rare token die here);
    *     on the synthetic 31-word-vocab corpus it prunes only ~1% (ov is
    *     itself large for almost-duplicate shingle profiles) and the win is
    *     structural — the filter rides the same per-pair shuffle the old
    *     candidate-`distinct` needed anyway, so no stage is added
    *     (sf0.1 best-of-2: 4.7 s -> 3.0 s end-to-end).
    */
  /** Token positions covered by a k-gram shared across >= `minDocs` docs —
    * the shared core of [[duplicateSpans]] / [[stripDuplicateSpans]].
    * Returns (tokens with their arrays, hit positions). Gram identity is a
    * 128-bit hash pair (two seeded xxhash64 runs), so the duplicated-gram
    * shuffle moves 16 bytes per gram instead of the k-token string — the
    * same digest-not-content discipline as [[exactGroups]], and collision
    * odds stay birthday-safe at trillion-gram corpora where a single
    * 64-bit key would not be. */
  private def spanHits(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int): (DataFrame, DataFrame) = {
    require(k >= 2, s"span k-gram order must be >= 2, got $k")
    val toks = parallelize(df.select(col(idCol).as("doc_id"),
      split(lower(trim(regexp_replace(col(textCol), "\\s+", " "))), " ").as("w")))
    // sequence(0, n) REVERSES when n < 0 — guard short docs to an empty list
    val grams = toks
      .select(col("doc_id"), posexplode(
        when(size(col("w")) >= k,
          transform(sequence(lit(0), size(col("w")) - k),
            i => array_join(slice(col("w"), i + 1, lit(k)), " ")))
          .otherwise(array())).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("g")).as("h1"), xxhash64(lit(1), col("g")).as("h2"))
    val dup = grams.groupBy("h1", "h2")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select("h1", "h2")
    (toks, grams.join(dup, Seq("h1", "h2"), "left_semi").select("doc_id", "pos"))
  }

  /** Repeated-substring (passage-level) duplicate spans. Document-level
    * dedup misses the dominant duplication mode in web corpora: shared
    * passages — licenses, navigation boilerplate, quoted text — inside
    * otherwise-distinct documents. The known treatment builds a corpus-wide
    * suffix array (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"), which is inherently a single sorted structure;
    * re-expressed Spark-first the same spans fall out relationally: a
    * shared substring of >= k tokens is exactly a RUN of shared k-grams, so
    * marking every position whose k-gram occurs in >= `minDocs` documents
    * and merging consecutive marks (gaps-and-islands over a per-doc window)
    * yields the maximal duplicated passages of length >= k.
    *
    * Plan: one gram explode (codegen'd HOFs), one 16-byte-key aggregation,
    * one semi-join back, one PER-DOCUMENT window — every stage keyed and
    * partition-parallel; nothing is corpus-global the way the suffix array
    * is, which is what makes this formulation survive 100 TB.
    *
    * Returns (doc_id, span_start, span_end, span_tokens), positions 0-based
    * inclusive. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val (_, hits) = spanHits(df, idCol, textCol, k, minDocs)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Excise every duplicated span (>= k shared tokens, >= `minDocs` docs)
    * from the corpus: the scrub face of [[duplicateSpans]], for stripping
    * shared boilerplate before training. Tokens covered by any duplicated
    * k-gram window drop; survivors rejoin in order. Documents left with no
    * tokens (fully-duplicated texts) disappear entirely — this is the
    * passage-level generalization of exact dedup, which they'd also have
    * removed. Returns (doc_id, clean_text). */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val (toks, hits) = spanHits(df, idCol, textCol, k, minDocs)
    val tokens = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tk")))
    val covered = hits
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("pos"))
      .distinct()
    tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      // per-doc rebuild: collect_list is bounded by one document's tokens
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tk")))),
          x => x.getField("tk")), " ").as("clean_text"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val base = parallelize(df.select(col(idCol).as("id"), col(textCol).as("text")))
    // explode_outer + a null check on the generated shingle: a doc with no
    // shingles emits no rows, and no filter lands on the `sh` alias (one —
    // written, or inferred from a plain explode — is pushed below the
    // projection and re-runs the shingle kernel)
    val inv = base.select(col("id"), shingles(col("text"), n).as("sh"))
      .select(col("id"), size(col("sh")).as("sz"), explode_outer(col("sh")).as("s"))
      .where(col("s").isNotNull)
    val withDf = inv.join(inv.groupBy("s").agg(count(lit(1)).as("df_")), Seq("s"))
    // rank shingles per doc rarest-first (global (df, s) order)
    val w = Window.partitionBy("id").orderBy(col("df_"), col("s"))
    val ranked = withDf.withColumn("rk", row_number().over(w))
    // hot-shingle salting: a stop-phrase shingle with df in the thousands
    // would emit ALL its probe×index candidate rows in one shuffle task —
    // the run-to-run variance killer. Probe rows of a hot shingle scatter
    // across sub-keys (a deterministic function of the probe id, so every
    // probe row of a doc lands once); index postings of a hot shingle
    // replicate across all its sub-keys. The salt count is ADAPTIVE —
    // df/hotDf, capped — so per-task fan-out is bounded at ~hotDf·df for
    // EVERY df instead of df²: a fixed salt count left a mid-hot band
    // (df a few hundred) under-split and the ultra-hot band (df in the
    // tens of thousands) quadratic. Cold shingles (df < 2·hotDf) compute
    // salts = 1 → salt 0 on both sides, zero replication in the common
    // case; the candidate join stays keyed on (s, salt).
    val hotDf = 64L
    val maxSalts = 256L
    val saltsOf = least(
      greatest(floor(col("df_") / hotDf).cast("long"), lit(1L)), lit(maxSalts))
    val probe = ranked
      .where(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("s"), col("id").as("id_p"), col("sz").as("sz_p"), col("rk").as("rk_p"),
        pmod(xxhash64(col("id")), saltsOf).as("salt"))
    // index prefix: ceil(2t/(1+t) * sz) is the PPJoin indexing bound
    val idxFrac = 2 * threshold / (1 + threshold)
    val index = ranked
      .where(col("rk") <= col("sz") - ceil(col("sz") * idxFrac) + 1)
      .select(col("s"), col("id").as("id_i"), col("sz").as("sz_i"), col("rk").as("rk_i"),
        explode(sequence(lit(0L), saltsOf - 1)).as("salt"))
    val cand = probe.join(index, Seq("s", "salt"))
      .where(
        // orient: probe doc strictly (sz, id)-larger — each unordered pair
        // is generated exactly one way, satisfying PPJoin's |index| <= |probe|
        (col("sz_p") > col("sz_i") ||
          (col("sz_p") === col("sz_i") && col("id_p") > col("id_i"))) &&
        // length-ratio pruning: t·|probe| <= |index| (probe is larger)
        col("sz_i") >= col("sz_p") * threshold)
      // accumulated-overlap positional filter: one group per candidate pair
      // (this shuffle doubled as the candidate-dedup). max(rk_p)/max(rk_i)
      // both belong to the globally-last shared prefix shingle (ranks are
      // monotone in the one global (df, s) order), and all shared shingles
      // missed by the prefixes rank after it in both docs, so
      // ov + min(remaining suffix lengths) bounds the true overlap.
      .groupBy(col("id_p"), col("id_i"), col("sz_p"), col("sz_i"))
      .agg(count(lit(1)).as("ov"),
        max(col("rk_p")).as("rkp_last"), max(col("rk_i")).as("rki_last"))
      .where(
        (col("ov") + least(col("sz_p") - col("rkp_last"), col("sz_i") - col("rki_last"))) *
          (1 + threshold) >= (col("sz_p") + col("sz_i")) * threshold)
      .select(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"))
    // pin the surviving pair set before the exact-verify joins (r14): the
    // candidate subplan above is ~19 physical stages (repartition, df join,
    // rank window, salted join, pair groupBy) — pinning truncates that
    // lineage so the two verify joins can never replan or recompute it,
    // and hands the planner the EXACT (near-dup-bounded) pair count
    // instead of an estimate straddling broadcast boundaries — the
    // r11-carried run-to-run variance tracked to replanning/recompute
    // noise at exactly this seam. O(output pairs) executor storage — the
    // same rows the query returns; the consumer releases via
    // Pins.releaseAll (the Verify/Bench/daemon contract, as for every pin
    // in the dedup family).
    val pinnedCand = Pins.pin(cand)
    // exact-verify sides re-run the shingle kernel ONLY for docs that
    // appear in the pinned candidate set (r18): the pair set is bounded by
    // the near-dup count, so a broadcast semi-join reduces each side's
    // kernel pass from the whole corpus to the candidates — recompute
    // stays (pinning corpus-sized shingle arrays is infeasible at scale,
    // the r17 decision) but now over O(pairs) docs instead of O(corpus).
    def shSide(ids: DataFrame, side: String) = base
      .join(broadcast(ids), Seq("id"), "left_semi")
      .select(col("id").as(s"id_$side"), shingles(col("text"), n).as(s"sh_$side"))
    pinnedCand
      .join(shSide(pinnedCand.select(col("id_a").as("id")), "a"), Seq("id_a"))
      .join(shSide(pinnedCand.select(col("id_b").as("id")), "b"), Seq("id_b"))
      .withColumn("jaccard_pct", graft.functions.JaccardPct(col("sh_a"), col("sh_b")))
      .where(col("jaccard_pct") >= (threshold * 100).toInt)
      .select("id_a", "id_b", "jaccard_pct")
  }
}
