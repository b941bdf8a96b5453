package graft.streaming

import graft.world.World
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Write-behind persistence — the Structured Streaming restatement of the
  * reference's flush daemon + shutdown handle
  * (/root/reference/tokio-fs/src/lib.rs:154-235).
  *
  * The reference buffers dirty chunks in memory and flushes every
  * `write_interval`, with a drop-guard that flushes on exit. Here the "dirty
  * buffer" is a streaming source (an append log of incoming rows); each
  * micro-batch routes rows to their bucket partitions via [[World]] upsert
  * semantics. Durability is strictly stronger than the reference: the file
  * sink commit protocol + checkpoint give exactly-once batches vs. the
  * reference's torn-write-susceptible full-file overwrite
  * (tokio-fs/src/lib.rs:101-104).
  */
object Daemon {

  /** Start the write-behind loop: every `interval`, flush the new rows of
    * `source` into the world. `checkpoint` carries the stream's progress
    * across restarts — the analog of "dirty chunks survive until flushed".
    *
    * Two flush modes, matching the reference's two cost regimes:
    *   - `"upsert"`: each batch runs `World.insert` (replace-on-conflict by
    *     dim 0, exactly `World::insert`). Correct for sources that re-emit
    *     ids, but each batch pays a semi-join against the world plus a
    *     partition rewrite — at high batch frequency that is the dominant
    *     cost.
    *   - `"append"`: each batch is a raw clustered append (no reads of
    *     existing data), and every `compactEvery` batches the world is
    *     compacted back to ≤ `maxFilesPerChunk` files per chunk — the
    *     dirty-write-counter flush of the reference's IO loop
    *     (`LEAST_WRITES`, /root/reference/tokio-fs/src/lib.rs:213-234): pay
    *     the rewrite once per threshold, not once per batch. Use when ids
    *     are fresh per batch (event logs), which is the high-frequency case.
    *     A batch runs no emptiness job first: an empty batch's append
    *     writes no file and seals no version. `compactEvery` counts
    *     micro-batches, empty ones included.
    *
    * Delivery caveat, stated honestly: `foreachBatch` is at-least-once — a
    * batch that crashes after its append but before the checkpoint commit
    * is REPLAYED on restart, and the raw-append path would write its rows
    * twice. `"upsert"` is idempotent under replay (replace by dim-0 id) and
    * is the right mode when duplicates are unacceptable; the reference has
    * the same trade (its flush rewrites whole chunk files, torn on crash,
    * tokio-fs/src/lib.rs:101-104).
    */
  def start(world: World, source: DataFrame, checkpoint: String,
      interval: String = "5 seconds", mode: String = "upsert",
      compactEvery: Int = 8, maxFilesPerChunk: Int = 4): StreamingQuery = {
    require(mode == "upsert" || mode == "append", s"unknown daemon mode $mode")
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (mode == "append") {
          world.append(batch.toDF())
          if (batches.incrementAndGet() % compactEvery == 0) {
            world.compact(maxFilesPerChunk); ()
          }
        } else if (!batch.isEmpty) { world.insert(batch.toDF()); () }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of [[graft.ops.Dedup.incrementalDedup]]: each
    * micro-batch of `source` documents is deduped against the PERSISTED
    * fingerprint store (`fpStore`, a world keyed by the 64-bit content
    * fingerprint), and only never-seen-before documents land in `sink`
    * (a world keyed by the document id).
    *
    * Restart/replay semantics, the reason this composition is safe:
    *   - the fingerprint store survives query restarts (it's on disk, not in
    *     stream state), so a document seen before the restart is still a
    *     duplicate after it;
    *   - within a batch the SINK is fed before the fingerprints register
    *     (Dedup.incrementalDedup's onFresh ordering) — a crash between the
    *     two replays the batch as at-least-once into the sink, where
    *     `World.insert` (replace by id) makes the replay idempotent;
    *   - a replayed batch whose fingerprints DID register finds nothing
    *     fresh and is a no-op end to end.
    *
    * Each batch's pinned anti-join checkpoint is released after the sink
    * write ([[graft.ops.Pins.releaseAll]]) — the storage-memory discipline a
    * forever-running stream needs.
    */
  def dedupStream(fpStore: World, sink: World, source: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      interval: String = "5 seconds"): StreamingQuery = {
    val fpCol = fpStore.dims.head.column
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          try {
            graft.ops.Dedup.incrementalDedup(fpStore, batch.toDF(), idCol, textCol,
              onFresh = fresh => { sink.insert(fresh.drop(fpCol)); () })
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of [[graft.ops.Dedup.incrementalNearDedup]] — same
    * contract as [[dedupStream]], but the store keeps SimHash block
    * signatures instead of exact fingerprints, so lightly-edited re-crawls
    * of long-gone documents are dropped too (four longs per block row is
    * still the store's entire memory; no text is persisted or re-read).
    * Sink-before-register ordering, idempotent replay, and per-batch pin
    * release are inherited unchanged.
    */
  def nearDedupStream(sigStore: World, sink: World, source: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      interval: String = "5 seconds", maxDist: Int = 3,
      registerLosers: Boolean = true): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          try {
            graft.ops.Dedup.incrementalNearDedup(sigStore, batch.toDF(), idCol,
              textCol, maxDist, onFresh = fresh => { sink.insert(fresh); () },
              registerLosers = registerLosers)
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of [[graft.ops.Dedup.incrementalMinHashLsh]] — the
    * MinHash/Jaccard sibling of [[nearDedupStream]] (shingle-level
    * near-copies instead of Hamming-near signatures): the store keeps
    * banded MinHash keys, three longs per band row. Sink-before-register
    * ordering, idempotent replay, and per-batch pin release inherited
    * unchanged.
    */
  def minhashDedupStream(bandStore: World, sink: World, source: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      interval: String = "5 seconds", numHashes: Int = 64, bands: Int = 8,
      registerLosers: Boolean = true): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          try {
            graft.ops.Dedup.incrementalMinHashLsh(bandStore, batch.toDF(),
              idCol, textCol, numHashes, bands,
              onFresh = fresh => { sink.insert(fresh); () },
              registerLosers = registerLosers)
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of [[graft.ops.Dedup.incrementalWinnow]] — the
    * PARTIAL-overlap gate: a document reusing at least `minShared`
    * winnowing fingerprints of previously-admitted content (boilerplate
    * blocks, syndicated spans — the overlap class the MinHash face is
    * blind to) is suppressed; fresh documents land in `sink`. Same
    * restart/replay contract as [[dedupStream]]: the fingerprint store is
    * on disk (one row per distinct fingerprint), sink-before-register
    * ordering plus replace-by-id sink inserts and tryInsert registration
    * make at-least-once replay idempotent end to end. */
  def winnowDedupStream(fpStore: World, sink: World, source: DataFrame,
      idCol: String, textCol: String, checkpoint: String,
      interval: String = "5 seconds", k: Int = 8, w: Int = 4,
      minShared: Int = 1): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          try {
            graft.ops.Dedup.incrementalWinnow(fpStore, batch.toDF(), idCol,
              textCol, k, w, minShared,
              onFresh = fresh => { sink.insert(fresh); () })
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of the perplexity filter ([[graft.ops.Text.lmScore]]):
    * each micro-batch is scored against a FIXED bigram LM (trained offline
    * with [[graft.ops.Text.trainLm]] — the model tables can live as
    * parquet/World-backed DataFrames) and only documents under the NLL
    * gate reach the sink. Stateless per batch (the model never updates
    * mid-stream — retraining is a deploy, exactly like a real tokenizer or
    * quality model), so replay is idempotent through the sink's upsert
    * semantics; per-batch pin release as in the dedup faces.
    */
  def lmGateStream(model: graft.ops.Text.LmModel, sink: World,
      source: DataFrame, idCol: String, textCol: String, checkpoint: String,
      interval: String = "5 seconds",
      thresholdUnats: Long = 5000000L): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          try {
            val b = batch.toDF()
            val kept = graft.ops.Text
              .lmScore(model, b, idCol, textCol, thresholdUnats)
              .where(org.apache.spark.sql.functions.col("kept") === 1L)
              .select(org.apache.spark.sql.functions.col("doc_id").as(idCol))
            sink.insert(b.join(kept, idCol))
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of incremental LM training
    * ([[graft.ops.Text.updateLmCounts]]): each micro-batch's token and
    * bigram counts fold into the persisted count-store Worlds, so the
    * quality model keeps learning from the stream it gates — score with
    * [[graft.ops.Text.loadLm]] + `lmScore` at any time. Exactly-once per
    * batch via the count stores' commit markers (counts are additive;
    * replay must not double them). */
  def lmTrainStream(c1Store: World, c2Store: World, source: DataFrame,
      textCol: String, checkpoint: String,
      interval: String = "5 seconds"): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          try {
            graft.ops.Text.updateLmCounts(c1Store, c2Store, batch.toDF(),
              textCol, Some(batchId))
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of the drift monitor ([[graft.ops.Text.tokenKlDrift]]):
    * each micro-batch's token distribution is compared against a FIXED
    * reference corpus and the top-k KL contributors land in the sink World
    * keyed by `batchId * 1000 + rank` — so a mix shift in the incoming
    * stream (a crawl gone weird, a source flipping format) surfaces within
    * one trigger interval, with the words that moved. Stateless per batch;
    * replay overwrites the same batch keys, so at-least-once delivery is
    * idempotent. The tiny ungrouped window runs over the ALREADY-REDUCED
    * top-k rows (≤ topK), the registry's declared exemption. */
  def klDriftStream(reference: DataFrame, sink: World, source: DataFrame,
      textCol: String, checkpoint: String, interval: String = "5 seconds",
      topK: Int = 20): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val keyCol = sink.dims.head.column
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          try {
            val left = batch.toDF().select(col(textCol)).withColumn("is_left", lit(true))
            val right = reference.select(col(textCol)).withColumn("is_left", lit(false))
            val drift = graft.ops.Text.tokenKlDrift(
              left.unionAll(right), textCol, col("is_left"), topK)
            val w = org.apache.spark.sql.expressions.Window
              .orderBy(col("kl_nnats").desc, col("word"))
            sink.insert(drift
              .withColumn("rk", row_number().over(w).cast("long"))
              .select((lit(batchId) * 1000 + col("rk")).as(keyCol),
                lit(batchId).as("batch_id"), col("word"), col("cl"), col("cr"),
                col("kl_nnats")))
            ()
          } finally graft.ops.Pins.releaseAll()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of the WET export ([[graft.ops.Warc.encodeShards]]):
    * each micro-batch of extracted documents lands in `outDir` as
    * Common-Crawl-shaped `.warc.gz` shard files — the EXPORT end of a
    * streaming crawl pipeline (ingest → extract → dedup → export), so
    * downstream consumers tail a directory of finished archives instead of
    * a table.
    *
    * Replay semantics: shard files are named (host, block, BATCH ID) and
    * written with overwrite-on-create, so an at-least-once replayed batch
    * rewrites its own files byte-identically (shard bytes are
    * deterministic — records sort by doc_id inside a shard) and can never
    * duplicate an archive. Bounded like the batch operator: one archive
    * per (host, doc-block), each task holds O(docsPerShard) rows.
    *
    * `source` must carry [[graft.ops.Warc.WetDoc]]'s columns
    * (doc_id, host_id, uri, text). */
  def wetExportStream(outDir: String, source: DataFrame, checkpoint: String,
      interval: String = "5 seconds", docsPerShard: Int = 64): StreamingQuery = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val docs = batch.toDF()
            .select("doc_id", "host_id", "uri", "text")
            .as[graft.ops.Warc.WetDoc]
          graft.ops.Warc.writeShardFiles(
            graft.ops.Warc.encodeShards(spark, docs, docsPerShard),
            outDir, epoch = Some(batchId))
          ()
        }
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of [[graft.ops.MaterializedAgg]]: the base table's
    * commit-cursor stream drives `refresh()` — each micro-batch only marks
    * "new commits landed" (the projection is empty, so the source scan is
    * footer row counts, no data pages), and the refresh re-reads nothing
    * from the stream: it consumes the change feed between its own DURABLE
    * cursor (the sentinel row inside the view's state world) and the
    * base's latest commit. Restart/replay-safe by construction: a replayed
    * trigger finds the cursor already advanced and no-ops; a missed
    * trigger is absorbed by the next (the feed spans any commit range); a
    * torn refresh left an intent marker and rebuilds exactly. A virgin
    * view initializes itself on the first trigger. */
  def mvRefreshStream(mv: graft.ops.MaterializedAgg, checkpoint: String,
      interval: String = "5 seconds"): StreamingQuery = {
    val q = mv.spark.readStream.format("graft").load(mv.basePath)
      .select(org.apache.spark.sql.functions.lit(1L).as("tick"))
      .writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        try { mv.refresh(); () } finally graft.ops.Pins.releaseAll()
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming face of the inverted index ([[graft.ops.InvertedIndex]]):
    * the base world's commit-cursor stream triggers `refresh()` — same
    * contract as [[mvRefreshStream]] (empty projection ticks, durable
    * sentinel cursor, replayed triggers no-op, torn refreshes rebuild, a
    * virgin index self-initializes). The search index follows the corpus
    * within one trigger interval of every commit. */
  def indexRefreshStream(ix: graft.ops.InvertedIndex, checkpoint: String,
      interval: String = "5 seconds"): StreamingQuery = {
    val q = ix.spark.readStream.format("graft").load(ix.basePath)
      .select(org.apache.spark.sql.functions.lit(1L).as("tick"))
      .writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        try { ix.refresh(); () } finally graft.ops.Pins.releaseAll()
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** Streaming auto-refresh for the vector ANN index — identical contract
    * to [[indexRefreshStream]]: the base world's commit-cursor stream
    * triggers `refresh()` (empty projection ticks, durable cursor in the
    * index state, replay/restart converge by that cursor, torn refreshes
    * recover through the intent marker). */
  def vectorIndexRefreshStream(vix: graft.ops.VectorIndex, checkpoint: String,
      interval: String = "5 seconds"): StreamingQuery = {
    val q = vix.spark.readStream.format("graft").load(vix.basePath)
      .select(org.apache.spark.sql.functions.lit(1L).as("tick"))
      .writeStream
      .trigger(Trigger.ProcessingTime(interval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        try { vix.refresh(); () } finally graft.ops.Pins.releaseAll()
      }
      .start()
    installShutdownFlush(q)
    q
  }

  /** `ShutdownHandle` analog (tokio-fs/src/lib.rs:154-200): on JVM exit,
    * stop the query after the in-flight batch — no dirty data beyond the
    * last committed checkpoint is ever claimed durable. */
  private def installShutdownFlush(q: StreamingQuery): Unit = {
    val hook = new Thread(() => {
      try if (q.isActive) q.stop()
      catch { case _: Throwable => () }
    }, "graft-daemon-shutdown-flush")
    try java.lang.Runtime.getRuntime.addShutdownHook(hook)
    catch { case _: IllegalStateException => () /* already shutting down */ }
  }

  /** One synchronous flush cycle over a batch source — the `LEAST_WRITES`
    * loop body (tokio-fs/src/lib.rs:217-234) for callers that want batch
    * semantics without a streaming query. Returns replaced-row count. */
  def flushOnce(world: World, pending: DataFrame): Long = world.insert(pending)
}
