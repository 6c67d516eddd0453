package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.SystemCols
import graft.functions.TextFunctions
import graft.operators.{Baskets, Sketches, Temporal}
import graft.store.VersionedTable

/** Structured-Streaming variants of the ingestion paths (SURVEY.md §2.9:
  * the reference is poll-based incremental batch; Spark's native analogue
  * for its full-load + append paths is `Trigger.AvailableNow` — process
  * everything currently available, checkpoint, stop. Re-running the stream
  * IS the reference's "one more poll").
  *
  * The streaming source replays files; the sink appends the same
  * system-columned projection the batch engine writes, so downstream
  * consumers (currentState, restore-pk) cannot tell the paths apart. */
object StreamingIngest {

  /** The one AvailableNow drain every driver in this package runs: start
    * the configured sink, process everything currently available,
    * checkpoint, stop. Returns the finished query. */
  private[streaming] def drain[T](sink: DataStreamWriter[T]): StreamingQuery = {
    val q = sink.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** [[drain]] through `foreachBatch`, which is at-least-once: a batch whose
    * body committed but whose stream commit never landed re-runs on restart
    * under the same batchId, and every body must make that replay a no-op. */
  private def drainBatches(in: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    drain(in.writeStream.foreachBatch(body).option("checkpointLocation", checkpointDir))

  /** [[drainBatches]] over the parquet files under `sourceDir` for a
    * txn-watermarked maintainer: `body` also gets the maintainer's
    * [[appIdOf]], the id every one of its commits is watermarked under. */
  private def drainFolds(spark: SparkSession, sourceDir: String, schema: StructType,
      entryName: String, checkpointDir: String)(
      body: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val appId = appIdOf(entryName, checkpointDir)
    drainBatches(spark.readStream.schema(schema).parquet(sourceDir), checkpointDir)(
      body(_, _, appId))
  }

  /** `<entryName>-<md5 hex of checkpointDir>`: a restart from the same
    * checkpoint replays uncommitted batches under the SAME batchId, so
    * (appId, batchId) names each micro-batch across restarts. Persisted as
    * `graft.txn.<appId>` in every state table — a changed string would
    * re-apply every batch after an upgrade. */
  private[graft] def appIdOf(entryName: String, checkpointDir: String): String =
    entryName + "-" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The replay guard of the guarded maintainers: true when `t`'s
    * watermark says the batch already applied, so the FOLD must be skipped,
    * not just its commit (an additive re-fold double-counts; a refusing
    * fold trips its own late-data check before any commit could no-op). */
  private def replayed(t: VersionedTable, appId: String, batchId: Long): Boolean =
    t.exists && t.txnApplied(appId, batchId)

  /** Materializes one batch output and cuts its lineage. Every output of a
    * batch goes through here BEFORE any of that batch's commits, which then
    * land in the maintainer's fixed order: a state derived from the files
    * it replaces is read before the overwrite, and a fold's refusal raises
    * inside the batch with nothing committed. */
  private def truncate(out: DataFrame): DataFrame = graft.operators.Caching.truncate(out)

  /** Append-only streaming ingest (the append_inserts load mode as a
    * stream): parquet dir → system cols → parquet sink, exactly-once via
    * the checkpoint. Returns the finished query (AvailableNow terminates). */
  def ingestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      destDir: String,
      checkpointDir: String): StreamingQuery = {
    val out = spark.readStream.schema(schema).parquet(sourceDir)
      .withColumn(SystemCols.timestamp, current_timestamp())
      .withColumn(SystemCols.isDeleted, lit(false))
      .withColumn(SystemCols.isFullLoad, lit(false))
    drain(out.writeStream.format("parquet").option("path", destDir)
      .option("checkpointLocation", checkpointDir))
  }

  /** Streaming CDC: each micro-batch runs ONE full SCD2 sync of the
    * batch's rows as a snapshot source — `readStream → foreachBatch →
    * Synchronizer`, the Spark-native form of "poll the source on a
    * trigger" that the reference schedules externally. Every micro-batch
    * gets the complete engine (delta detection, strange updates, deletes,
    * tombstones, lock, rollback); the stream checkpoint makes re-runs
    * exactly-once at the batch level, and `AvailableNow` turns the same
    * code into a one-shot catch-up. Batches must be FULL SNAPSHOTS of the
    * source: each snapshot is ONE file (`filesPerSnapshot` raises that),
    * and `maxFilesPerTrigger` enforces the one-snapshot-per-batch cut —
    * without it, two accumulated drops would merge into one "snapshot"
    * containing both versions of a key and missing deletes. An EMPTY
    * snapshot file is honored: it deletes everything (full load of zero
    * rows), exactly like handing the engine an empty table. */
  def scd2SyncStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      pks: Seq[String],
      destRoot: String,
      checkpointDir: String,
      cfg: graft.WriteConfig,
      filesPerSnapshot: Int = 1): StreamingQuery = {
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerSnapshot.toString)
      .parquet(sourceDir)
    drainBatches(in, checkpointDir) { (batch, _) =>
      val src = new graft.sources.DataFrameSource(truncate(batch), pks)
      new graft.scd2.Synchronizer(spark, src, destRoot, cfg).execute(): Unit
    }
  }

  /** Stream INTO a foreign Delta table exactly-once: `foreachBatch` lands
    * each micro-batch via
    * [[graft.store.ForeignDeltaTable.appendIdempotent]] with
    * `(appId, batchId)` as the SetTransaction identity — Delta's
    * txnAppId/txnVersion sink pattern. The sink is NOT transactional with
    * the stream checkpoint, so a batch whose foreachBatch committed but
    * whose stream commit never landed (crash between the two) is RE-RUN on
    * restart with the same batchId — the table's own txn watermark then
    * no-ops the replay instead of double-appending. Protects replays under
    * one checkpoint lineage; a deleted/rebuilt checkpoint restarts
    * batchIds and needs a fresh appId like every txnVersion consumer. */
  def deltaSinkStream(
      spark: SparkSession,
      source: DataFrame,
      tablePath: String,
      appId: String,
      checkpointDir: String): StreamingQuery =
    drainBatches(source, checkpointDir) { (batch, batchId) =>
      new graft.store.ForeignDeltaTable(spark, tablePath)
        .appendIdempotent(truncate(batch), appId, batchId): Unit
    }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * stateful-op capability probe (counts + sums per window × event_type).
    * `tsCol` must be a TimestampType column. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming sessionization: Spark's native session_window state merges
    * events into per-key sessions that close once no event lands within
    * `gap` of the window end (the streaming counterpart of the batch
    * [[graft.operators.Temporal.sessionize]]; boundary rule differs by one
    * instant — the streaming window is end-EXCLUSIVE, so an event at gap
    * exactly `gap` opens a new session, while the batch operator's
    * `ts - prev > maxGap` keeps it). The watermark bounds session state:
    * sessions older than it finalize and evict — the 100 TB requirement
    * (unbounded-state sessionization is a driver OOM on any real stream). */
  def sessionCounts(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col(keyCol),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream INTERVAL join: match each left event with the right
    * events of the same key that land inside [left.ts, left.ts + maxDelay]
    * — the attribution / request-response pairing shape (views→purchases,
    * prompts→completions). Both sides carry watermarks, and the time-range
    * condition bounds BOTH buffers: Spark derives from it how long a left
    * row can still find a right match (maxDelay past its watermark) and
    * how long a right row can still find a left initiator, so join state
    * evicts continuously — the 100 TB requirement (an unconstrained
    * stream-stream join buffers both streams forever and OOMs any
    * cluster). Append-mode safe: a match is emitted once both watermarks
    * pass it. Column names are prefixed `l_`/`r_` to keep the two sides'
    * ids distinct in the output. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      maxDelay: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(Seq(col(keyCol).as("l_key"), col(tsCol).as("l_ts")) ++
        left.columns.filterNot(c => c == keyCol || c == tsCol)
          .map(c => col(c).as(s"l_$c")): _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(Seq(col(keyCol).as("r_key"), col(tsCol).as("r_ts")) ++
        right.columns.filterNot(c => c == keyCol || c == tsCol)
          .map(c => col(c).as(s"r_$c")): _*)
    l.join(r, expr(
      s"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL $maxDelay"))
  }

  /** Run the windowed aggregation over a file stream with AvailableNow and
    * collect results to an in-memory sink table; returns its name. */
  def runWindowedAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      tsCol: String,
      queryName: String): StreamingQuery = {
    val agg = windowedCounts(spark.readStream.schema(schema).parquet(sourceDir), tsCol)
    drain(agg.writeStream.format("memory").queryName(queryName).outputMode("complete"))
  }

  /** Rolling DEDUP ingest — the production streaming shape of
    * [[graft.operators.Dedup.exactIncremental]]: per micro-batch, dedup
    * within the batch (min id per normalized-text fingerprint) and
    * materialize those winners ONCE, then drop the winners whose
    * fingerprint exists in the persisted store with ONE probe (the
    * winners' fingerprints broadcast into a semi-join over the store, which
    * is NEVER shuffled; the collected hit set holds at most one entry per
    * distinct batch fingerprint), and append the survivors to `destDir`
    * and their fingerprints to `fpDir`. Batches are totally ordered by the
    * streaming engine, so the kept set is deterministic for a given drop
    * sequence. `foreachBatch` rather than a stateful operator because the
    * fingerprint store must OUTLIVE the query (the next day's run — or a
    * batch engine — reads the same store; flatMapGroupsWithState state is
    * checkpoint-private and unbounded-keyspace state does not evict). */
  def dedupIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      idCol: String,
      textCol: String,
      destDir: String,
      fpDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "dedupIngest", checkpointDir)(
      dedupIngestBatch(_, _, idCol, textCol, destDir, fpDir, _))

  /** One `dedupIngest` micro-batch — EXACTLY-ONCE under foreachBatch's
    * at-least-once retries. Both sinks are [[graft.store.VersionedTable]]s
    * written via `appendIdempotent(appId, batchId)` (the Delta
    * txnAppId/txnVersion pattern): a replayed batch is a manifest-level
    * no-op on whichever sink already applied it.
    *
    * Commit ORDER is load-bearing: destination BEFORE fingerprints. The
    * retry recomputes survivors by probing the fp store, so if the fp
    * append committed first and we crashed before the dest append, the
    * replay would see the batch's own fingerprints already in the store,
    * compute zero survivors, and commit an EMPTY dest batch — silent data
    * loss. With dest-first, a crash between the two commits replays as:
    * survivors identical (fp store unchanged), dest append no-op, fp
    * append applies — the strandable window heals instead of corrupting.
    *
    * Shape: the winners are the batch's only materialization; the probe is
    * one collect of the store's fingerprints that equal a winner's, and
    * the survivors are the winners minus that hit set, filtered in place.
    * The store this method writes holds each non-null fingerprint once, so
    * the collected hits are bounded by the batch's distinct fingerprints —
    * the set the probe already broadcasts. The fingerprint append writes
    * the winners' own `__fp` instead of fingerprinting the text again. */
  private[graft] def dedupIngestBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      destDir: String,
      fpDir: String,
      appId: String): Unit = {
    val s = batch.sparkSession
    // within-batch winners: min id per fingerprint, carrying it as __fp —
    // the batch's one materialization, which the probe and both appends read
    val winners = truncate(batch
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("__fp").orderBy(col(idCol).asc)))
      .filter(col("__rn") === 1).drop("__rn"))
    val fpTable = new VersionedTable(s, fpDir)
    val hits =
      if (!fpTable.exists) Array.empty[String]
      else fpTable.read().select(col("fp").as("__fp"))
        .join(broadcast(winners.select("__fp")), Seq("__fp"), "left_semi")
        .collect().map(_.getString(0)).distinct
    // a null fingerprint (null text) equals no stored one, so a null-text
    // winner always survives; a bare !isin would drop it (null IN … is null)
    val survivors =
      if (hits.isEmpty) winners
      else winners.filter(col("__fp").isNull || !col("__fp").isin(hits.toSeq: _*))
    new VersionedTable(s, destDir).appendIdempotent(survivors.drop("__fp"), appId, batchId)
    fpTable.appendIdempotent(survivors.select(col("__fp").as("fp")), appId, batchId)
  }

  /** STREAMING funnel maintenance (the r14 verdict's operational shape):
    * an AvailableNow drain folds each micro-batch of events into a
    * persisted [[graft.operators.Temporal.funnelState]] table with
    * [[graft.operators.Temporal.funnelFold]] — per-batch cost scales with
    * the batch, never the accumulated key history. Re-running the stream
    * against the same checkpoint is "one more poll"; serve the funnel any
    * time with `Temporal.funnelOf(new VersionedTable(s, stateDir).read())`.
    *
    * Exactly-once: foreachBatch is at-least-once, and re-FOLDING a batch
    * would both double-count and trip the fold's late-data refusal — the
    * state table's `overwriteIdempotent` (txnAppId/txnVersion) makes the
    * replay a no-op instead. Source files must respect the fold contract
    * (each key's later drops strictly after its earlier ones — the
    * append-only ingest convention); a violation fails the batch loudly
    * via the fold's own raise_error. */
  def funnelIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "funnelIngest", checkpointDir)(
      funnelIngestBatch(_, _, keyCol, typeCol, tsCol, steps, stateDir, _))

  private[graft] def funnelIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // a replayed batch must skip the FOLD, not just the commit: re-folding
    // against the already-folded state trips the late-data refusal
    if (replayed(tbl, appId, batchId)) return
    val ev = batch.select(keyCol, typeCol, tsCol)
    val next =
      if (tbl.exists)
        Temporal.funnelFold(tbl.read(), ev, keyCol, typeCol, tsCol, steps)
      else Temporal.funnelState(ev, keyCol, typeCol, tsCol, steps)
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING retention maintenance — the [[funnelIngest]] sibling with a
    * STRONGER contract-freeness story: the retention state is the distinct
    * (key, bucket) activity relation, folds are idempotent and
    * order-independent ([[graft.operators.Temporal.retentionState]]), so
    * batches may arrive late, interleaved, or replayed and the triangle
    * stays exact. The state table is APPEND-ONLY: each micro-batch
    * commits only its genuinely-new rows
    * ([[graft.operators.Temporal.retentionFresh]] — the state is probed
    * via broadcast semi-join, never shuffled, never rewritten), through
    * `appendIdempotent` for exactly-once under foreachBatch retries.
    * Serve any time with
    * `Temporal.retentionOf(new VersionedTable(s, stateDir).read())`. */
  def retentionIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      bucketWidth: Long,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "retentionIngest", checkpointDir)(
      retentionIngestBatch(_, _, keyCol, tsCol, bucketWidth, stateDir, _))

  private[graft] def retentionIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      tsCol: String,
      bucketWidth: Long,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    val ev = batch.select(keyCol, tsCol)
    val delta =
      if (tbl.exists)
        Temporal.retentionFresh(tbl.read(), ev, keyCol, tsCol, bucketWidth)
      else Temporal.retentionState(ev, keyCol, tsCol, bucketWidth)
    tbl.appendIdempotent(truncate(delta), appId, batchId)
  }

  /** STREAMING transition-matrix maintenance — the third sibling
    * (funnel: wholesale overwrite; retention: append-only; transitions:
    * TWO state tables): each micro-batch folds through
    * [[graft.operators.Temporal.transitionFold]] — within-batch keyed
    * leads plus one bridge step per key from the stored frontier — and
    * rewrites the |types|² matrix and the per-key frontier via
    * `overwriteIdempotent` under ONE (appId, batchId) watermark pair, so
    * a foreachBatch replay is a no-op on both (re-folding would
    * double-count AND trip the strictly-later frontier refusal). Serve
    * the matrix by reading `matrixDir` directly. */
  def transitionsIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      tieBreak: String,
      matrixDir: String,
      frontierDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "transitionsIngest", checkpointDir)(
      transitionsIngestBatch(_, _, keyCol, typeCol, tsCol, tieBreak, matrixDir, frontierDir, _))

  /** STREAMING sessionization maintenance — the fourth sibling: each
    * micro-batch sessionizes against the persisted per-key frontier
    * ([[graft.operators.Temporal.sessionizeFold]] — batch-sized keyed
    * windows, history never re-sorted), APPENDS its assigned rows to the
    * assignments table, and rewrites the frontier — both under ONE
    * (appId, batchId) watermark, the frontier LAST. Replay: a
    * fully-applied batch skips the fold (the frontier watermark implies
    * the assignments'; re-folding against the advanced frontier trips
    * the strictly-later refusal); a partial retry (assignments
    * committed, frontier not) re-folds against the OLD frontier — the
    * same assignment — and the append no-ops on its own watermark.
    * Serve sessions any time by reading `assignDir`. */
  def sessionsIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      maxGap: Long,
      tieBreak: String,
      assignDir: String,
      frontierDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "sessionsIngest", checkpointDir)(
      sessionsIngestBatch(_, _, keyCol, tsCol, maxGap, tieBreak, assignDir, frontierDir, _))

  private[graft] def sessionsIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      tsCol: String,
      maxGap: Long,
      tieBreak: String,
      assignDir: String,
      frontierDir: String,
      appId: String): Unit = {
    val s = batch.sparkSession
    val aTbl = new VersionedTable(s, assignDir)
    val fTbl = new VersionedTable(s, frontierDir)
    // fully-applied replay: skip the fold entirely (see scaladoc)
    if (replayed(fTbl, appId, batchId)) return
    val ev = batch.select(keyCol, tsCol, tieBreak)
    val (assigned, f1) =
      if (fTbl.exists)
        Temporal.sessionizeFold(fTbl.read(), ev, keyCol, tsCol, maxGap, tieBreak)
      else Temporal.sessionizeState(ev, keyCol, tsCol, maxGap, tieBreak)
    val (ac, fc) = (truncate(assigned), truncate(f1))
    aTbl.appendIdempotent(ac, appId, batchId)
    fTbl.overwriteIdempotent(fc, appId, batchId)
  }

  /** STREAMING quantile-sketch maintenance — the fifth maintainer: each
    * micro-batch's bucket histogram
    * ([[graft.operators.Sketches.quantileSketchHistogram]]) folds into the
    * persisted one (counts ADD — order-free, late data exact) under an
    * (appId, batchId) watermark; a replayed batch skips the fold via
    * `txnApplied` (an additive re-fold would double-count — the same
    * exactly-once rule as the transition matrix). Serve quantiles any
    * time with `Sketches.quantileSketchOf(table.read(), qs)`. */
  def quantilesIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      groupCol: String,
      valueCol: String,
      mantissaBits: Int,
      histDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "quantilesIngest", checkpointDir)(
      quantilesIngestBatch(_, _, groupCol, valueCol, mantissaBits, histDir, _))

  private[graft] def quantilesIngestBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      valueCol: String,
      mantissaBits: Int,
      histDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, histDir)
    // additive fold: a replayed batch would double-count — skip it
    if (replayed(tbl, appId, batchId)) return
    val h = Sketches.quantileSketchHistogram(
      batch.select(groupCol, valueCol), groupCol, valueCol, mantissaBits)
    val next = if (tbl.exists) Sketches.quantileSketchFold(tbl.read(), h) else h
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING HLL maintenance — the sixth maintainer, and the only one
    * whose fold needs NO replay protection: register maxima are
    * idempotent AND commutative, so a replayed or late batch folds to the
    * bit-identical state by construction — the `txnApplied` guard the
    * additive folds (quantiles, transitions) require is structurally
    * unnecessary here, which is exactly why HLL is the sketch to reach for
    * in at-least-once pipelines. Serve the estimate any time with
    * `Sketches.hllOf(table.read(), p, hashBits)`. */
  def hllIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      groupCol: String,
      hashCol: String,
      p: Int,
      hashBits: Int,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "hllIngest", checkpointDir)(
      hllIngestBatch(_, _, groupCol, hashCol, p, hashBits, stateDir, _))

  private[graft] def hllIngestBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      hashCol: String,
      p: Int,
      hashBits: Int,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // deliberately NO txnApplied skip: a replayed batch max-folds to the
    // identical registers, and the idempotent commit below no-ops — the
    // fold itself is the exactly-once mechanism
    val bs = Sketches.hllRegisterState(
      batch.select(groupCol, hashCol), groupCol, hashCol, p, hashBits)
    val next = if (tbl.exists) Sketches.hllFold(tbl.read(), bs) else bs
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING count-min maintenance — the seventh maintainer: each
    * micro-batch's d×w cell counts fold into the persisted sketch (counts
    * ADD — order-free, late data exact) under the same `txnApplied`
    * replay guard as the quantile histogram (an additive re-fold would
    * double-count). Serve point estimates any time with
    * `Sketches.countMinLookup(table.read(), probes, …)` — the "how often
    * has THIS token/url/key been seen so far" query against a state that
    * never grows past d·w rows. */
  def countMinIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      hashCol: String,
      depth: Int,
      width: Int,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "countMinIngest", checkpointDir)(
      countMinIngestBatch(_, _, hashCol, depth, width, stateDir, _))

  private[graft] def countMinIngestBatch(
      batch: DataFrame,
      batchId: Long,
      hashCol: String,
      depth: Int,
      width: Int,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // additive fold: a replayed batch would double-count — skip it
    if (replayed(tbl, appId, batchId)) return
    val bs = Sketches.countMinState(batch.select(hashCol),
      hashCol, depth, width)
    val next = if (tbl.exists) Sketches.countMinFold(tbl.read(), bs) else bs
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING KMV maintenance — the eighth maintainer, second of the
    * guard-free class: the kept-set fold is distinct-union-then-trim
    * (idempotent like the HLL register max), so replays and late data are
    * exact by construction. One persisted (group, h) state serves BOTH
    * the distinct estimate (`Sketches.kmvOf`) and the pairwise
    * audience-overlap algebra (`Sketches.kmvOverlapOf`) — the
    * two-for-one the KMV keeps over HLL in exchange for its
    * order-dependent state. */
  def kmvIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      groupCol: String,
      hashCol: String,
      k: Int,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "kmvIngest", checkpointDir)(
      kmvIngestBatch(_, _, groupCol, hashCol, k, stateDir, _))

  private[graft] def kmvIngestBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      hashCol: String,
      k: Int,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // no txnApplied skip: trim-folds are idempotent, replays are harmless
    val bs = Sketches.kmvState(batch.select(groupCol, hashCol),
      groupCol, hashCol, k)
    val next = if (tbl.exists) Sketches.kmvFold(tbl.read(), bs, k) else bs
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING Bloom-filter maintenance — the tenth maintainer, third of
    * the guard-free class (HLL register max, KMV trim-fold, Bloom bit OR):
    * each micro-batch's words OR into the persisted filter — idempotent
    * AND commutative, so replays and late data fold to the bit-identical
    * state by construction and no `txnApplied` guard is needed. Serve
    * membership any time with `Sketches.bloomProbe(table.read(), …)` —
    * the at-least-once "have we EVER seen this key/url/fingerprint"
    * pre-filter whose `false` is a proof of absence. */
  def bloomIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      hashCol: String,
      numHashes: Int,
      numBits: Int,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "bloomIngest", checkpointDir)(
      bloomIngestBatch(_, _, hashCol, numHashes, numBits, stateDir, _))

  private[graft] def bloomIngestBatch(
      batch: DataFrame,
      batchId: Long,
      hashCol: String,
      numHashes: Int,
      numBits: Int,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // deliberately NO txnApplied skip: a replayed batch OR-folds to the
    // identical words, and the idempotent commit below no-ops — the fold
    // itself is the exactly-once mechanism (the hllIngest rule)
    val bs = Sketches.bloomState(batch.select(hashCol),
      hashCol, numHashes, numBits)
    val next = if (tbl.exists) Sketches.bloomFold(tbl.read(), bs) else bs
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING decayed-counts maintenance — the twelfth maintainer: each
    * micro-batch advances every key's freshness-weighted score to the
    * batch's own max bucket via `Temporal.decayedCountsFold`. The fold is
    * NOT idempotent AND refuses late data, so this is the r15 fold-replay
    * class in its purest form: a fully-replayed batch MUST be skipped via
    * `txnApplied` BEFORE the fold runs — re-folding against the advanced
    * frontier would trip the late-data refusal rather than no-op. Batches
    * must arrive on bucket boundaries strictly after the persisted
    * frontier (the decayedCountsFold contract). */
  def decayIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      bucketWidth: Long,
      decayNum: Int,
      decayDen: Int,
      stateDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "decayIngest", checkpointDir)(
      decayIngestBatch(_, _, keyCol, tsCol, bucketWidth, decayNum, decayDen, stateDir, _))

  private[graft] def decayIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      tsCol: String,
      bucketWidth: Long,
      decayNum: Int,
      decayDen: Int,
      stateDir: String,
      appId: String): Unit = {
    val tbl = new VersionedTable(batch.sparkSession, stateDir)
    // the fold refuses late data, so a replay cannot no-op through it —
    // the txnApplied skip MUST come first (the r15 fold-replay rule)
    if (replayed(tbl, appId, batchId)) return
    if (batch.isEmpty) return
    val frontier = batch.agg(org.apache.spark.sql.functions.max(
        Temporal.floorDiv(tsCol, bucketWidth)))
      .head().getLong(0)
    val next =
      if (tbl.exists) {
        // the fold reads geometry from the STATE's stamps — a caller whose
        // configured params drifted from the stamped ones must refuse, not
        // silently keep folding with the old decay (or worse, compute the
        // frontier in a different bucket unit than the fold uses)
        val state = tbl.read()
        val m = state.schema("decayed_x").metadata
        require(m.getLong(Temporal.DecayMetaWidth) == bucketWidth &&
          m.getLong(Temporal.DecayMetaNum) == decayNum.toLong &&
          m.getLong(Temporal.DecayMetaDen) == decayDen.toLong,
          s"decayIngest configured width=$bucketWidth decay=$decayNum/$decayDen " +
            s"but the state is stamped width=${m.getLong(Temporal.DecayMetaWidth)} " +
            s"decay=${m.getLong(Temporal.DecayMetaNum)}/${m.getLong(Temporal.DecayMetaDen)} " +
            "— rebuild the state or fix the config")
        Temporal.decayedCountsFold(state, batch, keyCol, tsCol, frontier)
      } else
        Temporal.decayedCounts(batch, keyCol, tsCol, bucketWidth,
          decayNum, decayDen, frontier)
    tbl.overwriteIdempotent(truncate(next), appId, batchId)
  }

  /** STREAMING basket-co-occurrence maintenance — the eleventh
    * maintainer, in the GUARDED additive class (count-min/quantile
    * histogram): each micro-batch's (pairs, items, totals) state folds in
    * by per-key count addition under a `txnApplied` replay guard on the
    * pairs table (which commits LAST — a partial retry re-folds items/
    * totals against their own watermarks, which no-op). CONTRACT
    * (from `Baskets.cooccurrenceState`): batches must consist of WHOLE,
    * NEW baskets — micro-batch on the basket-complete CDC boundary.
    * Serve the support/lift report any time with
    * `Baskets.cooccurrenceOf(pairs.read(), items.read(), totals.read())`. */
  def basketsIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      basketCol: String,
      itemCol: String,
      maxBasketSize: Int,
      pairsDir: String,
      itemsDir: String,
      totalsDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "basketsIngest", checkpointDir)(
      basketsIngestBatch(_, _, basketCol, itemCol, maxBasketSize, pairsDir, itemsDir, totalsDir, _))

  private[graft] def basketsIngestBatch(
      batch: DataFrame,
      batchId: Long,
      basketCol: String,
      itemCol: String,
      maxBasketSize: Int,
      pairsDir: String,
      itemsDir: String,
      totalsDir: String,
      appId: String): Unit = {
    val s = batch.sparkSession
    val pTbl = new VersionedTable(s, pairsDir)
    val iTbl = new VersionedTable(s, itemsDir)
    val nTbl = new VersionedTable(s, totalsDir)
    // additive folds double-count on replay — skip a fully-applied batch
    // via the LAST-committed table's watermark (pairs); a partial retry
    // re-folds the earlier tables, whose own idempotent commits no-op
    if (replayed(pTbl, appId, batchId)) return
    if (batch.isEmpty) return
    val (bp, bi, bn) = Baskets.cooccurrenceState(
      batch.select(basketCol, itemCol), basketCol, itemCol, maxBasketSize)
    val (np, ni, nn) =
      if (pTbl.exists && iTbl.exists && nTbl.exists)
        Baskets.cooccurrenceFold(pTbl.read(), iTbl.read(), nTbl.read(), bp, bi, bn)
      else (bp, bi, bn)
    // materialize ALL THREE before ANY commit: the maxBasketSize refusal
    // rides the PAIRS lineage only, and a deterministic raise after
    // totals/items had committed would leave a state no retry can repair
    // (their idempotent watermarks would forever hide the missing pairs)
    val (npC, niC, nnC) = (truncate(np), truncate(ni), truncate(nn))
    nTbl.overwriteIdempotent(nnC, appId, batchId)
    iTbl.overwriteIdempotent(niC, appId, batchId)
    pTbl.overwriteIdempotent(npC, appId, batchId)
  }

  /** STREAMING gap-fill maintenance — the ninth maintainer: each
    * micro-batch's dense fill rows APPEND to a result table (computed by
    * `Temporal.gapFillContinue` against the persisted per-key frontier,
    * which overwrites LAST — the transitions commit-order rule: a
    * partial-failure retry recomputes fills against the still-old
    * frontier, the append no-ops, the frontier then commits), and a fully
    * replayed batch is skipped via the FRONTIER's `txnApplied` (the
    * r15 fold-replay rule: continuing an applied batch against the
    * ADVANCED frontier would trip the strictly-after refusal before any
    * commit could no-op). Batches must arrive on bucket boundaries (the
    * gapFillContinue contract). */
  def gapFillIngest(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      tieBreak: String,
      bucketWidth: Long,
      mode: String,
      frontierDir: String,
      fillDir: String,
      checkpointDir: String): StreamingQuery =
    drainFolds(spark, sourceDir, schema, "gapFillIngest", checkpointDir)(
      gapFillIngestBatch(_, _, keyCol, tsCol, valueCol, tieBreak, bucketWidth, mode, frontierDir,
        fillDir, _))

  private[graft] def gapFillIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      tieBreak: String,
      bucketWidth: Long,
      mode: String,
      frontierDir: String,
      fillDir: String,
      appId: String): Unit = {
    val s = batch.sparkSession
    val ftbl = new VersionedTable(s, frontierDir)
    val otbl = new VersionedTable(s, fillDir)
    // the frontier commits LAST, so its watermark says the WHOLE batch
    // applied — continuing an applied batch against the advanced frontier
    // would trip the strictly-after refusal (the r15 fold-replay class)
    if (replayed(ftbl, appId, batchId)) return
    if (batch.isEmpty) return
    val fills =
      if (ftbl.exists)
        Temporal.gapFillContinue(ftbl.read(), batch, keyCol, tsCol, valueCol,
          tieBreak, bucketWidth, mode)
      else Temporal.gapFill(batch, keyCol, tsCol, valueCol, tieBreak, bucketWidth, mode)
    val nf =
      if (ftbl.exists)
        Temporal.gapFillFrontierFold(ftbl.read(), batch, keyCol, tsCol, valueCol,
          tieBreak, bucketWidth)
      else Temporal.gapFillFrontier(batch, keyCol, tsCol, valueCol, tieBreak, bucketWidth)
    val (fillsC, nfC) = (truncate(fills), truncate(nf))
    otbl.appendIdempotent(fillsC, appId, batchId)
    ftbl.overwriteIdempotent(nfC, appId, batchId)
  }

  private[graft] def transitionsIngestBatch(
      batch: DataFrame,
      batchId: Long,
      keyCol: String,
      typeCol: String,
      tsCol: String,
      tieBreak: String,
      matrixDir: String,
      frontierDir: String,
      appId: String): Unit = {
    val s = batch.sparkSession
    val mTbl = new VersionedTable(s, matrixDir)
    val fTbl = new VersionedTable(s, frontierDir)
    // fully-applied replay: the frontier commits LAST, so its watermark
    // implies the matrix's — skip the fold entirely (re-folding against
    // the advanced frontier trips the strictly-later refusal). A
    // PARTIALLY-applied retry (matrix committed, frontier not) folds
    // against the OLD frontier — which succeeds — and the matrix
    // overwrite no-ops on its own watermark.
    if (replayed(fTbl, appId, batchId)) return
    val ev = batch.select(keyCol, typeCol, tsCol, tieBreak)
    val (m1, f1) =
      if (mTbl.exists && fTbl.exists)
        Temporal.transitionFold(mTbl.read(), fTbl.read(), ev,
          keyCol, typeCol, tsCol, tieBreak)
      else Temporal.transitionState(ev, keyCol, typeCol, tsCol, tieBreak)
    val (m1c, f1c) = (truncate(m1), truncate(f1))
    mTbl.overwriteIdempotent(m1c, appId, batchId)
    fTbl.overwriteIdempotent(f1c, appId, batchId)
  }
}
