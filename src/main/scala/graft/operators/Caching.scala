package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared persisted-intermediate registry for the pipeline operators:
  * every multi-consumer persist is tracked so batch drivers can release
  * exactly the operator intermediates ([[release]]) instead of nuking the
  * whole session cache. */
private[graft] object Caching {

  /** Give a CPU-dense per-row pipeline the session's full parallelism even
    * when its input arrives in fewer partitions than the cluster has cores
    * — the small-single-file corpus shape: Spark splits a file only at
    * parquet row-group boundaries, so a one-row-group file plans as ONE
    * task and a 64-hash signature pass runs on 1 of N cores (measured 43%
    * of dedup_simhash wall at sf0.1). At scale the scan's own partitioning
    * meets or exceeds the core count and this is the IDENTITY — no shuffle
    * is ever added; when it fires, the round-robin exchange moves only the
    * rows the caller already projected (narrow (id, text) / (id, vec)).
    * The partition probe plans the input physically: for a scan/projection
    * that is driver-side only, but planning a JOIN would execute its
    * broadcast build (and, under AQE, its query stages) with no
    * cross-query reuse. The probe is therefore FENCED: a plan carrying an
    * exchange-bearing operator (join, aggregate, window, global sort,
    * distinct, set op, repartition) is returned UNCHANGED without probing
    * — such a plan already went through a shuffle whose partitioning is
    * `spark.sql.shuffle.partitions`/AQE-sized, so the one-file-one-task
    * scan pathology spread exists for cannot apply, and probing it would
    * silently run its upstream stages twice. */
  def spread(df: DataFrame): DataFrame = {
    if (!probeSafe(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** True when physically planning (`.rdd`) the DataFrame is a driver-side
    * no-op: no operator in the analyzed plan triggers an exchange,
    * broadcast build, or AQE query-stage execution. */
  private[graft] def probeSafe(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Distinct | _: Deduplicate |
           _: Intersect | _: Except | _: RepartitionOperation => true
      case s: Sort => s.global
      case _ => false
    }
  }

  // DataFrame refs are tiny (plans, not data)
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Storage level for operator intermediates (guide §5), overridable per
    * session via `spark.graft.intermediateStorage` (any StorageLevel
    * name). Default stays DISK_ONLY: an interleaved same-JVM A/B at sf0.1
    * (5 reps × 5 heavy dedup gates, r16 opt round) measured
    * MEMORY_AND_DISK_SER as a wash — the sandbox's local disk is
    * page-cache-backed, so DISK_ONLY re-reads are already memory-speed,
    * and the serialized flavor adds encode cost. On a cluster whose local
    * disks are genuinely slow and whose storage memory sits idle,
    * MEMORY_AND_DISK_SER is the right override (unified memory evicts
    * LRU to disk under execution pressure, so it degrades to DISK_ONLY
    * rather than OOMing). */
  private def level(df: DataFrame): org.apache.spark.storage.StorageLevel = {
    val name = df.sparkSession.conf.get("spark.graft.intermediateStorage",
      "DISK_ONLY")
    val l = org.apache.spark.storage.StorageLevel.fromString(name)
    // NONE would silently disable caching — spillPersistEager is a
    // CORRECTNESS device wherever nondeterministic partitioning feeds two
    // actions (range sampling recomputed differently per action), so an
    // uncached intermediate is not a slower run, it is a wrong one
    require(l != org.apache.spark.storage.StorageLevel.NONE,
      "spark.graft.intermediateStorage must not be NONE: operator " +
        "intermediates rely on actually being cached for correctness " +
        "under nondeterministic recomputation")
    l
  }

  def spillPersist(df: DataFrame): DataFrame = {
    val p = df.persist(level(df))
    tracked.add(p)
    p
  }

  /** spillPersist + EAGER materialization. A lazily-persisted plan whose
    * consumers are materialized as CONCURRENT AQE query stages gets
    * recomputed once per racing stage (the cache dedupes storage, not
    * computation — measured 8× duplicate tokenize+simhash runs in one
    * gate). At 100 TB that race would duplicate the corpus pass; forcing
    * the cache once up front is the scale-correct shape, not a bench
    * tweak. Also REQUIRED for correctness wherever a nondeterministic
    * partitioning (range sampling) feeds two actions. */
  def spillPersistEager(df: DataFrame): DataFrame = {
    val p = spillPersist(df)
    p.count()
    p
  }

  /** Eager lineage-truncating checkpoint, the one way graft cuts a plan
    * (an iterative loop's round references the previous round's plan
    * twice, so without it the plan doubles per round — exponential
    * analyzer cost long before data size matters). Reliable (written under
    * the session's checkpoint dir, so a lost executor leaves data to
    * recompute from) when the caller configured one, executor-local
    * otherwise. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Unpersist every tracked intermediate registered since the last call.
    * PROCESS-WIDE: call between batches, not while another pipeline's
    * returned DataFrame is still un-consumed on a different thread — its
    * intermediates would be released too (re-execution then recomputes;
    * all operators are deterministic under recomputation, so results stay
    * correct, just slower). */
  def release(): Unit = {
    var d = tracked.poll()
    while (d != null) { d.unpersist(blocking = false); d = tracked.poll() }
  }
}
