package graft.scd2

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft._
import graft.sources.{Source, SourceState}
import graft.store.{Fs, SchemaEvolution, VersionedTable}

/** Destination layout — the SCD2 history plus the four auxiliary snapshot
  * tables (reference write_init.py:49-61). */
final class SyncDestination(spark: SparkSession, rawRoot: String) {
  /** Destination root, with Databricks `/dbfs/…` fuse paths normalized to
    * the `dbfs:/` scheme (graft.store.Fs.normalize). */
  val root: String = graft.store.Fs.normalize(rawRoot)
  /** The SCD2 history table. A graft-created destination is a
    * [[VersionedTable]]; a path holding a FOREIGN `_delta_log` (an
    * existing odbc2deltalake deployment's `dest/delta`, or any table
    * delta-spark/delta-rs wrote) with no `_graft_log` is continued
    * in place through [[graft.store.ForeignDeltaTable]] — real Delta
    * commits, readable by the original clients throughout. */
  val delta: graft.store.HistoryTable = {
    val p = s"$root/delta"
    val fsu = new Fs(spark, p)
    if (!fsu.exists(new HPath(p, "_graft_log")) &&
        graft.store.DeltaTable.isDeltaTable(spark, p))
      new graft.store.ForeignDeltaTable(spark, p)
    else new VersionedTable(spark, p)
  }
  val delta1 = new VersionedTable(spark, s"$root/delta_load/delta_1")
  val delta2 = new VersionedTable(spark, s"$root/delta_load/delta_2")
  val primaryKeysTs = new VersionedTable(spark, s"$root/delta_load/primary_keys_ts")
  val latestPkVersion = new VersionedTable(spark, s"$root/delta_load/latest_pk_version")
  /** Structured run log (reference delta_logger.py:13-43; dest/log). */
  val log = new graft.store.LogTable(spark, s"$root/log", root)

  private val fsu = new Fs(spark, root)
  private def metaDir = { val p = new HPath(root, "meta"); fsu.mkdirs(p); p }
  private def lockPath = new HPath(metaDir, "lock.txt")

  /** Lock with 1-hour staleness takeover (reference db_to_delta.py:218-229).
    * Acquisition is atomic where the filesystem supports CREATE_NEW
    * (local/HDFS) so two concurrent writers can't both win; a stale lock is
    * deleted and acquisition retried exactly once. */
  def acquireLock(staleAfterSec: Long = 3600): Unit = {
    if (fsu.createNew(lockPath)) return
    val ageSec =
      try (System.currentTimeMillis() - fsu.mtime(lockPath)) / 1000
      catch { case _: java.io.FileNotFoundException => Long.MaxValue } // holder just released
    if (ageSec > staleAfterSec) {
      fsu.deleteIfExists(lockPath)
      if (fsu.createNew(lockPath)) return
    }
    throw new IllegalStateException(s"destination $root is locked (lock.txt age ${ageSec}s)")
  }
  def releaseLock(): Unit = fsu.deleteIfExists(lockPath)

  /** Schema snapshot persisted each run (reference db_to_delta.py:187-200):
    * a JSON array with each column's type in BOTH dialects — `data_type`
    * is the local/target type (Spark SQL DDL), `data_type_src` the source
    * catalog's declared SQL type (reference _transform_dt renders
    * data_type/data_type_src through sqlglot the same way). The full Spark
    * schema is also kept under `spark_schema` for programmatic reads. */
  def writeSchemaJson(cols: Seq[ColInfo], cfg: WriteConfig): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val arr = root.putArray("columns")
    val fields = cols.map { c =>
      val target = Projection.targetType(c, cfg)
      val o = arr.addObject()
      o.put("column_name", c.name)
      o.put("target_name", cfg.getTargetName(c))
      o.put("data_type", target.sql)
      o.put("data_type_src", c.sourceType.getOrElse(c.dataType.sql))
      o.put("nullable", c.nullable)
      o.put("is_identity", c.isIdentity)
      o.put("is_row_start", c.isRowStart)
      StructField(cfg.getTargetName(c), target, nullable = true)
    }
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "spark_schema", mapper.readTree(StructType(fields).json))
    fsu.writeString(new HPath(metaDir, "schema.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  def vacuumAux(): Unit =
    Seq(delta1, delta2, primaryKeysTs, latestPkVersion).foreach(_.vacuum())
}

/** The sync engine: maintains an SCD2 history of `source` at `destRoot`.
  * One instance per (source, destination); `execute()` is one run — the
  * Spark-native re-expression of the reference's
  * `write_db_to_delta(...).execute()` (reference __init__.py:14-25,
  * db_to_delta.py:178-286).
  *
  * All relational work is declared through the DataFrame API (anti joins,
  * EXCEPT, window dedup, unions) and optimized by Catalyst; the reference's
  * generated-SQL string layer disappears entirely.
  */
final class Synchronizer(
    spark: SparkSession,
    source: Source,
    destRoot: String,
    cfg: WriteConfig = WriteConfig()) {

  val dest = new SyncDestination(spark, destRoot)

  // ------------------------------------------------------------ resolution
  // (reference write_init.py:144-167,262-286 make_writer "analysis phase")

  /** The source as resolved for one run: column discovery, the state
    * probe and the load read share ONE resolution of it (a file source
    * lists its files and infers its schema once per run). */
  private final class Resolved(val src: graft.sources.Resolution) {
    val cols: Seq[ColInfo] = src.columns
    val pkCols: Seq[ColInfo] = {
      val declared = source.primaryKeys(spark).map(_.toLowerCase).toSet
      cols.filter(c => declared(c.name.toLowerCase))
    }
    val deltaCol: Option[ColInfo] = cfg.deltaCol match {
      case Some(name) => cols.find(_.name.equalsIgnoreCase(name)).orElse(
        throw new IllegalArgumentException(s"delta column $name not in source"))
      case None =>
        // auto-detect: a generated row-start col, else the Postgres xid/xmin
        // system column when the catalog surfaced one (reference
        // write_init.py:222-251 uses xmin as the delta col for physical
        // tables), else an identity col for append_inserts
        // (reference write_init.py:144-167, db_to_delta.py:236-243)
        cols.find(_.isRowStart)
          // only when the xid double-cast applies: a user mapping of xid to a
          // non-numeric type would make a lexicographic watermark (wrong)
          .orElse(cols.find(c => c.sourceType.exists(_.equalsIgnoreCase("xid")) &&
            Projection.targetType(c, cfg) == org.apache.spark.sql.types.LongType))
          .orElse(
            if (cfg.loadMode == LoadMode.AppendInserts && pkCols.size == 1 && pkCols.head.isIdentity)
              Some(pkCols.head)
            else None)
    }
    /** The source with P1 pushed into its remote SQL when it supports that
      * (JDBC): trims/caps/casts then run IN the source DB and converted
      * bytes ship over the wire (reference db_to_delta.py:54-164). Columns
      * fully converted source-side are only ALIASED by the Spark-side
      * projection (re-applying trim/cap is not idempotent when a cap lands
      * on whitespace); columns the dialect couldn't render stay fully
      * Spark-side — either way results match the no-pushdown plan. */
    val (effSource: graft.sources.Source, pushedCols: Set[String]) = source match {
      case p: graft.sources.ProjectionPushdown if cfg.sourceSideProjection =>
        p.pushedProjection(cols, cfg).getOrElse((source, Set.empty[String]))
      case _ => (source, Set.empty[String])
    }
    /** The load read, before the transformation hook. */
    lazy val load: DataFrame = if (effSource eq source) src.read else effSource.read(spark)
  }

  @volatile private var resolved: Resolved = null

  /** Resolves the source afresh; every [[execute]] starts here, so each
    * run sees the source's current data. */
  private def resolveSource(): Resolved = {
    val r = labeled("source: resolve")(new Resolved(source.resolve(spark)))
    resolved = r
    r
  }

  /** The current run's resolution; resolved on first use when a caller
    * inspects the writer before its first run. */
  private def run: Resolved = Option(resolved).getOrElse(synchronized {
    Option(resolved).getOrElse(resolveSource())
  })

  def cols: Seq[ColInfo] = run.cols
  def pkCols: Seq[ColInfo] = run.pkCols
  def deltaCol: Option[ColInfo] = run.deltaCol

  def targetName(c: ColInfo): String = cfg.getTargetName(c)
  def targetPks: Seq[String] = pkCols.map(targetName)
  def targetDelta: Option[String] = deltaCol.map(targetName)
  /** (pks..., delta_col) — the shape of every snapshot table. The delta col
    * may BE a pk (identity-pk append_inserts) — dedupe. */
  private def pkd: Seq[String] = (targetPks ++ targetDelta.toSeq).distinct

  private def effSource: graft.sources.Source = run.effSource
  private def pushedCols: Set[String] = run.pushedCols

  /** Source read with the per-stage transformation hook applied (reference
    * spark_reader.py:97,111-113 — stage "sql2delta" = table loads,
    * "source2py" = driver-side scalar probes). */
  private def readSource(stage: String): DataFrame =
    cfg.transformationHook(run.load, stage)

  private def srcProjected: DataFrame =
    Projection.select(readSource("sql2delta"), cols, cfg, pushedCols)

  /** Per-column conversion over a PUSHED read: idempotent cast + rename
    * when the source already ran the chain, full sourceConvert otherwise.
    * (Reads of the ORIGINAL source — e.g. the unhooked state probe — keep
    * using Projection.sourceConvert directly.) */
  private def convertOrAlias(c: ColInfo): Column =
    if (pushedCols(c.name)) Projection.aliasConverted(c, cfg)
    else Projection.sourceConvert(c, cfg)

  /** Test-only failure injection: invoked with a step label at the
    * committed step boundaries of [[deltaLoad]] ("mid_step2",
    * "after_step2", "after_step3", "after_step4"). A spec-installed hook
    * that throws simulates a crash between steps; the default is a no-op
    * (reference tests/test_12 probes the same window by mutating the
    * source mid-load). */
  private[graft] var failpoint: String => Unit = _ => ()

  /** Engine clock, strictly monotonic per JVM: SCD2 ordering relies on
    * `__timestamp` strictly increasing across load steps even when steps run
    * within one millisecond. */
  private def nowTs: java.sql.Timestamp = new java.sql.Timestamp(Synchronizer.nextMillis())

  /** Label the Spark jobs `body` runs with the engine step that issued them
    * (guide §1.5): job-level attribution in the UI / JobTrace, zero effect
    * on semantics. Restores the caller's own description afterwards; the
    * async helper snapshots the label at spawn, so overlapped steps carry
    * their own names. */
  private def labeled[A](step: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"scd2 $step")
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  // concurrent-action helpers: Spark sessions are thread-safe, and a delta
  // run's wall clock is dominated by SEQUENTIAL fixed action latency
  // (planning + commit), so independent probes/writes overlap. A DEDICATED
  // pool, not ExecutionContext.global: global's threads inherit Spark's
  // InheritableThreadLocal localProperties from whichever caller happened to
  // spawn them, making job-group / scheduler-pool attribution of the
  // overlapped actions nondeterministic. Each task instead snapshots the
  // caller's attribution keys and applies them explicitly.
  private implicit def ec: scala.concurrent.ExecutionContext = Synchronizer.syncEc

  /** An overlapped Spark action plus the unique job TAG its jobs carry.
    * Tags are additive (`SparkContext.addJobTag`), so the caller's own
    * job-group / pool attribution — propagated above — is untouched; the
    * tag exists solely as `await`'s cancellation handle. */
  private final case class SyncTask[A](future: scala.concurrent.Future[A], tag: String)

  private def async[A](body: => A): SyncTask[A] = {
    val sc = spark.sparkContext
    val props = Synchronizer.propagatedKeys.map(k => k -> sc.getLocalProperty(k))
    val tag = s"graft-sync-${java.util.UUID.randomUUID()}"
    val fut = scala.concurrent.Future {
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        Synchronizer.propagatedKeys.foreach(k => sc.setLocalProperty(k, null))
      }
    }
    SyncTask(fut, tag)
  }

  /** Finite (generous) timeout: a wedged overlapped write surfaces as an
    * error the rollback path can handle instead of hanging the sync forever.
    * On timeout the task's in-flight jobs are cancelled BY TAG and the
    * future is waited to settlement before the timeout propagates — an
    * orphaned step-1 write must never commit AFTER a rollback restored the
    * table it targets (watermark resurrection; see the settle-before-
    * rollback note in deltaLoad). The post-cancel wait is unbounded, but it
    * only spans the cancelled jobs' teardown, restoring the settlement
    * guarantee the previous Duration.Inf await provided. */
  private def await[A](t: SyncTask[A]): A =
    try scala.concurrent.Await.result(t.future, scala.concurrent.duration.Duration(2L, "hours"))
    catch {
      case e: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobsWithTag(t.tag)
        try scala.concurrent.Await.ready(t.future, scala.concurrent.duration.Duration.Inf)
        catch { case _: InterruptedException => () }
        throw e
    }

  /** Waits for `t` and swallows its failure: the failure the caller is
    * already propagating takes precedence. */
  private def settle(t: SyncTask[_]): Unit = try await(t) catch { case _: Throwable => () }

  /** Runs `body` on the caller thread beside the already-spawned `tasks`,
    * then awaits them in order. Every task has settled before this returns
    * or throws, whichever side fails first — the settle-before-rollback
    * invariant of [[deltaLoad]]. */
  private def beside[A](tasks: SyncTask[_]*)(body: => A): A = {
    val r =
      try body
      catch { case e: Throwable => tasks.foreach(settle); throw e }
    tasks.zipWithIndex.foreach { case (t, i) =>
      try await(t)
      catch { case e: Throwable => tasks.drop(i + 1).foreach(settle); throw e }
    }
    r
  }

  private def awaitBoth[A, B](a: => A)(b: => B): (A, B) = {
    val fa = async(a)
    val rb = beside(fa)(b) // second runs on the caller thread
    (await(fa), rb)
  }

  // --------------------------------------------------------------- dispatch

  /** One sync run (reference db_to_delta.py:178-286). */
  def execute(): LoadResult = {
    dest.acquireLock()
    try {
      resolveSource()
      val pkVersionBefore = dest.latestPkVersion.latestVersion
      val pkTsVersionBefore = dest.primaryKeysTs.latestVersion
      try {
        dest.writeSchemaJson(cols, cfg)
        dest.log.info(s"starting sync (mode=${cfg.loadMode})", load = cfg.loadMode.toString)
        val result =
          if (!dest.delta.exists || cfg.loadMode == LoadMode.Overwrite)
            fullLoad(overwriteTarget = true)
          else cfg.loadMode match {
            case LoadMode.AppendInserts => appendInserts()
            case _ if deltaCol.isEmpty || pkCols.isEmpty || cfg.loadMode == LoadMode.ForceFull =>
              fullLoad(overwriteTarget = false)
            case LoadMode.SimpleDelta => simpleDelta(check = false)
            case LoadMode.SimpleDeltaCheck => simpleDelta(check = true)
            case _ => deltaLoad()
          }
        dest.vacuumAux()
        dest.log.info(s"done: $result", load = cfg.loadMode.toString)
        result
      } catch {
        case e: Throwable =>
          // rollback BOTH snapshot tables to their pre-run versions: step 1
          // overwrites primary_keys_ts before step 4 touches latest_pk_version,
          // so restoring only the latter would leave a watermark the source
          // already passed — the next run's short-circuit would then silently
          // skip the rows in between (data loss; see ADVICE r1 / reference
          // db_to_delta.py:269-286 which shares the exposure).
          pkVersionBefore.foreach { v =>
            if (dest.latestPkVersion.latestVersion.exists(_ > v)) dest.latestPkVersion.restore(v)
          }
          pkTsVersionBefore match {
            case Some(v) =>
              if (dest.primaryKeysTs.latestVersion.exists(_ > v)) dest.primaryKeysTs.restore(v)
            case scala.None =>
              // first delta load after a full load: primary_keys_ts did not
              // exist before this run, so there is no version to restore —
              // DROP it instead. Leaving the step-1 snapshot behind would
              // advance the watermark past rows step 2 never committed, and
              // the next run's (max, count) short-circuit would silently
              // skip them (data loss; the restore branch above guards the
              // same channel for re-runs).
              if (dest.primaryKeysTs.exists) dest.primaryKeysTs.dropTable()
          }
          dest.log.error(s"sync failed, snapshots rolled back", e)
          throw e
      }
    } finally {
      dest.log.flush()
      dest.releaseLock()
    }
  }

  // -------------------------------------------------------------- full load

  /** Full load (reference db_to_delta.py:1254-1326): project + system cols,
    * write history, rebuild latest_pk_version from the new snapshot (P8). */
  def fullLoad(overwriteTarget: Boolean): LoadResult = {
    val ts = nowTs
    // the loaded-row count rides the write as an Observation — no re-scan
    val obs = org.apache.spark.sql.Observation()
    val v = labeled("full-load: history write") {
      val proj = Projection.withSystemCols(
        srcProjected, isDeleted = false, isFullLoad = true, ts = lit(ts))
        .observe(obs, count(lit(1)).as("n"))
      if (overwriteTarget) dest.delta.overwrite(proj)
      else dest.delta.append(proj, cfg.allowSchemaDrift)
    }
    if (pkCols.nonEmpty && deltaCol.nonEmpty)
      labeled("full-load: latest_pk rebuild")(writeLatestPkFromFull(v))
    LoadResult.FullLoad(obs.get("n").asInstanceOf[Long])
  }

  /** latest_pk_version ← rows of the full-load snapshot just committed as
    * version `v` (P8/A6, reference db_to_delta.py:1290-1325). Reads ONLY
    * that commit's files — the full load IS the newest full snapshot by
    * construction, so no history-wide max-timestamp scan is needed
    * (round-2 verdict: the old form scanned the whole history twice). */
  private def writeLatestPkFromFull(v: Long): Unit = {
    val snap = dest.delta.readCommit(v)
      .filter(col(SystemCols.isFullLoad))
      .select(pkd.map(col): _*)
    dest.latestPkVersion.overwrite(snap)
  }

  // ------------------------------------------------------------- delta load

  /** A1: local (MAX(delta_col), COUNT) from the last pk snapshot, falling back
    * to the history table (reference load_infos.py:11-41). Answered from
    * the table's manifest stats when they are exact for it (no Spark job),
    * else by an aggregate over the table. */
  def localState(): SourceState = labeled("state: local (max, count)") {
    val dc = targetDelta.get
    val t: graft.store.HistoryTable =
      if (dest.primaryKeysTs.exists) dest.primaryKeysTs else dest.delta
    val fromStats = t match {
      case v: VersionedTable => v.countMaxFromStats(dc)
      case _ => scala.None
    }
    fromStats.map { case (n, m) => SourceState(m, n) }.getOrElse {
      val row = t.read().agg(max(col(dc)).as("m"), count(lit(1)).as("c")).head()
      SourceState(row.get(0), row.getLong(1))
    }
  }

  /** A2: same pair against the source (reference load_infos.py:44-70),
    * answered from the run's resolution. Computed over the hooked read so
    * a row-filtering hook keeps change detection consistent with what the
    * loads actually ingest; without a hook this is exactly Source.state's
    * pushed-down aggregate. */
  def sourceState(): SourceState = labeled("state: source (max, count)")(stateOf(run))

  private def stateOf(r: Resolved): SourceState =
    if (cfg.transformationHook eq WriteConfig.noHook)
      r.src.state(Projection.sourceConvert(r.deltaCol.get, cfg))
    else graft.sources.Resolution.stateOf(
      cfg.transformationHook(r.load, "source2py"), convertOrAlias(r.deltaCol.get))

  /** The default delta algorithm, steps 1–4 (reference db_to_delta.py:483-692;
    * SURVEY.md §3.2), run as a step graph: each read-only probe runs beside
    * the commit it does not depend on.
    *
    *   - step 1 (primary_keys_ts) ∥ step 2's delta_1 write;
    *   - step 2's history append ∥ step 3's strange-pk probe, which reads
    *     only primary_keys_ts, the old latest_pk_version and delta_1;
    *   - step 3's history append ∥ step 4's latest_pk_version write ∥ the
    *     tombstone write, whose delete set reads step 4's INPUTS, not its
    *     output. The tombstones are written as STAGED history files that
    *     no reader sees, and their count rides the write as an
    *     Observation;
    *   - last, once that group has settled: the staged tombstones are
    *     published as the history's next version when there are any, and
    *     deleted otherwise.
    *
    * The history commits keep their order — delta_1 rows, then strange
    * rows, then tombstones — because each is published after the previous
    * one. latest_pk_version may commit before the step-3 history append;
    * the rollback in [[execute]] restores it either way. Every overlapped
    * task settles before control leaves its group ([[beside]]), so no
    * in-flight commit can land after the rollback restored its table, and
    * a run that fails before the publish deletes its staged tombstones. */
  def deltaLoad(): LoadResult = {
    // pre-checks ---------------------------------------------------------
    if (schemaDriftForcesFull()) return fullLoad(overwriteTarget = false)
    if (!dest.latestPkVersion.exists) {
      if (!restoreLastPk()) return fullLoad(overwriteTarget = false)
    }
    val persistedPkCols = dest.latestPkVersion.schema.fieldNames.map(_.toLowerCase).toSet
    if (persistedPkCols != pkd.map(_.toLowerCase).toSet)
      return fullLoad(overwriteTarget = false) // pk set changed (db_to_delta.py:534-542)

    val oldPkVersion = dest.latestPkVersion.requireVersion
    // the two state probes are independent single-row aggregates — run them
    // as concurrent actions: a delta run pays ~10 sequential Spark actions
    // of mostly fixed (planning + commit) latency, so overlapping the
    // independent ones shaves wall clock without touching semantics
    val (local, src) = awaitBoth(localState())(sourceState())
    if (src.sameAs(local)) return LoadResult.NoLoad // short-circuit (db_to_delta.py:560-566)

    val dc = targetDelta.get
    // ONE load read for steps 1–3, from the run's resolution: a file
    // source was listed and its schema inferred once, by resolveSource,
    // for column discovery, the state probe and these steps alike.
    val load = labeled("step1: pk+ts snapshot write")(readSource("sql2delta"))
    val projected = Projection.select(load, cols, cfg, pushedCols)

    // step 1: pk+delta snapshot of the source (db_to_delta.py:575-579,862-890)
    // — independent of step 2's delta_1 write (different aux tables, both
    // pure source scans), so the two writes overlap
    val step1 = async {
      labeled("step1: pk+ts snapshot write") {
        dest.primaryKeysTs.overwrite(
          load.select((pkCols ++ deltaCol.toSeq).distinct.map(convertOrAlias): _*))
      }
    }

    // step 2: rows with delta_col beyond the local watermark → delta_1 →
    // append to history (db_to_delta.py:584-610). Row count rides the
    // write as an Observation (CollectMetrics in the write plan) — no
    // second scan of what was just written, at any scale.
    val inserts = try {
      val updates = Projection.withSystemCols(
        Option(local.deltaMax).map(v => projected.filter(col(dc) > lit(v))).getOrElse(projected),
        isDeleted = false, isFullLoad = false, ts = lit(nowTs))
      val obsIns = org.apache.spark.sql.Observation()
      labeled("step2: delta_1 write")(
        dest.delta1.overwrite(updates.observe(obsIns, count(lit(1)).as("n"))))
      val n = obsIns.get("n").asInstanceOf[Long]
      failpoint("mid_step2") // delta_1 written, history append NOT committed
      n
    } catch {
      // the concurrent step-1 write MUST settle before the rollback can
      // restore primary_keys_ts: a commit landing after the restore would
      // resurrect the overwritten watermark
      case e: Throwable => settle(step1); throw e
    }
    // the history append ∥ step 3's probe, which waits for the step-1
    // snapshot and reads delta_1 but not the history
    val strange = awaitBoth {
      if (inserts > 0) labeled("step2: history append")(
        dest.delta.append(dest.delta1.read(), cfg.allowSchemaDrift))
    } { await(step1); probeStrange(oldPkVersion) }._2
    try {
      failpoint("after_step2") // history append + pk/ts snapshot committed

      // step 3: out-of-band ("strange") updates (db_to_delta.py:995-1184)
      val (strangeCount, strangeAppend, newWatermark) =
        stageStrange(strange, local.deltaMax, projected)
      val upperBound = newWatermark.orElse(Option(local.deltaMax))

      // step 3's history append ∥ step 4 ∥ the staged tombstone write
      // (step 3.5, db_to_delta.py:620-629,749-859). The final count check's
      // target count rides the step-4 write as an Observation (deletes only
      // append history tombstones; the snapshot is unchanged afterwards).
      // The tombstones' schema and clock are taken before the group starts:
      // the history schema is settled by step 2's append, and their
      // __timestamp follows delta_2's.
      val obsDel = org.apache.spark.sql.Observation()
      val tombstones = Projection.tombstones(deletedPks(oldPkVersion, upperBound),
        dest.delta.schema, ts = lit(nowTs)).observe(obsDel, count(lit(1)).as("n"))
      var staged: Option[graft.store.StagedWrite] = scala.None
      try {
        val step3 = async(strangeAppend.foreach { case (step, rows) =>
          labeled(step)(dest.delta.append(rows, cfg.allowSchemaDrift))
        })
        val obsPk = org.apache.spark.sql.Observation()
        val step4 = async(labeled("step4: latest_pk write")(dest.latestPkVersion.overwrite(
          latestPkQuery(upperBound).observe(obsPk, count(lit(1)).as("n")))))
        beside(step3, step4) {
          staged = Some(labeled("step3.5: delete probe")(
            dest.delta.stage(tombstones, cfg.allowSchemaDrift, overwrite = false)))
        }
        val targetCount = obsPk.get("n").asInstanceOf[Long]
        failpoint("after_step3") // strange-row history appends committed
        failpoint("after_step4") // latest_pk_version overwritten, tombstones staged

        // the tombstones, the last commit
        val deletes = obsDel.get("n").asInstanceOf[Long]
        if (deletes > 0) labeled("step3.5: tombstone publish")(staged.get.publish())

        // final count check; on mismatch re-probe the source — a mid-load
        // mutation is expected (dirty run), anything else warrants attention
        // (reference db_to_delta.py:641-658)
        val dirty = targetCount != src.count
        if (dirty) {
          // a fresh resolution: the source as it is NOW, not as this run read it
          val fresh = labeled("state: source (max, count)")(
            stateOf(new Resolved(source.resolve(spark))))
          dest.log.warn(
            s"count mismatch after load: target=$targetCount, source-at-start=${src.count}, " +
              s"source-now=${fresh.count}" +
              (if (fresh.count != src.count) " (source changed mid-load)" else ""),
            load = "delta")
        }
        LoadResult.DeltaLoad(inserts, strangeCount, deletes, dirty)
      } finally staged.foreach(_.discard())
    } finally strange.pks.unpersist()
  }

  /** True when the source grew columns the target lacks → full load
    * (reference db_to_delta.py:496-508); incompatible type changes raise per
    * drift policy (test_11_schema_drift.py:89-102). */
  private def schemaDriftForcesFull(): Boolean = {
    val target = dest.delta.schema
    val targetLower = target.fieldNames.map(_.toLowerCase).toSet
    val incoming = cols.map(c =>
      StructField(targetName(c), Projection.targetType(c, cfg), nullable = true))
    // raises on incompatible change:
    incoming.filter(f => targetLower(f.name.toLowerCase)).foreach { f =>
      val old = target.fields.find(_.name.equalsIgnoreCase(f.name)).get
      if (old.dataType != f.dataType) cfg.allowSchemaDrift match {
        case SchemaDrift.None => throw new IllegalArgumentException(
          s"schema drift disabled: ${f.name} ${old.dataType.simpleString} → ${f.dataType.simpleString}")
        case _ => SchemaEvolution.widen(old.dataType, f.dataType) // raises if not widenable
      }
    }
    incoming.exists(f => !targetLower(f.name.toLowerCase))
  }

  /** `left ∖ right` as a null-safe LEFT ANTI join on `keys` — EXCEPT's
    * result for a `left` that is already key-unique, minus EXCEPT's
    * trailing Distinct, which costs one more full exchange+aggregate pass
    * per probe (Catalyst rewrites EXCEPT to Distinct(LeftAnti(...))).
    * Every caller's left side is an engine snapshot relation holding ONE
    * row per pk by construction (primary_keys_ts and latest_pk_version are
    * written from pk-unique sources / the disjoint latest-pk union; the
    * scd2 oracle gates hash-verify the resulting histories), so the
    * Distinct was a no-op pass. Null-safe equality (`<=>`) keeps EXCEPT's
    * null-matching semantics for nullable delta columns. */
  private def antiOn(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val r = right.select(keys.map(k => col(k).as(s"__r_$k")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _)
    left.join(r, cond, "left_anti")
  }

  /** Step 3's probe result: `pks` holds the strange pks, `additional` the
    * (pk, delta_col) tuples they come from, and `inline` the pks themselves
    * when there are at most `inlineJoinThreshold` of them. */
  private final case class Strange(
      additional: DataFrame, pks: DataFrame, inline: Option[Array[org.apache.spark.sql.Row]])

  /** Step 3's probe (reference db_to_delta.py:995-1184
    * `_handle_additional_updates`). "Strange" rows changed without moving
    * the delta column forward (e.g. restore-from-backup): (pk, delta_col)
    * tuples in the fresh snapshot that are neither in the old
    * latest_pk_version nor already captured by step 2 (pks vs delta_1).
    * One bounded job collects at most `inlineJoinThreshold + 1` pks
    * ([[takeAtMost]]); with `noComplexEntriesLoad` none are collected. */
  private def probeStrange(oldPkVersion: Long): Strange = {
    val lastPk = dest.latestPkVersion.readVersion(oldPkVersion)
    val additional = antiOn(
      dest.primaryKeysTs.read().select(pkd.map(col): _*),
      lastPk.select(pkd.map(col): _*), pkd)
    val pks = antiOn(
      additional.select(targetPks.map(col): _*),
      dest.delta1.read().select(targetPks.map(col): _*), targetPks)
    val threshold = math.min(math.max(cfg.inlineJoinThreshold, 0L), Int.MaxValue - 1L).toInt
    val inline =
      if (cfg.noComplexEntriesLoad) scala.None
      else Some(labeled("step3: strange-pk probe")(takeAtMost(pks, threshold + 1)))
        .filter(_.length <= threshold)
    Strange(additional, pks, inline)
  }

  /** At most `n` rows of `df` in ONE job: each partition yields its first
    * `n`, and the first `n` of the collected rows are kept. (`limit(n).collect()`
    * runs as Spark's incremental take, a second job whenever the first
    * partition holds fewer than `n` rows.) */
  private def takeAtMost(df: DataFrame, n: Int): Array[org.apache.spark.sql.Row] =
    df.rdd.mapPartitions(_.take(n)).collect().take(n)

  /** A violation of the pk-unique source contract the engine relies on. */
  private def pkContractBroken(detail: String): Nothing =
    throw new IllegalStateException(
      s"source violates its primary-key contract on ${targetPks.mkString(", ")}: $detail")

  /** Step 3's staging writes. Small sets fetch full rows by joining the
    * source against the probed pks as a local relation (the Spark-native
    * form of the reference's OPENJSON literal-set join,
    * db_to_delta.py:907-992 — no 7000-char SQL chunking needed) into
    * delta_2; large sets fall back to a watermark re-scan from
    * MIN(delta_col) into delta_1 (db_to_delta.py:1105-1146). Returns the
    * strange-pk count, the rows the step appends to history with the
    * append's step label (the append runs beside step 4), and the new
    * watermark for step 4, if any. */
  private def stageStrange(strange: Strange, localMax: Any, projected: DataFrame)
      : (Long, Option[(String, DataFrame)], Option[Any]) = {
    val dc = targetDelta.get
    strange.inline match {
      case Some(rows) if rows.isEmpty =>
        dest.delta2.overwriteEmpty(dest.delta1.schema)
        (0L, scala.None, scala.None)
      case Some(rows) =>
        // the probed pks come from primary_keys_ts, one row per pk under
        // the contract: a repeat means the source holds a duplicated pk
        // (checked on the collected rows, so no job is added)
        val distinctPks = rows.iterator.map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).toSet.size
        if (distinctPks != rows.length)
          pkContractBroken(s"${rows.length - distinctPks} repeated strange pk(s)")
        // inline path (J3): fetch ONLY the strange rows. A source that can
        // push a pk IN-list into its remote SQL (live JDBC — the
        // reference's OPENJSON literal-set join with its 7000-char chunk
        // rule, db_to_delta.py:907-992) ships just those rows over the
        // wire instead of streaming the whole table through the JDBC scan;
        // other sources (parquet harness) scan-and-broadcast-join, which
        // already prunes at the Spark scan. Either way the broadcast tuple
        // join below still applies — IT is the correctness filter; the
        // pushed IN-list is bandwidth pruning under a superset contract,
        // so a dialect quirk can only over-fetch, never corrupt.
        val restricted: Option[DataFrame] = effSource match {
          case p: graft.sources.PkPushdown =>
            p.readForPks(spark, pkCols, cfg, pushedCols, rows.toSeq)
              .map(df => Projection.select(
                cfg.transformationHook(df, "sql2delta"), cols, cfg, pushedCols))
          case _ => scala.None
        }
        val pkRows = spark.createDataFrame(java.util.Arrays.asList(rows: _*), strange.pks.schema)
        val full = Projection.withSystemCols(
          restricted.getOrElse(projected).join(broadcast(pkRows), targetPks, "inner"),
          isDeleted = false, isFullLoad = false, ts = lit(nowTs))
        val obsD2 = org.apache.spark.sql.Observation()
        labeled("step3: inline delta_2 write")(
          dest.delta2.overwrite(full.observe(obsD2, count(lit(1)).as("n"))))
        // at most one source row per probed pk under the contract; more
        // would append duplicate history versions
        val fetched = obsD2.get("n").asInstanceOf[Long]
        if (fetched > rows.length)
          pkContractBroken(s"$fetched source rows for ${rows.length} strange pk(s)")
        val append =
          if (fetched == 0) scala.None
          else Some("step3: inline history append" -> dest.delta2.read())
        (rows.length.toLong, append, scala.None)
      case scala.None =>
        // more pks than the inline threshold, or noComplexEntriesLoad: the
        // set is cached, since the re-scan below joins it again
        val updateCount = labeled("step3: strange-pk probe")(strange.pks.cache().count())
        dest.delta2.overwriteEmpty(dest.delta1.schema)
        if (updateCount == 0) return (0L, scala.None, scala.None)
        // fallback: re-scan everything from the smallest strange delta value,
        // INCLUSIVE — the strange row sitting exactly at MIN(delta_col) must
        // be part of the re-scan. delta_1 is overwritten with the full
        // re-scan (≥ min) so the latest-pk union's delta_1 branch stays
        // complete; the history append is restricted to the strange pks the
        // step-2 load did NOT already cover (≤ step-2 watermark).
        // (Divergence from the reference, which re-appends the step-2 rows as
        // duplicate history versions — db_to_delta.py:1105-1146.)
        val minTs = labeled("step3: fallback min-watermark probe")(
          strange.additional.agg(min(col(dc))).head().get(0))
        val rescan = Projection.withSystemCols(
          projected.filter(col(dc) >= lit(minTs)),
          isDeleted = false, isFullLoad = false, ts = lit(nowTs))
        labeled("step3: fallback delta_1 rescan write")(dest.delta1.overwrite(rescan))
        val strangeRows = dest.delta1.read().join(strange.pks, targetPks, "left_semi")
        val toAppend = Option(localMax).map(v =>
          strangeRows.filter(col(dc) <= lit(v))).getOrElse(strangeRows)
        // single action: an empty append is a harmless no-op commit
        (updateCount, Some("step3: fallback history append" -> toAppend), Some(minTs))
    }
  }

  /** Step 3.5's delete set (reference db_to_delta.py:749-859): pks of the
    * old latest_pk_version absent from the new one. The new snapshot's pk
    * set is delta_2 ∪ delta_1 ∪ primary_keys_ts≤bound ([[latestPkQuery]]:
    * its using-column anti joins only drop a pk another branch keeps, null
    * pks included), so the set is computed from step 4's INPUTS and its
    * tombstones are written beside step 4's write. Chained anti joins, one
    * relation each — an anti join against their union costs a wider pass.
    * Read once, by the tombstone write itself. */
  private def deletedPks(oldPkVersion: Long, upperBound: Option[Any]): DataFrame = {
    val pks = targetPks.map(col)
    Seq(boundedSnapshot(upperBound), dest.delta1.read(), dest.delta2.read())
      .foldLeft(dest.latestPkVersion.readVersion(oldPkVersion).select(pks: _*)) { (left, right) =>
        antiOn(left, right.select(pks: _*), targetPks)
      }
  }

  /** primary_keys_ts at or below step 4's bound: the snapshot branch of
    * the latest-pk union. */
  private def boundedSnapshot(upperBound: Option[Any]): DataFrame = {
    val snap = dest.primaryKeysTs.read()
    upperBound.map(v => snap.filter(col(targetDelta.get) <= lit(v))).getOrElse(snap)
  }

  /** The J1×3 + U1 latest-pk union (reference db_to_delta.py:289-460):
    *   delta_2 ∪ (delta_1 ∖ delta_2) ∪ (primary_keys_ts ≤ watermark ∖ delta_2 ∖ delta_1)
    * all projected to (pks…, delta_col). The snapshot sides are small relative
    * to the source — Spark's AQE/broadcast thresholds pick broadcast anti
    * joins automatically. */
  def latestPkQuery(upperBound: Option[Any], includeSnapshot: Boolean = true): DataFrame = {
    val d2 = dest.delta2.read().select(pkd.map(col): _*)
    val d2pk = dest.delta2.read().select(targetPks.map(col): _*)
    val d1 = dest.delta1.read().select(pkd.map(col): _*)
    val b1 = d2
    val b2 = d1.join(d2pk, targetPks, "left_anti")
    if (!includeSnapshot) return b1.unionByName(b2)
    val b3 = boundedSnapshot(upperBound).select(pkd.map(col): _*)
      .join(d2pk, targetPks, "left_anti")
      .join(d1.select(targetPks.map(col): _*), targetPks, "left_anti")
    b1.unionByName(b2).unionByName(b3)
  }

  // ---------------------------------------------------- simple & append modes

  /** simple_delta / simple_delta_check (reference db_to_delta.py:659-691):
    * step 2 only, latest_pk maintained by MERGE; the check variant falls back
    * to the full delta algorithm on count mismatch. */
  def simpleDelta(check: Boolean): LoadResult = {
    if (schemaDriftForcesFull()) return fullLoad(overwriteTarget = false)
    if (!dest.latestPkVersion.exists) {
      if (!restoreLastPk()) return fullLoad(overwriteTarget = false)
    }
    val dc = targetDelta.get
    val (local, src) = awaitBoth(localState())(sourceState())
    if (src.sameAs(local)) return LoadResult.NoLoad

    // row count rides the write as an Observation (same shape as deltaLoad
    // step 2) — no second scan of what was just written
    val updates = Projection.withSystemCols(
      Option(local.deltaMax).map(v => srcProjected.filter(col(dc) > lit(v))).getOrElse(srcProjected),
      isDeleted = false, isFullLoad = false, ts = lit(nowTs))
    val obsIns = org.apache.spark.sql.Observation()
    labeled("simple: delta_1 write")(
      dest.delta1.overwrite(updates.observe(obsIns, count(lit(1)).as("n"))))
    val inserts = obsIns.get("n").asInstanceOf[Long]
    if (inserts > 0) labeled("simple: history append")(
      dest.delta.append(dest.delta1.read(), cfg.allowSchemaDrift))
    dest.delta2.overwriteEmpty(dest.delta1.schema)
    // merge (delta_2 ∪ delta_1∖delta_2) into latest_pk_version on pks (K3)
    labeled("simple: latest_pk merge")(
      dest.latestPkVersion.merge(latestPkQuery(scala.None, includeSnapshot = false),
        targetPks, cfg.allowSchemaDrift))

    if (check) {
      val targetCount = labeled("simple: check count")(
        dest.latestPkVersion.read().count())
      if (targetCount != src.count) return deltaLoad() // full algorithm repair
    }
    LoadResult.DeltaLoad(inserts, 0L, 0L, dirty = false)
  }

  /** append_inserts (reference db_to_delta.py:708-746): step 2 only, no pk
    * bookkeeping — for append-only sources like log tables. Falls back to the
    * identity pk as delta column (db_to_delta.py:236-243, resolved in the
    * constructor). */
  def appendInserts(): LoadResult = {
    val dcName = targetDelta.getOrElse(
      throw new IllegalArgumentException("append_inserts requires a delta column or identity pk"))
    val localMax = labeled("append: local watermark probe") {
      val t = if (dest.primaryKeysTs.exists) dest.primaryKeysTs.read() else dest.delta.read()
      t.agg(max(col(dcName))).head().get(0)
    }
    val updates = Projection.withSystemCols(
      Option(localMax).map(v => srcProjected.filter(col(dcName) > lit(v))).getOrElse(srcProjected),
      isDeleted = false, isFullLoad = false, ts = lit(nowTs))
    val obsIns = org.apache.spark.sql.Observation()
    labeled("append: delta_1 write")(
      dest.delta1.overwrite(updates.observe(obsIns, count(lit(1)).as("n"))))
    val n = obsIns.get("n").asInstanceOf[Long]
    if (n > 0) labeled("append: history append")(
      dest.delta.append(dest.delta1.read(), cfg.allowSchemaDrift))
    LoadResult.AppendOnly(n)
  }

  // ------------------------------------------------------- restore & checks

  /** W1 rebuild of latest_pk_version from history (reference
    * restore_pk.py:16-228): latest full-load snapshot ∪ row_number-deduped
    * post-full-load changes, minus deletes. Returns false when no full load
    * exists. */
  def restoreLastPk(): Boolean = labeled("restore: latest_pk from history") {
    recomputeLastPk() match {
      case Some(df) if !dest.latestPkVersion.exists =>
        // the engine path (snapshot missing): ONE pass over the restore
        // window — the rows are written as a STAGED overwrite with their
        // count on an Observation, and the table's v0 is published only
        // when there are rows. On the empty corner (all rows deleted) the
        // staged files are deleted, so no crash can leave an empty
        // latest_pk_version where the not-exists state belongs.
        val obs = org.apache.spark.sql.Observation()
        val staged = dest.latestPkVersion.stage(
          df.observe(obs, count(lit(1)).as("n")), SchemaDrift.Full, overwrite = true)
        try obs.get("n").asInstanceOf[Long] > 0L && { staged.publish(); true }
        finally staged.discard()
      case Some(df) if !df.isEmpty => dest.latestPkVersion.overwrite(df); true
      case _ => false
    }
  }

  /** The restore query itself (shared with the consistency check). */
  def recomputeLastPk(): Option[DataFrame] = {
    if (!dest.delta.exists) return scala.None
    val dc = targetDelta.get
    // history reads go through readWhere: each sync's commit dir carries a
    // tight __timestamp/__is_full_load stats range, so the manifest drops
    // every dir before the last full load without listing it — on a
    // years-of-hourly-syncs table this scans the post-full tail, not the
    // whole history
    val fullTs = labeled("restore: last-full-load probe")(
      dest.delta.readWhere(col(SystemCols.isFullLoad))
        .agg(max(col(SystemCols.timestamp))).head().get(0))
    if (fullTs == null) return scala.None
    val lastFull = dest.delta.readWhere(
      col(SystemCols.isFullLoad) && col(SystemCols.timestamp) === lit(fullTs))
      .select((pkd :+ SystemCols.isDeleted).map(col): _*)
      .withColumn(SystemCols.isDeleted, lit(false))
    val w = Window.partitionBy(targetPks.map(col): _*)
      .orderBy(desc_nulls_last(SystemCols.timestamp))
    val afterFull = dest.delta.readWhere(col(SystemCols.timestamp) > lit(fullTs))
      .select((pkd ++ Seq(SystemCols.isDeleted, SystemCols.timestamp)).map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", SystemCols.timestamp)
    val base = afterFull.unionByName(
      lastFull.join(afterFull.select(targetPks.map(col): _*), targetPks, "left_anti"))
    Some(base.filter(!col(SystemCols.isDeleted)).select(pkd.map(col): _*))
  }

  /** U2-d consistency check (reference consistency.py:17-56): persisted
    * latest_pk_version ≡ recomputed-from-history, via both-direction EXCEPT.
    * Returns offending rows (empty = consistent); autoFix rewrites the
    * snapshot from history. */
  def checkConsistency(autoFix: Boolean = false): DataFrame = {
    require(pkCols.nonEmpty && deltaCol.nonEmpty, "needs pks and delta column")
    val recomputed = recomputeLastPk().getOrElse(
      throw new IllegalStateException("no full load in history"))
    val persisted = dest.latestPkVersion.read().select(pkd.map(col): _*)
    val diff = persisted.except(recomputed)
      .withColumn("__issue", lit("added in persisted data"))
      .unionByName(recomputed.except(persisted)
        .withColumn("__issue", lit("missing in persisted data")))
    if (autoFix && !diff.isEmpty) dest.latestPkVersion.overwrite(recomputed)
    diff
  }

  /** Library helper: "current state" view = history minus deletes, latest
    * version per pk (reference tests/test_03_delta.py:133-144 / J4+W1). */
  def currentState(): DataFrame = {
    val hist = dest.delta.read()
    val w = Window.partitionBy(targetPks.map(col): _*)
      .orderBy(desc_nulls_last(SystemCols.timestamp))
    hist.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(SystemCols.isDeleted))
      .drop("__rn")
  }
}

object Synchronizer {
  private val lastMs = new java.util.concurrent.atomic.AtomicLong(0L)
  private[scd2] def nextMillis(): Long =
    lastMs.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Spark local-property keys that attribute jobs to a group/pool — the
    * ones a caller may have set and expects the overlapped actions to keep. */
  private[scd2] val propagatedKeys: Seq[String] = Seq(
    "spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Shared daemon pool for the overlapped sync actions (at most three run
    * concurrently per sync; shared so a test suite constructing many
    * Synchronizers doesn't accumulate pools). */
  private[scd2] lazy val syncEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => { val t = new Thread(r, "graft-sync-async"); t.setDaemon(true); t }))
}
