package graftbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Graft, LoadResult, WriteConfig}
import graft.sources.{ParquetSource, Source}

/** A scheduled CDC chain on `orders`. Set-up mirrors `orders` and
  * `customer` into fresh destinations with one `Graft.syncAll` round of
  * full loads. Then each round writes a new
  * `orders` snapshot and syncs it: ~1% updates (ver advances), ~0.2%
  * inserts and deletes; rounds 3, 7, 11, … are unchanged; rounds 2, 10,
  * 18, … also restore ~50 rows from backup (payload changes, ver moves
  * back). The history grows by one or more commits per sync. */
object CdcHourly extends Workload {
  private val pks = Seq("o_orderkey")
  private val cfg = WriteConfig(deltaCol = Some("ver"))
  private val mirrored = Seq("orders" -> "o_orderkey", "customer" -> "c_custkey")
  /** Rounds 1, 2 (with restores) and 4 change; round 3 is unchanged. */
  private val minRounds = 4

  /** A pass-through source that tags the jobs of its table's sync (the
    * worker thread's local property) and records when the sync started. */
  private final class Tagged(name: String, inner: Source, started: mutable.Map[String, Long]) extends Source {
    def read(spark: SparkSession): DataFrame = inner.read(spark)
    def primaryKeys(spark: SparkSession): Seq[String] = inner.primaryKeys(spark)
    def columns(spark: SparkSession): Seq[graft.ColInfo] = {
      spark.sparkContext.setLocalProperty(JobListener.TagKey, name)
      started.synchronized(started.getOrElseUpdate(name, System.currentTimeMillis()))
      inner.columns(spark)
    }
  }

  /** Set-up: generate the star and mirror it with one syncAll round.
    * Returns the orders snapshot and destination, and the round's jobs. */
  private def mirror(ctx: Ctx, gen: Gen, root: String, m: Metrics): (String, String, Seq[JobRec]) = {
    val spark = ctx.spark
    val started = mutable.Map.empty[String, Long]
    val syncs = mirrored.map { case (t, pk) =>
      gen.write(gen.table(t), s"$root/src-$t")
      Graft.TableSync(new Tagged(t, new ParquetSource(s"$root/src-$t", Seq(pk)), started),
        s"$root/dest-$t", cfg)
    }
    val t0 = System.nanoTime()
    val (results, jobs) = ctx.jobsOf(Graft.syncAll(spark, syncs, parallelism = math.min(4, ctx.cores)))
    val secs = ctx.elapsedSince(t0)
    mirrored.zip(results).foreach { case ((t, _), r) =>
      require(r == Right(LoadResult.FullLoad(gen.rows(t))), s"set-up load of $t returned $r")
    }
    if (ctx.traced) {
      val perTable = jobs.groupBy(_.tag).collect { case (t, js) if t != null => (js.map(_.end).max - started(t)) / 1e3 }
      m("graft.syncall.round_s", "s") = secs
      m("graft.syncall.overlap", "ratio") = perTable.sum / secs
      m("graft.syncall.busy_cores", "ratio") = JobAgg(jobs).taskS / (secs * ctx.cores)
    }
    (s"$root/src-orders", s"$root/dest-orders", jobs)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val gen = new Gen(spark, ctx.seed, ctx.scale)
    val e2e = new Metrics
    val m = new Metrics

    val ts = System.nanoTime()
    val (snap0, dest, mirrorJobs) = mirror(ctx, gen, ctx.dir("setup"), m)
    var snap = snap0
    e2e("setup_s", "s") = ctx.elapsedSince(ts)
    val cols = spark.read.parquet(snap).columns.map(col).toSeq

    val syncS, syncCpuS, noopS, readS, resolveS, planS, execS = ArrayBuffer.empty[Double]
    // the set-up full loads are the only source of the scd2.full_* steps
    val allJobs = ArrayBuffer.from(mirrorJobs)
    if (ctx.traced) Layers.reportSteps(mirrorJobs, m)
    var changedBytes, strangePlanned, strangeFound, noops, noopHits = 0L
    var nextKey = gen.rows("orders") + 1
    var r = 0
    var ok = true
    val t0 = System.nanoTime()
    // at least the minimum work; then another round only if it fits the budget
    def more = r < minRounds || ctx.elapsedSince(t0) * (r + 1) / r <= ctx.seconds
    while (ok && more) {
      r += 1
      val unchanged = r % 4 == 3
      val plan =
        if (unchanged) gen.Plan(0, 0, 0, 0, 0)
        else {
          val out = ctx.dir(s"src-r$r")
          val p = gen.ordersRound(snap, r, restore = r % 8 == 2, nextKey, out,
            if (ctx.traced) Some(ctx.dir(s"changes-r$r")) else None)
          if (r > 1) Disk.deleteTree(Paths.get(snap))
          snap = out
          nextKey += p.inserts
          p
        }
      val fs0 = FsSnap.now()
      val wallStart = System.currentTimeMillis()
      val (res, jobs) = ctx.jobsOf {
        ctx.call(if (unchanged) "noop_sync" else "sync") {
          val t = System.nanoTime()
          val w = Graft.writer(spark, new ParquetSource(snap, pks), dest, cfg)
          val resolve = ctx.elapsedSince(t)
          (w, w.execute(), resolve)
        }
      }
      val fs = FsSnap.now() - fs0
      res match {
        case None => ok = false
        case Some(((w, lr, resolve), secs)) =>
          val expected =
            if (unchanged) LoadResult.NoLoad
            else LoadResult.DeltaLoad(plan.updates + plan.inserts, plan.strange, plan.deletes, dirty = false)
          ctx.check(lr == expected, s"round $r returned $lr, planned $expected")
          allJobs ++= jobs
          if (ctx.traced) {
            resolveS += resolve
            Layers.reportSteps(jobs, m)
            val all = JobAgg(jobs)
            m.add("scd2.driver_s", "s", secs - all.unionS)
            m.add("scd2.overlap_s", "s", all.sumS - all.unionS)
            val src = JobAgg(jobs.filter(j => Layers.sourceSteps(Layers.stepOf(j.desc))))
            m.add("sources.scan_bytes_per_sync", "bytes", src.inputBytes)
            m.add("sources.scan_rows_per_sync", "count", src.inputRows)
            m.add(if (unchanged) "scd2.jobs_per_noop" else "scd2.jobs_per_sync", "count", jobs.size)
            if (!unchanged) {
              m.add("store.bytes_written_per_sync", "bytes", fs.bytesWritten)
              m.add("store.write_ops_per_sync", "count", fs.writeOps)
              m.add("store.read_ops_per_sync", "count", fs.readOps)
              m.add("store.files_written_per_sync", "count", Disk.filesNewerThan(Paths.get(dest), wallStart))
            }
          }
          if (unchanged) {
            noopS += secs
            noops += 1
            if (lr == LoadResult.NoLoad) noopHits += 1
          } else {
            syncS += secs
            syncCpuS += ctx.lastCpuS
            changedBytes += plan.changedBytes
            strangePlanned += plan.strange
            lr match {
              case d: LoadResult.DeltaLoad => strangeFound += d.strange
              case _ =>
            }
            // the read: every column of the current state, digested
            val rd = ctx.call("read") {
              val q = Digest.of(w.currentState().select(cols: _*))
              val tp = System.nanoTime()
              q.queryExecution.executedPlan
              val plannedS = ctx.elapsedSince(tp)
              (q.collect().head.toSeq, plannedS)
            }
            rd.foreach { case ((state, plannedS), secs) =>
              readS += secs
              planS += plannedS
              execS += secs - plannedS
              ctx.check(state == Digest(spark.read.parquet(snap)),
                s"round $r: current state differs from the source snapshot")
            }
            if (rd.isEmpty) ok = false
          }
      }
    }
    if (ok) {
      val w = Graft.writer(spark, new ParquetSource(snap, pks), dest, cfg)
      ctx.check(w.checkConsistency().isEmpty, "checkConsistency() is not empty")
    }

    val syncs = syncS.size.max(1).toDouble
    e2e("call_s.p50", "s") = Stats.median(syncS.toSeq)
    e2e("call_cpu_s.p50", "s") = Stats.median(syncCpuS.toSeq)
    val (level, tail) = Stats.tail(syncS.toSeq)
    e2e("call_s.tail", "s") = tail
    println(f"# cdc_hourly: ${syncS.size} change syncs, ${noopS.size} unchanged, tail p$level%.1f = $tail%.3f s")

    if (ctx.traced) {
      JobAgg(allJobs.toSeq).report(m)
      Seq("scd2.jobs_per_sync", "store.bytes_written_per_sync", "store.write_ops_per_sync",
        "store.read_ops_per_sync", "store.files_written_per_sync").foreach { k =>
        m(k, if (k.contains("bytes")) "bytes" else "count") = m.get(k).getOrElse(0.0) / syncs
      }
      val allSyncs = (syncS.size + noopS.size).max(1).toDouble
      m("sources.scan_bytes_per_sync", "bytes") = m.get("sources.scan_bytes_per_sync").getOrElse(0.0) / allSyncs
      m("sources.scan_rows_per_sync", "count") = m.get("sources.scan_rows_per_sync").getOrElse(0.0) / allSyncs
      m("scd2.jobs_per_noop", "count") = m.get("scd2.jobs_per_noop").getOrElse(0.0) / noops.max(1)
      m("scd2.strange_found_ratio", "ratio") =
        if (strangePlanned == 0) 1.0 else strangeFound.toDouble / strangePlanned
      m("scd2.noop_hit_ratio", "ratio") = if (noops == 0) 1.0 else noopHits.toDouble / noops
      m("noop_sync_s.p50", "s") = Stats.median(noopS.toSeq)
      m("read_s.p50", "s") = Stats.median(readS.toSeq)
      m("store.read_plan_s", "s") = Stats.median(planS.toSeq)
      m("store.read_exec_s", "s") = Stats.median(execS.toSeq)
      m("write_amp", "ratio") = m.get("store.bytes_written_per_sync").getOrElse(0.0) * syncs / changedBytes
      m("sources.resolve_s", "s") = Stats.median(resolveS.toSeq)
      StoreStats.historyShape(dest, m)
      StoreStats.destBytes(dest, m)
    }
    Result(e2e, m)
  }
}
