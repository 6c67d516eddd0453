package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Graft, WriteConfig}
import graft.operators.Sketches
import graft.sources.ParquetSource
import graft.store.VersionedTable
import graft.streaming.StreamingIngest

/** Seeded file drops, each drained right after it lands by an AvailableNow
  * run of its maintainer: full `customer` snapshots (~1% changed) into
  * `scd2SyncStream`, ~500 new documents (with exact and near copies of
  * earlier ones) into `dedupIngest`, and an `events` slice into
  * `hllIngest`. Set-up writes drop 0 of each stream and drains it (the
  * first loads). One sample is one drop: its three drains, summed. A traced
  * run also makes the [[OperatorPass]] after its drops. */
object StreamDrops extends Workload {
  private val custCfg = WriteConfig(deltaCol = Some("ver"))
  private val hllP = 8
  private val hllBits = 60
  private val minDrops = 2

  /** One stream directory set: inputs, maintainer outputs, checkpoints. */
  private final class Streams(root: String, gen: Gen) {
    val in: String => String = m => s"$root/in/$m"
    val staging = s"$root/staging"
    val custDest = s"$root/out/customer"
    val docsDest = s"$root/out/docs"
    val fpDir = s"$root/out/fingerprints"
    val hllDir = s"$root/out/hll"
    def ckpt(m: String) = s"$root/ckpt/$m"
    def dropFile(m: String, k: Int) = Paths.get(in(m)).resolve(f"drop-$k%05d.parquet")
    def staged(m: String, k: Int) = Paths.get(staging).resolve(f"$m-$k%05d.parquet")

    var custSnap = ""
    var nextCust = gen.rows("customer") + 1
    val bases = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val seenText = mutable.HashSet.empty[String]
    val survivors = mutable.HashSet.empty[Long]
    var nextDoc = 1L
  }

  private val maintainers = Layers.maintainers

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val gen = new Gen(spark, ctx.seed, ctx.scale)
    val e2e = new Metrics
    val m = new Metrics
    val docsPerDrop = gen.n(500).toInt
    val eventsPerDrop = gen.n(5000)
    val docSchema = spark.createDataFrame(Seq((0L, ""))).toDF("doc_id", "text").schema

    /** Writes drop k of every stream to the staging dir (not yet visible). */
    def stage(s: Streams, k: Int): Unit = {
      val snap = ctx.dir(s"snap-$k")
      if (k == 0) gen.write(gen.table("customer").drop("k"), snap)
      else {
        val p = gen.customerRound(s.custSnap, k, s.nextCust, snap)
        s.nextCust += p.inserts
      }
      gen.writeOneFile(spark.read.parquet(snap), s"${s.staging}/tmp", s.staged("scd2_stream", k))
      if (s.custSnap.nonEmpty) Disk.deleteTree(Paths.get(s.custSnap))
      s.custSnap = snap
      val (docs, newBases) = Corpus.batch(ctx.seed, 1000L + k, docsPerDrop, s.nextDoc, s.bases.toIndexedSeq)
      s.bases ++= newBases
      s.nextDoc += docs.size
      // planned survivors: first (lowest id) doc of each normalized text never seen before
      docs.foreach { d =>
        if (s.seenText.add(Corpus.normalize(d.text))) s.survivors += d.id
      }
      gen.writeOneFile(spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text"),
        s"${s.staging}/tmp", s.staged("dedup_ingest", k))
      gen.writeOneFile(gen.eventsSlice(k, eventsPerDrop), s"${s.staging}/tmp", s.staged("hll_ingest", k))
    }

    def drain(s: Streams, mt: String): StreamingQuery = mt match {
      case "scd2_stream" =>
        StreamingIngest.scd2SyncStream(spark, s.in(mt), spark.read.parquet(s.custSnap).schema,
          Seq("c_custkey"), s.custDest, s.ckpt(mt), custCfg)
      case "dedup_ingest" =>
        StreamingIngest.dedupIngest(spark, s.in(mt), docSchema, "doc_id", "text", s.docsDest, s.fpDir, s.ckpt(mt))
      case "hll_ingest" =>
        StreamingIngest.hllIngest(spark, s.in(mt), gen.eventsSlice(0, 1).schema, "event_type", "h",
          hllP, hllBits, s.hllDir, s.ckpt(mt))
    }

    /** Lands drop k of `mt` (an atomic rename into the watched dir). */
    def land(s: Streams, mt: String, k: Int): Unit = {
      Files.createDirectories(s.dropFile(mt, k).getParent)
      Files.move(s.staged(mt, k), s.dropFile(mt, k), StandardCopyOption.ATOMIC_MOVE)
    }

    val ts = System.nanoTime()
    val s = new Streams(ctx.dir("setup"), gen)
    stage(s, 0)
    maintainers.foreach { mt => land(s, mt, 0); drain(s, mt) }
    e2e("setup_s", "s") = ctx.elapsedSince(ts)

    // one sample per drop: the sum of its three drains
    val dropS, dropCpuS = mutable.ArrayBuffer.empty[Double]
    val allJobs = mutable.ArrayBuffer.empty[JobRec]
    var k = 0
    var ok = true
    val t0 = System.nanoTime()
    // at least the minimum work; then another round only if it fits the budget
    def more = k < minDrops || ctx.elapsedSince(t0) * (k + 1) / k <= ctx.seconds
    while (ok && more) {
      k += 1
      stage(s, k)
      var secsK, cpuK = 0.0
      maintainers.foreach { mt =>
        if (ok) {
          val (res, jobs) = ctx.jobsOf(ctx.call(mt) { land(s, mt, k); drain(s, mt) })
          res match {
            case None => ok = false
            case Some((q, secs)) =>
              secsK += secs
              cpuK += ctx.lastCpuS
              allJobs ++= jobs
              if (ctx.traced) {
                val d = q.recentProgress.toSeq.map(_.durationMs.asScala.map { case (a, b) => a -> b.toLong })
                def ms(keys: String*) = d.map(p => keys.map(p.getOrElse(_, 0L)).sum).sum.toDouble
                m.add(s"streaming.$mt.trigger_ms", "ms", ms("triggerExecution"))
                m.add(s"streaming.$mt.latest_offset_ms", "ms", ms("latestOffset"))
                m.add(s"streaming.$mt.add_batch_ms", "ms", ms("addBatch"))
                m.add(s"streaming.$mt.planning_ms", "ms", ms("queryPlanning"))
                m.add(s"streaming.$mt.offset_commit_ms", "ms", ms("walCommit", "commitOffsets"))
                m.add(s"streaming.$mt.jobs_per_drop", "count", jobs.size)
                m.add(s"streaming.$mt.startup_s", "s", secs - ms("triggerExecution") / 1e3)
                if (mt == "scd2_stream") Layers.reportSteps(jobs, m)
              }
          }
        }
      }
      if (ok) {
        dropS += secsK
        dropCpuS += cpuK
      }
    }

    if (ok) {
      // the SCD2 stream's current state is the last customer drop
      val last = s.dropFile("scd2_stream", k).toString
      val w = Graft.writer(spark, new ParquetSource(last, Seq("c_custkey")), s.custDest, custCfg)
      val want = spark.read.parquet(last)
      ctx.check(Digest(w.currentState().select(want.columns.map(col).toSeq: _*)) == Digest(want),
        "scd2SyncStream current state differs from the last drop")
      // dedupIngest kept exactly the planned novel documents
      val kept = new VersionedTable(spark, s.docsDest).read().select("doc_id").collect().map(_.getLong(0))
      ctx.check(kept.length == s.survivors.size && kept.toSet == s.survivors,
        s"dedupIngest kept ${kept.length} docs, planned ${s.survivors.size}")
      // hllIngest's registers equal one batch sketch over every drop
      val state = new VersionedTable(spark, s.hllDir).read()
      val batch = Sketches.hllRegisterState(spark.read.parquet(s.in("hll_ingest")), "event_type", "h", hllP, hllBits)
      ctx.check(Digest(state) == Digest(batch.select(state.columns.map(col).toSeq: _*)),
        "hllIngest registers differ from the batch sketch over all drops")
    }

    e2e("call_s.p50", "s") = Stats.median(dropS.toSeq)
    e2e("call_cpu_s.p50", "s") = Stats.median(dropCpuS.toSeq)
    val (level, tail) = Stats.tail(dropS.toSeq)
    e2e("call_s.tail", "s") = tail
    println(f"# stream_drops: $k drops, tail p$level%.1f = $tail%.3f s")
    if (ctx.traced) {
      maintainers.foreach { mt =>
        Seq("trigger_ms", "latest_offset_ms", "add_batch_ms", "planning_ms", "offset_commit_ms",
          "jobs_per_drop", "startup_s").foreach { x =>
          val key = s"streaming.$mt.$x"
          m(key, if (x.endsWith("_ms")) "ms" else if (x.endsWith("_s")) "s" else "count") = m.get(key).get / k
        }
      }
      m("streaming.scd2_stream.state_bytes", "bytes") = Disk.bytes(Paths.get(s.custDest))
      m("streaming.dedup_ingest.state_bytes", "bytes") = Disk.bytes(Paths.get(s.fpDir))
      m("streaming.hll_ingest.state_bytes", "bytes") = Disk.bytes(Paths.get(s.hllDir))
      JobAgg(allJobs.toSeq).report(m)
      StoreStats.destBytes(s.custDest, m)
      if (ok) OperatorPass(ctx, m)
    }
    Result(e2e, m)
  }
}
