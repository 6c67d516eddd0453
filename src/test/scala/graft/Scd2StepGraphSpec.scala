package graft

import scala.collection.mutable

import org.apache.spark.graftreplay.Settle
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.scd2.Synchronizer
import graft.sources.{DataFrameSource, ParquetSource}
import graft.store.VersionedTable

/** The delta load's step graph: one sync carrying an update, an insert, a
  * delete and a backward-moved ("strange") row runs a pinned number of
  * Spark jobs, overlaps each read-only probe with the commit beside it,
  * and keeps the history commits in order (delta_1 rows, strange rows,
  * tombstones). Also the local state probe answered from manifest stats. */
class Scd2StepGraphSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = WriteConfig(deltaCol = Some("ver"))

  /** One Spark job: its `scd2 …` step label and its [start, end] in ms. */
  private final case class Job(desc: String, start: Long, end: Long)

  /** Runs `body` with AQE off (static plans make the job count exact, as
    * in StreamingReplaySpec) and returns the jobs it ran. */
  private def jobsOf(body: => Any): Seq[Job] = {
    val sc = spark.sparkContext
    val started = mutable.Map.empty[Int, (String, Long)]
    val jobs = mutable.ArrayBuffer.empty[Job]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.synchronized {
        started(e.jobId) = (Option(e.properties).map(_.getProperty("spark.job.description"))
          .orNull, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = started.synchronized {
        started.remove(e.jobId).foreach { case (d, t0) => jobs += Job(d, t0, e.time) }
      }
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    Settle(sc)
    sc.addSparkListener(l)
    try {
      body
      Settle(sc)
      started.synchronized(jobs.toSeq)
    } finally {
      sc.removeSparkListener(l)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  /** [first start, last end] of the jobs labelled `scd2 <step>`. */
  private def span(jobs: Seq[Job], step: String): (Long, Long) = {
    val js = jobs.filter(_.desc == s"scd2 $step")
    assert(js.nonEmpty, s"no job labelled '$step' in ${jobs.map(_.desc).distinct}")
    (js.map(_.start).min, js.map(_.end).max)
  }

  private def overlaps(a: (Long, Long), b: (Long, Long)): Boolean = a._1 <= b._2 && b._1 <= a._2

  private def rows(ids: Seq[(Long, String, Long)]): DataFrame = ids.toDF("id", "name", "ver")

  test("delta sync: pinned job count, probes overlap their commits, history order D1 < D2 < tombstones") {
    val src = tmpDir("graft-steps-src")
    val dest = tmpDir("graft-steps-dest")
    rows((1L to 10L).map(i => (i, s"n$i", i))).write.mode("overwrite").parquet(src)
    new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg).execute()

    // id 1 updated forward, id 11 inserted, id 10 deleted, id 5 restored
    // from backup (payload changed, ver moved back below the watermark)
    rows((1L to 9L).map {
      case 1L => (1L, "n1u", 11L)
      case 5L => (5L, "n5-restored", 3L)
      case i => (i, s"n$i", i)
    } :+ ((11L, "n11", 12L))).write.mode("overwrite").parquet(src)
    val s = new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg)
    val hist = s.dest.delta.asInstanceOf[VersionedTable]
    val v0 = hist.requireVersion

    var result: LoadResult = null
    val jobs = jobsOf { result = s.execute() }
    assert(result == LoadResult.DeltaLoad(2, 1, 1, dirty = false))
    assert(jobs.size == 21, s"sync job count; labels: ${jobs.map(_.desc)}")

    assert(overlaps(span(jobs, "step2: history append"), span(jobs, "step3: strange-pk probe")),
      "step-2 history append and strange probe ran one after the other")
    assert(overlaps(span(jobs, "step3.5: delete probe"), span(jobs, "step4: latest_pk write")),
      "delete probe and step-4 write ran one after the other")

    // history commits: delta_1 rows, then the strange row, then the tombstone
    assert(hist.requireVersion == v0 + 3)
    def ids(v: Long, deleted: Boolean): Set[Long] = hist.readCommit(v)
      .filter(col(SystemCols.isDeleted) === deleted).select("id").as[Long].collect().toSet
    assert(ids(v0 + 1, deleted = false) == Set(1L, 11L))
    assert(ids(v0 + 2, deleted = false) == Set(5L))
    assert(ids(v0 + 3, deleted = true) == Set(10L) && ids(v0 + 3, deleted = false).isEmpty)
    assert(s.checkConsistency().isEmpty)
  }

  /** localState() against the aggregate it replaces, value AND class. */
  private def assertLocalState(s: Synchronizer, table: DataFrame, expectStats: Boolean): Unit = {
    val agg = table.agg(max(col("ver")), count(lit(1))).head()
    var local: graft.sources.SourceState = null
    val jobs = jobsOf { local = s.localState() }
    assert(local.count == agg.getLong(1))
    assert(local.deltaMax == agg.get(0))
    assert(local.deltaMax.getClass == agg.get(0).getClass)
    assert(local.sameAs(graft.sources.SourceState(agg.get(0), agg.getLong(1))))
    assert(jobs.isEmpty == expectStats, s"local state jobs: ${jobs.map(_.desc)}")
  }

  /** Delta-column types the stats answer, built from a Long `raw`. */
  private val typed: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column, Option[String])] =
    Seq(
      ("long", identity, scala.None),
      ("int", _.cast("int"), scala.None),
      ("timestamp", r => timestamp_seconds(r + 1700000000L), scala.None),
      ("timestamp under the java8 API", r => timestamp_seconds(r + 1700000000L),
        Some("spark.sql.datetime.java8API.enabled")))

  typed.foreach { case (name, asVer, flag) =>
    test(s"local state from manifest stats equals the aggregate: $name delta column") {
      def source(n: Int, bump: Long) = new DataFrameSource(
        (1 to n).map(i => (i.toLong, s"n$i", i.toLong + bump)).toDF("id", "name", "raw")
          .withColumn("ver", asVer(col("raw"))).drop("raw"), Seq("id"))
      val prev = flag.map(k => k -> spark.conf.getOption(k))
      flag.foreach(spark.conf.set(_, "true"))
      try {
        val dest = tmpDir("graft-local")
        new Synchronizer(spark, source(6, 0), dest, cfg).execute()
        // no primary_keys_ts yet: answered from the history's stats
        val s1 = new Synchronizer(spark, source(7, 1), dest, cfg)
        assert(!s1.dest.primaryKeysTs.exists)
        assertLocalState(s1, s1.dest.delta.read(), expectStats = true)
        assert(s1.execute().isInstanceOf[LoadResult.DeltaLoad])
        // now from primary_keys_ts
        val s2 = new Synchronizer(spark, source(7, 1), dest, cfg)
        assertLocalState(s2, s2.dest.primaryKeysTs.read(), expectStats = true)
        assert(s2.execute() == LoadResult.NoLoad)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, scala.None) => spark.conf.unset(k)
      }
    }
  }

  test("local state falls back to the aggregate on a history with a deletion vector") {
    val dest = tmpDir("graft-local-dv")
    val src = new DataFrameSource(rows((1L to 8L).map(i => (i, s"n$i", i))), Seq("id"))
    new Synchronizer(spark, src, dest, cfg).execute()
    val s = new Synchronizer(spark, src, dest, cfg)
    val hist = s.dest.delta.asInstanceOf[VersionedTable]
    hist.delete(col("id") === 8L)
    assert(hist.countMaxFromStats("ver").isEmpty)
    assertLocalState(s, hist.read(), expectStats = false)
    assert(s.localState() == graft.sources.SourceState(7L, 7L))
  }
}
