package graft

import scala.collection.mutable

import org.apache.spark.graftreplay.Settle
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.scd2.Synchronizer
import graft.sources.ParquetSource

/** Every Spark job a ParquetSource sync runs carries an `scd2 <step>`
  * description, including the source's resolution (a parquet schema
  * inference job), so a trace attributes each job to an engine step. */
class Scd2JobLabelSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = WriteConfig(deltaCol = Some("ver"))

  private def descriptionsOf(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val descs = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = descs.synchronized {
        descs += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    Settle(sc)
    sc.addSparkListener(l)
    try {
      body
      Settle(sc)
      descs.synchronized(descs.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def unlabelled(descs: Seq[String]): Seq[String] =
    descs.filter(d => d == null || !d.startsWith("scd2 "))

  test("every job of a ParquetSource full and delta sync carries an scd2 label") {
    val src = tmpDir("graft-labels-src")
    val dest = tmpDir("graft-labels-dest")
    (1L to 10L).map(i => (i, s"n$i", i)).toDF("id", "name", "ver")
      .write.mode("overwrite").parquet(src)
    val full = new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg)
    val fullJobs = descriptionsOf(assert(full.execute() == LoadResult.FullLoad(10)))
    assert(fullJobs.contains("scd2 full-load: history write"))
    assert(unlabelled(fullJobs).isEmpty, s"unlabelled full-load jobs among $fullJobs")

    // an update, an insert, a delete and a backward-moved row
    ((1L to 9L).map {
      case 1L => (1L, "n1u", 11L)
      case 5L => (5L, "n5-restored", 3L)
      case i => (i, s"n$i", i)
    } :+ ((11L, "n11", 12L))).toDF("id", "name", "ver").write.mode("overwrite").parquet(src)
    val delta = new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg)
    val deltaJobs = descriptionsOf(
      assert(delta.execute() == LoadResult.DeltaLoad(2, 1, 1, dirty = false)))
    assert(deltaJobs.nonEmpty)
    assert(unlabelled(deltaJobs).isEmpty, s"unlabelled delta-load jobs among $deltaJobs")
  }
}
