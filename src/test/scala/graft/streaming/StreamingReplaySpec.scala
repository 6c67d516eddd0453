package org.apache.spark.graftreplay {

  import org.apache.spark.SparkContext

  /** Waits until every queued listener event has been delivered, so a
    * drain's job count is complete before the spec reads it.
    * `listenerBus` is `private[spark]`, hence this package. */
  object Settle {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.streaming {

  import java.io.File
  import java.nio.charset.StandardCharsets
  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.graftreplay.Settle
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.streaming.StreamingQuery
  import org.apache.spark.sql.types.StructType

  import graft.SparkSuite
  import graft.store.VersionedTable

  /** Exactly-once through the PUBLIC AvailableNow drivers of the 13
    * txn-watermarked maintainers, over a real stream checkpoint: drain
    * drop 0, drain drop 1, then delete `<checkpoint>/commits/1` — the crash
    * window between the sink commits and the stream commit — and drain
    * again. Spark re-runs batch 1 under the same batchId, and every state
    * table must keep its rows and its `VersionedTable` version. Each case
    * also pins the Spark job count of its drop-1 drain and the persisted
    * `graft.txn.<appId>` key, which must survive upgrades byte for byte. */
  class StreamingReplaySpec extends SparkSuite {
    import spark.implicits._

    /** One maintainer: its entry name (the appId prefix), its state tables,
      * its two drops, the exact job count of its drop-1 drain, and a call
      * of its public driver (source dir, schema, state dir of a table
      * name, checkpoint dir). */
    private final class Case(
        val entry: String,
        val tables: Seq[String],
        val drops: () => Seq[DataFrame],
        val jobs: Int,
        val drain: (String, StructType, String => String, String) => StreamingQuery)

    private def h60(s: String): Long =
      (scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L) >>> 4

    private def hashed(prefix: String, range: Range): DataFrame =
      range.map(i => (s"g${i % 3}", h60(s"$prefix$i"))).toDF("g", "h")

    private val cases = Seq(
      new Case("dedupIngest", Seq("dest", "fp"), () => Seq(
          Seq((1L, "one text"), (2L, "one  TEXT"), (3L, "two text")).toDF("doc_id", "text"),
          Seq((4L, "two text"), (5L, "three text")).toDF("doc_id", "text")), 6,
        (src, sch, t, ck) => StreamingIngest.dedupIngest(spark, src, sch, "doc_id", "text",
          t("dest"), t("fp"), ck)),
      new Case("funnelIngest", Seq("state"), () => Seq(
          Seq((1L, "A", 10L), (2L, "A", 11L)).toDF("u", "e", "ts"),
          Seq((1L, "B", 20L), (2L, "B", 21L)).toDF("u", "e", "ts")), 6,
        (src, sch, t, ck) => StreamingIngest.funnelIngest(spark, src, sch, "u", "e", "ts",
          Seq("A", "B"), t("state"), ck)),
      new Case("retentionIngest", Seq("state"), () => Seq(
          Seq((1L, 5L), (2L, 7L)).toDF("k", "ts"),
          Seq((1L, 15L), (3L, 16L)).toDF("k", "ts")), 4,
        (src, sch, t, ck) => StreamingIngest.retentionIngest(spark, src, sch, "k", "ts", 10L,
          t("state"), ck)),
      new Case("transitionsIngest", Seq("matrix", "frontier"), () => Seq(
          Seq((1L, 1L, "A", 10L), (1L, 2L, "B", 20L)).toDF("u", "eid", "e", "ts"),
          Seq((1L, 3L, "C", 30L), (2L, 4L, "A", 31L)).toDF("u", "eid", "e", "ts")), 8,
        (src, sch, t, ck) => StreamingIngest.transitionsIngest(spark, src, sch, "u", "e", "ts",
          "eid", t("matrix"), t("frontier"), ck)),
      new Case("sessionsIngest", Seq("assign", "frontier"), () => Seq(
          Seq((1L, 1L, 10L), (1L, 2L, 100L)).toDF("u", "eid", "ts"),
          Seq((1L, 3L, 105L), (2L, 4L, 7L)).toDF("u", "eid", "ts")), 8,
        (src, sch, t, ck) => StreamingIngest.sessionsIngest(spark, src, sch, "u", "ts", 30L,
          "eid", t("assign"), t("frontier"), ck)),
      new Case("quantilesIngest", Seq("hist"), () => Seq(
          Seq(("a", 10L), ("a", 20L), ("b", 7L)).toDF("g", "v"),
          Seq(("a", 30L), ("b", 9L)).toDF("g", "v")), 2,
        (src, sch, t, ck) => StreamingIngest.quantilesIngest(spark, src, sch, "g", "v", 6,
          t("hist"), ck)),
      new Case("hllIngest", Seq("state"), () => Seq(hashed("k", 1 to 40), hashed("k", 30 to 80)), 2,
        (src, sch, t, ck) => StreamingIngest.hllIngest(spark, src, sch, "g", "h", 6, 60,
          t("state"), ck)),
      new Case("countMinIngest", Seq("state"), () => Seq(hashed("i", 1 to 40), hashed("i", 30 to 80)), 2,
        (src, sch, t, ck) => StreamingIngest.countMinIngest(spark, src, sch, "h", 4, 1024,
          t("state"), ck)),
      new Case("kmvIngest", Seq("state"), () => Seq(hashed("k", 1 to 40), hashed("k", 30 to 80)), 2,
        (src, sch, t, ck) => StreamingIngest.kmvIngest(spark, src, sch, "g", "h", 16,
          t("state"), ck)),
      new Case("bloomIngest", Seq("state"), () => Seq(hashed("i", 1 to 40), hashed("i", 30 to 80)), 2,
        (src, sch, t, ck) => StreamingIngest.bloomIngest(spark, src, sch, "h", 4, 4096,
          t("state"), ck)),
      new Case("decayIngest", Seq("state"), () => Seq(
          Seq((1L, 5L), (1L, 6L), (2L, 7L), (1L, 15L)).toDF("k", "ts"),
          Seq((1L, 25L), (3L, 35L)).toDF("k", "ts")), 4,
        (src, sch, t, ck) => StreamingIngest.decayIngest(spark, src, sch, "k", "ts", 10L, 85, 100,
          t("state"), ck)),
      new Case("basketsIngest", Seq("pairs", "items", "totals"), () => Seq(
          Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (2L, "C")).toDF("b", "i"),
          Seq((3L, "A"), (3L, "C"), (4L, "B")).toDF("b", "i")), 8,
        (src, sch, t, ck) => StreamingIngest.basketsIngest(spark, src, sch, "b", "i", 256,
          t("pairs"), t("items"), t("totals"), ck)),
      new Case("gapFillIngest", Seq("frontier", "fills"), () => Seq(
          Seq(("a", 5L, 1L, 100L), ("a", 25L, 2L, 300L)).toDF("k", "ts", "eid", "v"),
          Seq(("a", 55L, 3L, 900L), ("b", 41L, 4L, 7L)).toDF("k", "ts", "eid", "v")), 6,
        (src, sch, t, ck) => StreamingIngest.gapFillIngest(spark, src, sch, "k", "ts", "v", "eid",
          10L, "locf", t("frontier"), t("fills"), ck)))

    private def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

    /** Runs `body` with AQE off and counts the Spark jobs it started. AQE
      * submits query stages as jobs and re-plans as they finish, so its job
      * count races (one funnelIngest drain drew 12 and 13 jobs on the same
      * code); a static plan makes the count exact. */
    private def jobsOf(body: => Any): Int = {
      val sc = spark.sparkContext
      val n = new AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
      }
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      Settle(sc)
      sc.addSparkListener(l)
      try {
        body
        Settle(sc)
        n.get
      } finally {
        sc.removeSparkListener(l)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
    }

    /** Sorted JSON rows and latest version of one state table. */
    private def snapshot(dir: String): (Seq[String], Option[Long]) = {
      val t = new VersionedTable(spark, dir)
      (t.read().toJSON.collect().toSeq.sorted, t.latestVersion)
    }

    cases.foreach { c =>
      test(s"${c.entry}: replay after a lost stream commit changes no state; drain job count pinned") {
        val root = tmpDir(s"replay-${c.entry}")
        val src = s"$root/in"
        val ck = s"$root/ck"
        val dir = (t: String) => s"$root/$t"
        val drops = c.drops()
        val schema = drops.head.schema
        def land(k: Int): Unit = drops(k).coalesce(1).write.mode("append").parquet(src)

        land(0)
        c.drain(src, schema, dir, ck)
        land(1)
        val jobs = jobsOf(c.drain(src, schema, dir, ck))
        val before = c.tables.map(t => t -> snapshot(dir(t))).toMap
        val key = s"graft.txn.${c.entry}-${md5hex(ck)}"
        c.tables.foreach { t =>
          assert(new VersionedTable(spark, dir(t)).properties.get(key).contains("1"),
            s"$t carries no $key watermark for batch 1")
        }

        Seq("1", ".1.crc").foreach(f => new File(s"$ck/commits/$f").delete(): Unit)
        val q = c.drain(src, schema, dir, ck)
        assert(q.recentProgress.map(_.batchId).contains(1L), "batch 1 was not re-run")
        c.tables.foreach { t =>
          assert(snapshot(dir(t)) == before(t), s"replayed batch 1 changed $t")
        }
        assert(jobs == c.jobs, "drop-1 drain job count")
      }
    }

    test("appIdOf keeps the md5 checkpoint derivation byte for byte") {
      assert(StreamingIngest.appIdOf("hllIngest", "/ck") ==
        "hllIngest-dca96568cabb46d92e126a36d6f0ab34")
    }
  }
}
