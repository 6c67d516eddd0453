package graft.store

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftreplay.Settle
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** A checkpoint is the log's state, not a lossy summary of it: the snapshot
  * resolved from checkpoint + JSON tail must equal the snapshot of the same
  * log with every checkpoint file removed (a JSON-only replay) — files with
  * their deletion vectors, partition values, stats and row ids, remove
  * tombstones, domain metadata, SetTransaction watermarks, configuration
  * and protocol. Covers the foreign writer's classic and v2 checkpoints,
  * and the graft mirror's checkpoints. */
class CheckpointReplaySpec extends SparkSuite {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Everything a snapshot carries, in a comparable form. */
  private def state(s: DeltaTable.Snapshot) = (
    s.version, s.schema, s.partitionColumns, s.configuration, s.tableId,
    (s.minReaderVersion, s.minWriterVersion, s.readerFeatures, s.writerFeatures),
    s.adds.sortBy(_.rawPath), s.tombstones.toMap, s.domainMetadata, s.txns)

  /** A copy of `root` without any checkpoint file, `_sidecars/` or
    * `_last_checkpoint`: only the JSON commits (and crcs) remain. */
  private def jsonOnlyCopy(root: String): String = {
    val dest = tmpDir("ckr-json")
    val src = Paths.get(root)
    Files.walk(src).forEach { p =>
      val rel = src.relativize(p).toString
      val isCheckpoint = rel.contains(".checkpoint.") || rel.contains("_sidecars") ||
        rel.endsWith("_last_checkpoint")
      if (!isCheckpoint) {
        val to = Paths.get(dest).resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    dest
  }

  /** Spark jobs `body` starts, with AQE off so the count is exact. */
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

  private def rows(ids: Range, p: Option[String]): DataFrame =
    ids.map(i => (i.toLong, p)).toDF("id", "p").coalesce(1)

  /** A partitioned foreign table with deletion vectors and row tracking,
    * carried past its v10 checkpoint: a null partition value (v1), an
    * overwrite leaving remove tombstones (v2), a txn watermark (v3), a DV
    * delete (v4), appends to v10 and one tail commit (v11). */
  private def foreignPastCheckpoint(prefix: String, v2: Boolean): String = {
    val root = tmpDir(prefix)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val (rf, wf, cfg) =
      if (v2) (""""v2Checkpoint","deletionVectors"""",
        """"v2Checkpoint","deletionVectors","rowTracking","domainMetadata"""",
        ""","delta.checkpointPolicy":"v2"""")
      else (""""deletionVectors"""", """"deletionVectors","rowTracking","domainMetadata"""", "")
    val v0 = Seq(
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[$rf],"writerFeatures":[$wf]}}""",
      s"""{"metaData":{"id":"ckr-$prefix","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(rows(0 until 1, None).schema.json)},"partitionColumns":["p"],"configuration":{"delta.enableRowTracking":"true"$cfg},"createdTime":1}}""")
    Files.write(Paths.get(root, "_delta_log", "00000000000000000000.json"),
      v0.mkString("\n").getBytes("UTF-8"))
    val t = new ForeignDeltaTable(spark, root)
    t.append(rows(0 until 4, Some("a")).unionByName(rows(4 until 6, None))) // v1
    t.overwrite(rows(10 until 14, Some("a")).unionByName(rows(14 until 16, None))) // v2
    t.appendIdempotent(rows(20 until 22, Some("b")), "streamA", 7L) // v3
    t.deleteWhere(col("id") === 10L) // v4
    (5 to 10).foreach(i => t.append(rows(100 + i until 101 + i, Some("c")))) // v5..v10
    t.append(rows(200 until 202, None)) // v11: the tail
    root
  }

  private def assertCarriesEverything(s: DeltaTable.Snapshot): Unit = {
    assert(s.version == 11L)
    assert(s.adds.exists(_.dv.isDefined), "a DV'd file")
    assert(s.adds.exists(_.partitionValues.get("p").contains(None)), "a null partition value")
    assert(s.adds.forall(_.baseRowId.isDefined), "row ids")
    assert(s.tombstones.nonEmpty, "remove tombstones")
    assert(s.domainMetadata.contains("delta.rowTracking"), "the row-tracking domain")
    assert(s.txns.get("streamA").contains(7L), "the txn watermark")
  }

  test("foreign classic checkpoint + tail resolves to the JSON-only snapshot; jobs pinned") {
    val root = foreignPastCheckpoint("ckr-classic", v2 = false)
    assert(new File(root, "_delta_log/00000000000000000010.checkpoint.parquet").exists)
    var fromCheckpoint: DeltaTable.Snapshot = null
    val jobs = jobsOf { fromCheckpoint = DeltaTable.snapshot(spark, root) }
    val jsonOnly = DeltaTable.snapshot(spark, jsonOnlyCopy(root))
    assertCarriesEverything(fromCheckpoint)
    assert(state(fromCheckpoint) == state(jsonOnly))
    // the checkpoint's schema inference and ONE collect of its action rows
    assert(jobs == 2, "checkpointed snapshot job count")
  }

  test("foreign v2 checkpoint with a sidecar resolves to the JSON-only snapshot; jobs pinned") {
    val root = foreignPastCheckpoint("ckr-v2", v2 = true)
    val log = new File(root, "_delta_log")
    assert(!new File(log, "00000000000000000010.checkpoint.parquet").exists)
    assert(log.listFiles().exists(_.getName.startsWith("00000000000000000010.checkpoint.")))
    assert(new File(log, "_sidecars").listFiles().exists(_.getName.endsWith(".parquet")))
    var fromCheckpoint: DeltaTable.Snapshot = null
    val jobs = jobsOf { fromCheckpoint = DeltaTable.snapshot(spark, root) }
    val jsonOnly = DeltaTable.snapshot(spark, jsonOnlyCopy(root))
    assertCarriesEverything(fromCheckpoint)
    assert(state(fromCheckpoint) == state(jsonOnly))
    // manifest and sidecar: one schema inference and one collect each
    assert(jobs == 4, "v2-checkpointed snapshot job count")
  }

  test("mirror checkpoints keep the remove tombstones and each file's mtime") {
    val root = tmpDir("ckr-mirror")
    val t = new VersionedTable(spark, root)
    (0 until 5).foreach(i => t.append(rows(i until i + 1, Some("x")))) // v0..v4
    t.overwrite(rows(50 until 52, Some("y"))) // v5: removes v0..v4's files
    (6 to 11).foreach(i => t.append(rows(100 + i until 101 + i, Some("z")))) // v6..v11
    val log = new File(root, "_delta_log")
    val cp = new File(log, "00000000000000000010.checkpoint.parquet")
    assert(cp.exists)
    def lines(v: Long) = DeltaActions.read(new Fs(spark, root),
      new org.apache.hadoop.fs.Path(new File(log, f"$v%020d.json").toString))
    val removedAtV5 = lines(5).collect { case r: DeltaActions.RemoveFile => r.path }.toSet
    assert(removedAtV5.nonEmpty && removedAtV5 ==
      DeltaTable.snapshot(spark, root, versionAsOf = Some(4L)).adds.map(_.rawPath).toSet)
    val cpDf = spark.read.parquet(cp.toString)
    val cpRemoves = cpDf.where(col("remove").isNotNull).select("remove.path").as[String]
      .collect().toSet
    assert(cpRemoves == removedAtV5, "the v10 checkpoint carries v5's removes")
    // every checkpointed add keeps the modificationTime its commit recorded
    val committed = (0L to 10L).flatMap(lines).collect {
      case DeltaActions.AddFile(a, _) => a.rawPath -> a.mtime
    }.toMap
    val cpAdds = cpDf.where(col("add").isNotNull)
      .select("add.path", "add.modificationTime").as[(String, Long)].collect().toSeq
    assert(cpAdds.map(_._1).toSet ==
      DeltaTable.snapshot(spark, root, versionAsOf = Some(10L)).adds.map(_.rawPath).toSet)
    cpAdds.foreach { case (p, mt) => assert(committed.get(p).contains(mt), p) }
    val fromCheckpoint = DeltaTable.snapshot(spark, root)
    val jsonOnly = DeltaTable.snapshot(spark, jsonOnlyCopy(root))
    assert(fromCheckpoint.tombstones.map(_._1).toSet == removedAtV5)
    assert(state(fromCheckpoint) == state(jsonOnly))
  }
}
