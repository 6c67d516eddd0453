package org.apache.spark.graftckpt {

  import org.apache.spark.SparkContext

  /** Unsets the session's checkpoint dir again — SparkContext has no
    * public way back once `setCheckpointDir` ran, and `checkpointDir` is
    * `private[spark]`, hence this package. */
  object CheckpointDir {
    def clear(sc: SparkContext): Unit = sc.checkpointDir = None
  }
}

package graft.operators {

  import java.io.File
  import java.nio.file.{Files, Paths}

  import org.apache.spark.graftckpt.CheckpointDir

  import graft.SparkSuite
  import graft.store.ForeignDeltaTable
  import graft.streaming.StreamingIngest

  /** [[Caching.truncate]] takes the reliable path — an RDD checkpoint
    * written under the session's checkpoint dir, which survives executor
    * loss — whenever a checkpoint dir is set, at every call site routed
    * through it: here the foreign MERGE source and a streaming
    * maintainer's drain. */
  class TruncateSpec extends SparkSuite {
    import spark.implicits._

    /** `rdd-*` directories Spark's reliable checkpoints left under `dir`. */
    private def reliableCheckpoints(dir: String): Int = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .count().toInt
      finally s.close()
    }

    private def withCheckpointDir(body: String => Unit): Unit = {
      val dir = tmpDir("truncate-ckpt")
      spark.sparkContext.setCheckpointDir(dir)
      try body(dir) finally CheckpointDir.clear(spark.sparkContext)
    }

    test("with a checkpoint dir a foreign merge and a maintainer drain checkpoint reliably") {
      withCheckpointDir { dir =>
        val root = tmpDir("truncate-foreign")
        Files.createDirectories(Paths.get(root, "_delta_log"))
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val schema = Seq((1L, "a")).toDF("id", "s").schema
        Files.write(Paths.get(root, "_delta_log", "00000000000000000000.json"), Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
          s"""{"metaData":{"id":"truncate","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}""")
          .mkString("\n").getBytes("UTF-8"))
        val t = new ForeignDeltaTable(spark, root)
        t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
        val beforeMerge = reliableCheckpoints(dir)
        t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "s"), Seq("id"))
        assert(reliableCheckpoints(dir) > beforeMerge, "the merge source checkpoints reliably")
        assert(t.read().orderBy("id").select("s").as[String].collect().toSeq == Seq("a", "B", "c"))

        val src = tmpDir("truncate-src")
        val state = s"${tmpDir("truncate-state")}/state"
        val ck = tmpDir("truncate-stream")
        Seq(("g0", 1L), ("g1", 2L)).toDF("g", "h").coalesce(1)
          .write.mode("append").parquet(src)
        val beforeDrain = reliableCheckpoints(dir)
        StreamingIngest.hllIngest(spark, src, Seq(("g0", 1L)).toDF("g", "h").schema,
          "g", "h", 6, 60, state, ck)
        assert(reliableCheckpoints(dir) > beforeDrain, "the drain's batch output checkpoints reliably")
        assert(new File(state).exists)
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty)
    }
  }
}
