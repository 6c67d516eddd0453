package graft.store

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** External-Delta-table reader (graft.store.DeltaTable):
  *  - opens a mirror-written table from `_delta_log/` ALONE (no
  *    `_graft_log/`) and matches the VersionedTable content exactly,
  *    through checkpoints and versionAsOf;
  *  - replays a hand-crafted protocol fixture with remove actions, a
  *    classic checkpoint, percent-encoded paths, partition columns, and
  *    per-file stats (pruning included);
  *  - reads column mapping (name + id), v2 checkpoints and (in
  *    DeletionVectorSpec) deletion vectors; rejects genuinely unknown
  *    protocol features LOUDLY instead of misreading them. */
class DeltaReaderSpec extends SparkSuite {
  import spark.implicits._

  /** Row shape of the hand-built checkpoint fixtures: protocol, metaData,
    * add (with its deletion vector) and txn columns — a checkpoint that
    * omits the optional action columns, as other writers may. */
  private val FixtureCheckpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType))))))

  private def rm(path: String): Unit = {
    def loop(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(loop)
      f.delete(): Unit
    }
    loop(new File(path))
  }

  test("opens a mirror-written table without its _graft_log") {
    val root = tmpDir("dt-mirror")
    val t = new VersionedTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v0
    t.append(Seq((3L, "c")).toDF("id", "s")) // v1
    t.merge(Seq((2L, "B2"), (9L, "i")).toDF("id", "s"), Seq("id")) // v2
    val expectAll = t.read().collect().map(_.toSeq.toList).sortBy(_.toString)
    val expectV1 = t.readVersion(1L).collect().map(_.toSeq.toList).sortBy(_.toString)
    rm(s"$root/_graft_log")
    assert(!new File(s"$root/_graft_log").exists())

    assert(DeltaTable.isDeltaTable(spark, root))
    val snap = DeltaTable.snapshot(spark, root)
    assert(snap.version == 2L)
    val got = DeltaTable.read(spark, root).collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(got.toSeq == expectAll.toSeq)
    // versionAsOf replays the remove/add diff of the merge backwards
    val gotV1 = DeltaTable.read(spark, root, versionAsOf = Some(1L))
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(gotV1.toSeq == expectV1.toSeq)
    // the DeltaTableSource seam reads the same rows
    val src = new graft.sources.DeltaTableSource(root, pks = Seq("id"))
    assert(src.read(spark).count() == expectAll.length)
    assert(src.columns(spark).map(_.name).map(_.toLowerCase).toSet == Set("id", "s"))
  }

  test("graft.txn.* watermarks mirror as protocol txn actions (json + checkpoint)") {
    val root = tmpDir("dt-txn")
    val t = new VersionedTable(spark, root)
    t.append(Seq((1L, "a")).toDF("id", "s")) // v0
    t.appendIdempotent(Seq((2L, "b")).toDF("id", "s"), "appX", 5L) // v1
    t.appendIdempotent(Seq((3L, "c")).toDF("id", "s"), "appX", 6L) // v2
    // external delta-spark-style txnVersion over the MIRRORED log
    assert(DeltaTable.latestTxnVersion(spark, root, "appX").contains(6L))
    // replayed batch: no mirror commit, watermark unchanged
    t.appendIdempotent(Seq((3L, "c")).toDF("id", "s"), "appX", 6L)
    assert(DeltaTable.snapshot(spark, root).version == 2L)
    // watermark survives the mirror checkpoint once early JSONs are gone
    (3 to 10).foreach(i => t.append(Seq((10L + i, "z")).toDF("id", "s"))) // ...v10
    assert(new File(root, "_delta_log/00000000000000000010.checkpoint.parquet").exists)
    (0L to 5L).foreach(v => new File(root, f"_delta_log/$v%020d.json").delete())
    assert(DeltaTable.latestTxnVersion(spark, root, "appX").contains(6L))
  }

  test("delta.checkpointInterval on a graft table drives the mirror's cadence") {
    val root = tmpDir("dt-cpint")
    val t = new VersionedTable(spark, root)
    t.append(Seq((0L, "seed")).toDF("id", "s")) // v0
    t.setProperties(Map("delta.checkpointInterval" -> "3")) // v1
    (2 to 7).foreach(i => t.append(Seq((i.toLong, "x")).toDF("id", "s")))
    def cp(v: Long) = new File(root, f"_delta_log/$v%020d.checkpoint.parquet")
    assert(cp(3).exists && cp(6).exists, "cadence-3 mirror checkpoints")
    assert(!cp(4).exists && !cp(5).exists && !cp(7).exists)
    // the early checkpoint is a usable external snapshot
    (0L to 2L).foreach(v => new File(root, f"_delta_log/$v%020d.json").delete())
    assert(DeltaTable.read(spark, root).count() == 7L)
  }

  test("rowIds: fresh derivation, DV stability, materialized override") {
    val root = tmpDir("dt-rowids")
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    // data file 1: plain (fresh ids only); data file 2: carries a
    // materialized row-id column where one row overrides and one is null
    def oneFile(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val stage = tmpDir(s"dt-rowids-st-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(root, name)): Unit
      rm(stage)
      new File(root, name).length()
    }
    val sz1 = oneFile(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), "f1.parquet")
    val sz2 = oneFile(
      Seq((10L, "x", Some(7000L)), (11L, "y", None: Option[Long]))
        .toDF("id", "s", "_mat_rid"),
      "f2.parquet")
    val logical = Seq((1L, "a")).toDF("id", "s").schema
    new File(root, "_delta_log").mkdirs()
    Files.write(java.nio.file.Paths.get(root, "_delta_log", "00000000000000000000.json"),
      Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata"]}}""",
        s"""{"metaData":{"id":"rid-1","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.enableRowTracking":"true","delta.rowTracking.materializedRowIdColumnName":"_mat_rid"},"createdTime":1}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$sz1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":3}","baseRowId":0,"defaultRowCommitVersion":0}}""",
        s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":$sz2,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2}","baseRowId":3,"defaultRowCommitVersion":0}}""",
        """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":4}","removed":false}}""")
        .mkString("\n").getBytes("UTF-8")): Unit

    def ids(): Map[Long, (Long, Long)] =
      DeltaTable.read(spark, root, rowIds = true)
        .select(col("id"), col(DeltaTable.RowIdCol), col(DeltaTable.RowCommitVersionCol))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // fresh = baseRowId + row_index; the materialized 7000 outranks fresh;
    // the null materialized value falls back to the derivation
    assert(ids() == Map(
      1L -> (0L, 0L), 2L -> (1L, 0L), 3L -> (2L, 0L),
      10L -> (7000L, 0L), 11L -> (4L, 0L)))
    // logical read shape is unchanged (no row-id columns unless asked)
    assert(DeltaTable.read(spark, root).columns.toSeq == Seq("id", "s"))

    // a DV delete keeps every SURVIVING row's id stable
    val t = new ForeignDeltaTable(spark, root)
    t.deleteWhere(col("id") === 2L, allowProtocolUpgrade = true)
    assert(ids() == Map(
      1L -> (0L, 0L), 3L -> (2L, 0L), 10L -> (7000L, 0L), 11L -> (4L, 0L)))
    // a fresh append takes ids above the mark, stamped with its commit
    t.append(Seq((20L, "n")).toDF("id", "s"))
    val after = ids()
    assert(after(20L) == (5L, 2L))
    assert(after - 20L == Map(
      1L -> (0L, 0L), 3L -> (2L, 0L), 10L -> (7000L, 0L), 11L -> (4L, 0L)))

    // non-row-tracked tables refuse the option loudly
    val plain = tmpDir("dt-rowids-plain")
    val tp = new VersionedTable(spark, plain)
    tp.append(Seq((1L, "a")).toDF("id", "s"))
    rm(s"$plain/_graft_log")
    intercept[IllegalArgumentException] {
      DeltaTable.read(spark, plain, rowIds = true).collect()
    }
  }

  test("opens a mirror-written table from its parquet checkpoint") {
    val root = tmpDir("dt-cp")
    val t = new VersionedTable(spark, root)
    // 12 commits → mirror writes a checkpoint at v10
    (0 until 12).foreach(k => t.append(Seq((k.toLong, s"r$k")).toDF("id", "s")))
    val expect = t.read().count()
    rm(s"$root/_graft_log")
    assert(new File(s"$root/_delta_log/00000000000000000010.checkpoint.parquet").exists())
    // drop the pre-checkpoint JSON commits: a reader that insists on full
    // JSON replay would fail here — the checkpoint must carry the state
    (0 to 9).foreach { v =>
      new File(f"$root/_delta_log/$v%020d.json").delete(): Unit
    }
    assert(DeltaTable.read(spark, root).count() == expect)
    // a version BELOW the surviving checkpoint is genuinely unreachable
    intercept[IllegalArgumentException](
      DeltaTable.snapshot(spark, root, versionAsOf = Some(5L)))
    // but the checkpoint version itself is
    assert(DeltaTable.read(spark, root, versionAsOf = Some(10L)).count() == 11)
  }

  private def writeCommit(logDir: String, v: Long, lines: Seq[String]): Unit = {
    new File(logDir).mkdirs()
    Files.write(java.nio.file.Paths.get(f"$logDir/$v%020d.json"),
      lines.mkString("\n").getBytes("UTF-8")): Unit
  }

  private val fixtureSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def metaLine(schema: StructType, partCols: Seq[String] = Nil,
      config: String = "{}"): String = {
    val pc = partCols.map(c => s""""$c"""").mkString(",")
    s"""{"metaData":{"id":"fix-1","format":{"provider":"parquet","options":{}},
       |"schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
         .writeValueAsString(schema.json)},
       |"partitionColumns":[$pc],"configuration":$config,"createdTime":1}}"""
      .stripMargin.replaceAll("\n", "")
  }

  /** Write rows as ONE parquet file under dir; returns (fileName, size). */
  private def onePart(dir: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val staging = tmpDir("dt-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val name = part.getName
    new File(dir).mkdirs()
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name"))
    (name, new File(s"$dir/$name").length())
  }

  test("hand-crafted log: removes, checkpoint, stats pruning, versionAsOf") {
    val root = tmpDir("dt-fix")
    val log = s"$root/_delta_log"
    val (f0, s0) = onePart(root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val (f1, s1) = onePart(root, Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    val (f2, s2) = onePart(root, Seq((100L, "x"), (200L, "y")).toDF("id", "v"))
    def stats(n: Long, lo: Long, hi: Long) =
      s"""{\\"numRecords\\":$n,\\"minValues\\":{\\"id\\":$lo},\\"maxValues\\":{\\"id\\":$hi},\\"nullCount\\":{\\"id\\":0}}"""
    writeCommit(log, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(fixtureSchema),
      s"""{"add":{"path":"$f0","partitionValues":{},"size":$s0,"modificationTime":1000,"dataChange":true,"stats":"${stats(2, 1, 2)}"}}"""))
    writeCommit(log, 1L, Seq(
      s"""{"add":{"path":"$f1","partitionValues":{},"size":$s1,"modificationTime":2000,"dataChange":true,"stats":"${stats(2, 3, 4)}"}}"""))
    // v2 REPLACES f0 with f2
    writeCommit(log, 2L, Seq(
      s"""{"remove":{"path":"$f0","deletionTimestamp":3000,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":$s2,"modificationTime":3000,"dataChange":true,"stats":"${stats(2, 100, 200)}"}}"""))

    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 100L, 200L))
    assert(DeltaTable.read(spark, root, versionAsOf = Some(0L))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(DeltaTable.read(spark, root, versionAsOf = Some(1L))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))

    // per-file stats prune: id > 50 must plan only f2
    val df = DeltaTable.read(spark, root).filter($"id" > 50L)
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(100L, 200L))
    val idx = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.DeltaFileIndex => g }
    assert(idx.isDefined, "scan must ride DeltaFileIndex")
    assert(idx.get.lastPruning.contains((1, 2)), s"got ${idx.get.lastPruning}")

    // ---- classic checkpoint at v2: state must come from parquet alone
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val cpRows: Seq[Row] = Seq(
      Row(Row(1, 2, null, null), null, null, null),
      Row(null, Row("fix-1", null, null, Row("parquet", Map.empty[String, String]),
        fixtureSchema.json, Seq.empty[String], Map.empty[String, String], 1L), null, null),
      Row(null, null, Row(f1, Map.empty[String, String], s1, 2000L, false, null), null),
      Row(null, null, Row(f2, Map.empty[String, String], s2, 3000L, false, null), null))
    val cpDf = spark.createDataFrame(cpRows.asJava, FixtureCheckpointSchema).coalesce(1)
    val cpStage = tmpDir("dt-cpstage")
    cpDf.write.mode("overwrite").parquet(cpStage)
    val cpPart = new File(cpStage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(cpPart.toPath,
      java.nio.file.Paths.get(s"$log/00000000000000000002.checkpoint.parquet"))
    Files.write(java.nio.file.Paths.get(s"$log/_last_checkpoint"),
      """{"version":2,"size":4}""".getBytes("UTF-8"))
    // delete ALL JSON commits — only the checkpoint remains
    (0L to 2L).foreach(v => new File(f"$log/$v%020d.json").delete(): Unit)
    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L, 100L, 200L))
  }

  test("partitioned fixture reconstructs and prunes partition columns") {
    val root = tmpDir("dt-part")
    val log = s"$root/_delta_log"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", IntegerType),
      StructField("d", DateType)))
    // data files hold ONLY the data column (protocol: partition values live
    // in the log, not the files)
    val (fa, sa) = onePart(s"$root/p=1", Seq(Tuple1(1L)).toDF("id"))
    val (fb, sb) = onePart(s"$root/p=2", Seq(Tuple1(2L)).toDF("id"))
    writeCommit(log, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(schema, partCols = Seq("p", "d")),
      s"""{"add":{"path":"p%3D1/$fa","partitionValues":{"p":"1","d":"2024-05-01"},"size":$sa,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"p%3D2/$fb","partitionValues":{"p":"2","d":null},"size":$sb,"modificationTime":1,"dataChange":true}}"""))
    // NOTE p%3D1: percent-encoded '=' exercises URI decoding
    val df = DeltaTable.read(spark, root)
    assert(df.schema.fieldNames.toSeq == Seq("id", "p", "d"))
    val all = df.collect().map(r => (r.getLong(0), r.getInt(1), Option(r.getDate(2)).map(_.toString)))
    assert(all.toSet == Set((1L, 1, Some("2024-05-01")), (2L, 2, None)))
    // partition pruning: p = 2 must plan one file
    val pruned = df.filter($"p" === 2)
    assert(pruned.count() == 1)
    val idx = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.DeltaFileIndex => g }
    assert(idx.get.lastPruning.contains((1, 2)), s"got ${idx.get.lastPruning}")
  }

  test("name-mode column mapping: physical parquet columns read back as logical names") {
    val root = tmpDir("dt-nm")
    val log = s"$root/_delta_log"
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    // logical (id, v, s{x}, p) ← physical (col-11, col-22, col-44{col-55}, col-33);
    // nested struct field mapped too (Databricks maps every level)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "col-11")),
      StructField("v", StringType, nullable = true, fm(2, "col-22")),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = true, fm(5, "col-55")))),
        nullable = true, fm(4, "col-44")),
      StructField("p", IntegerType, nullable = true, fm(3, "col-33"))))
    // data files carry PHYSICAL column names (protocol writer requirement)
    def physDf(rows: Seq[(Long, String, Long)]) = {
      val df = rows.toDF("col-11", "col-22", "nx")
      df.select(col("`col-11`"), col("`col-22`"),
        struct(col("nx").as("col-55")).as("col-44"))
    }
    val (fa, sa) = onePart(s"$root/part1", physDf(Seq((1L, "a", 10L), (2L, "b", 20L))))
    val (fb, sb) = onePart(s"$root/part2", physDf(Seq((100L, "x", 30L), (200L, "y", 40L))))
    // stats + partitionValues are keyed by PHYSICAL names as well
    def stats(n: Long, lo: Long, hi: Long) =
      s"""{\\"numRecords\\":$n,\\"minValues\\":{\\"col-11\\":$lo},\\"maxValues\\":{\\"col-11\\":$hi},\\"nullCount\\":{\\"col-11\\":0}}"""
    writeCommit(log, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      metaLine(schema, partCols = Seq("p"),
        config = """{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"}"""),
      s"""{"add":{"path":"part1/$fa","partitionValues":{"col-33":"1"},"size":$sa,"modificationTime":1,"dataChange":true,"stats":"${stats(2, 1, 2)}"}}""",
      s"""{"add":{"path":"part2/$fb","partitionValues":{"col-33":"2"},"size":$sb,"modificationTime":1,"dataChange":true,"stats":"${stats(2, 100, 200)}"}}"""))

    val df = DeltaTable.read(spark, root)
    // logical shape, logical names — nested included
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "s", "p"))
    assert(df.schema("s").dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("x"))
    val all = df.select($"id", $"v", $"s.x", $"p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    assert(all == Set((1L, "a", 10L, 1), (2L, "b", 20L, 1),
      (100L, "x", 30L, 2), (200L, "y", 40L, 2)))
    // stats pruning still works through the physical keys: id > 50 → 1 file
    val prunedS = df.filter($"id" > 50L)
    assert(prunedS.select("id").as[Long].collect().sorted.toSeq == Seq(100L, 200L))
    def lastPruning(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
      }.collectFirst { case g: org.apache.spark.sql.graft.DeltaFileIndex => g }
        .flatMap(_.lastPruning)
    assert(lastPruning(prunedS).contains((1, 2)), s"got ${lastPruning(prunedS)}")
    // partition pruning on the logical partition column name
    val prunedP = df.filter($"p" === 2)
    assert(prunedP.count() == 2)
    assert(lastPruning(prunedP).contains((1, 2)), s"got ${lastPruning(prunedP)}")
    // the source seam surfaces logical columns
    val src = new graft.sources.DeltaTableSource(root, pks = Seq("id"))
    assert(src.columns(spark).map(_.name).toSet == Set("id", "v", "s", "p"))
  }

  test("v2 checkpoint: json manifest + parquet sidecars reconstruct state alone") {
    val root = tmpDir("dt-v2j")
    val log = s"$root/_delta_log"
    val (f0, s0) = onePart(root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val (f1, s1) = onePart(root, Seq((3L, "c")).toDF("id", "v"))
    // sidecar parquet carrying the two live adds (action-frame shape)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val sideRows = Seq(
      Row(null, null, Row(f0, Map.empty[String, String], s0, 1000L, false, null), null),
      Row(null, null, Row(f1, Map.empty[String, String], s1, 2000L, false, null), null))
    val sideDf = spark.createDataFrame(sideRows.asJava, FixtureCheckpointSchema)
      .coalesce(1)
    val stage = tmpDir("dt-v2j-stage")
    sideDf.write.mode("overwrite").parquet(stage)
    val part = new File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new File(s"$log/_sidecars").mkdirs()
    val sideName = "00000-aaaa-bbbb.parquet"
    Files.move(part.toPath, java.nio.file.Paths.get(s"$log/_sidecars/$sideName"))
    // v2 JSON manifest: protocol (v2Checkpoint feature) + metaData +
    // checkpointMetadata + sidecar pointer; NO json commits survive
    Files.write(java.nio.file.Paths.get(
      s"$log/00000000000000000001.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json"),
      Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
        metaLine(fixtureSchema),
        """{"checkpointMetadata":{"version":1,"tags":{}}}""",
        s"""{"sidecar":{"path":"$sideName","sizeInBytes":1234,"modificationTime":2000,"tags":{}}}""")
        .mkString("\n").getBytes("UTF-8"))
    assert(DeltaTable.isDeltaTable(spark, root))
    val snap = DeltaTable.snapshot(spark, root)
    assert(snap.version == 1L && snap.numFiles == 2)
    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // a JSON commit after the v2 checkpoint replays on top
    writeCommit(log, 2L, Seq(
      s"""{"remove":{"path":"$f0","deletionTimestamp":3000,"dataChange":true}}"""))
    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L))
  }

  test("v2 checkpoint: parquet manifest with sidecar actions") {
    val root = tmpDir("dt-v2p")
    val log = s"$root/_delta_log"
    val (f0, s0) = onePart(root, Seq((7L, "x"), (8L, "y")).toDF("id", "v"))
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    // manifest parquet: protocol + metaData + sidecar columns (no adds)
    val sidecarT = StructType(Seq(
      StructField("path", StringType), StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val manifestSchema = StructType(
      FixtureCheckpointSchema.fields.toSeq :+ StructField("sidecar", sidecarT))
    // sidecar file itself uses the plain action shape
    val sideDf = spark.createDataFrame(
      Seq(Row(null, null,
        Row(f0, Map.empty[String, String], s0, 1000L, false, null), null)).asJava,
      FixtureCheckpointSchema).coalesce(1)
    val stage = tmpDir("dt-v2p-stage")
    sideDf.write.mode("overwrite").parquet(stage)
    val sidePart = new File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new File(s"$log/_sidecars").mkdirs()
    val sideName = "00001-cccc-dddd.parquet"
    Files.move(sidePart.toPath, java.nio.file.Paths.get(s"$log/_sidecars/$sideName"))
    val manifestRows = Seq(
      Row(Row(3, 7, null, null), null, null, null, null),
      Row(null, Row("fix-2", null, null, Row("parquet", Map.empty[String, String]),
        fixtureSchema.json, Seq.empty[String], Map.empty[String, String], 1L), null, null, null),
      Row(null, null, null, null, Row(sideName, 1234L, 2000L)))
    val mDf = spark.createDataFrame(manifestRows.asJava, manifestSchema).coalesce(1)
    val mStage = tmpDir("dt-v2p-mstage")
    mDf.write.mode("overwrite").parquet(mStage)
    val mPart = new File(mStage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(mPart.toPath, java.nio.file.Paths.get(
      s"$log/00000000000000000000.checkpoint.11111111-2222-3333-4444-555555555555.parquet"))
    assert(DeltaTable.read(spark, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 8L))
  }

  test("id-mode column mapping: parquet columns resolve by field id, not name") {
    val root = tmpDir("dt-im")
    val log = s"$root/_delta_log"
    def fm(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, fm(1, "col-aa")),
      StructField("v", StringType, nullable = true, fm(2, "col-bb"))))
    // the data file's column NAMES deliberately differ from the log's
    // physicalName — only the stamped parquet field ids line up, so a
    // name-based read would MISS both columns; id resolution must win
    def pfid(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("legacy_id", LongType, nullable = true, pfid(1)),
      StructField("legacy_v", StringType, nullable = true, pfid(2))))
    assert(spark.conf.get("spark.sql.parquet.fieldId.write.enabled") == "true")
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")),
      fileSchema)
    val (fa, sa) = onePart(root, df)
    // stats keyed by PHYSICAL name (protocol), as in name mode
    val stats =
      """{\"numRecords\":2,\"minValues\":{\"col-aa\":1},\"maxValues\":{\"col-aa\":2},\"nullCount\":{\"col-aa\":0}}"""
    writeCommit(log, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      metaLine(schema,
        config = """{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}"""),
      s"""{"add":{"path":"$fa","partitionValues":{},"size":$sa,"modificationTime":1,"dataChange":true,"stats":"$stats"}}"""))
    val got = DeltaTable.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("typeWidening: pre-widening narrow files read under the widened schema") {
    val root = tmpDir("dt-widen")
    val log = s"$root/_delta_log"
    // v0: int id, float score — the NARROW vintage
    val narrow = StructType(Seq(
      StructField("id", IntegerType), StructField("score", FloatType)))
    val (f0, s0) = onePart(root, spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1, 1.5f),
        org.apache.spark.sql.Row(2, 2.5f)), narrow))
    writeCommit(log, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(narrow),
      s"""{"add":{"path":"$f0","partitionValues":{},"size":$s0,"modificationTime":1000,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":1},\\"maxValues\\":{\\"id\\":2},\\"nullCount\\":{\\"id\\":0}}"}}"""))
    // v1: the owner engine widens id→long, score→double (protocol
    // typeWidening in BOTH feature lists + delta.typeChanges field
    // metadata, the PROTOCOL.md Type Widening shape)
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = true,
        Metadata.fromJson("""{"delta.typeChanges":[{"fromType":"integer","toType":"long","tableVersion":1}]}""")),
      StructField("score", DoubleType, nullable = true,
        Metadata.fromJson("""{"delta.typeChanges":[{"fromType":"float","toType":"double","tableVersion":1}]}"""))))
    val (f1, s1) = onePart(root, Seq((3L, 3.5d)).toDF("id", "score"))
    writeCommit(log, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      metaLine(wide),
      s"""{"add":{"path":"$f1","partitionValues":{},"size":$s1,"modificationTime":2000,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"id\\":3},\\"maxValues\\":{\\"id\\":3},\\"nullCount\\":{\\"id\\":0}}"}}"""))
    val df = DeltaTable.read(spark, root)
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("score").dataType == DoubleType)
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // the narrow file's int-vintage stats still prune under the long schema
    val pf = DeltaTable.read(spark, root).filter($"id" >= 3L)
    assert(pf.as[(Long, Double)].collect().toSeq == Seq((3L, 3.5)))
    val idx = pf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location
    }.collectFirst { case g: org.apache.spark.sql.graft.DeltaFileIndex => g }
    assert(idx.get.lastPruning.contains((1, 2)), s"got ${idx.get.lastPruning}")
    // time travel to the narrow vintage serves the NARROW schema
    assert(DeltaTable.read(spark, root, versionAsOf = Some(0L))
      .schema("id").dataType == IntegerType)
  }

  test("timestampAsOf resolves against commit mtimes") {
    val root = tmpDir("dt-ts")
    val t = new VersionedTable(spark, root)
    t.append(Seq((1L, "a")).toDF("id", "s"))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(1200) // mtime granularity can be a full second
    t.append(Seq((2L, "b")).toDF("id", "s"))
    rm(s"$root/_graft_log")
    assert(DeltaTable.read(spark, root, timestampAsOf = Some(afterV0)).count() == 1)
    assert(DeltaTable.read(spark, root,
      timestampAsOf = Some(System.currentTimeMillis())).count() == 2)
    intercept[IllegalArgumentException](
      DeltaTable.snapshot(spark, root, timestampAsOf = Some(1L)))
  }

  test("in-commit timestamps outrank scrambled file mtimes for time travel") {
    // the Delta inCommitTimestamp feature: the monotonic embedded clock is
    // the time-travel authority — file mtimes (scrambled here the way log
    // replication or a restore would) must be ignored for enabled commits
    val root = tmpDir("dt-ict")
    val log = s"$root/_delta_log"
    val schemaJ = fixtureSchema
    val cfg = """{"delta.enableInCommitTimestamps":"true",""" +
      """"delta.inCommitTimestampEnablementVersion":"0"}"""
    def addLine(name: String, size: Long) =
      s"""{"add":{"path":"$name","partitionValues":{},"size":$size,""" +
        s""""modificationTime":1,"dataChange":true}}"""
    val icts = Seq(1000000L, 2000000L, 3000000L)
    (0 to 2).foreach { v =>
      val (name, size) = onePart(root, Seq((v.toLong, s"r$v")).toDF("id", "v"))
      writeCommit(log, v.toLong, Seq(
        s"""{"commitInfo":{"timestamp":9,"inCommitTimestamp":${icts(v)}}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["inCommitTimestamp"],"writerFeatures":["inCommitTimestamp"]}}""",
        metaLine(schemaJ, config = cfg),
        addLine(name, size)))
    }
    // scramble mtimes REVERSED: newest commit gets the oldest mtime
    val fs = new graft.store.Fs(spark, root).fs
    (0 to 2).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(f"$log/$v%020d.json"),
        (3 - v) * 1000000L, -1)
    }
    // the ICT clock resolves: 2.5M → v1 (rows 0,1); mtimes would say v0
    assert(DeltaTable.read(spark, root, timestampAsOf = Some(2500000L))
      .count() == 2)
    assert(DeltaTable.read(spark, root, timestampAsOf = Some(1000000L))
      .count() == 1)
    intercept[IllegalArgumentException](
      DeltaTable.snapshot(spark, root, timestampAsOf = Some(999L)))
    // readChanges stamps _commit_timestamp from the embedded clock
    val ts = DeltaTable.readChanges(spark, root, 1L, 1L)
      .select(col("_commit_timestamp").cast("long")).head().getLong(0)
    assert(ts == 2000L, s"expected ICT seconds 2000, got $ts") // 2000000 ms
  }

  test("unsupported tables are rejected loudly") {
    val schemaJ = fixtureSchema
    // an unknown reader feature this reader has never heard of
    val r1 = tmpDir("dt-unk")
    writeCommit(s"$r1/_delta_log", 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["futureFancyEncoding"],"writerFeatures":["futureFancyEncoding"]}}""",
      metaLine(schemaJ)))
    intercept[UnsupportedOperationException](DeltaTable.snapshot(spark, r1))
    // an unknown column-mapping mode stays out (name and id are read)
    val r2 = tmpDir("dt-cm")
    writeCommit(s"$r2/_delta_log", 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(schemaJ, config = """{"delta.columnMapping.mode":"hash"}""")))
    intercept[UnsupportedOperationException](DeltaTable.snapshot(spark, r2))
    // a reader version above anything specified
    val r3 = tmpDir("dt-v9")
    writeCommit(s"$r3/_delta_log", 0L, Seq(
      """{"protocol":{"minReaderVersion":9,"minWriterVersion":9}}""",
      metaLine(schemaJ)))
    intercept[UnsupportedOperationException](DeltaTable.snapshot(spark, r3))
    // supported v3 features pass (deletionVectors decoding is covered by
    // DeletionVectorSpec)
    val r4 = tmpDir("dt-ok3")
    writeCommit(s"$r4/_delta_log", 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","deletionVectors"],"writerFeatures":["timestampNtz","deletionVectors"]}}""",
      metaLine(schemaJ)))
    assert(DeltaTable.snapshot(spark, r4).version == 0L)
    // not a delta table at all
    intercept[IllegalArgumentException](DeltaTable.snapshot(spark, tmpDir("dt-empty")))
  }
}
