package graft.store

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The Delta action encoder: each action's exact JSON line (field order,
  * omitted optionals, the table-features rule), and — over every flow that
  * removes a file carrying a deletion vector — a protocol replay of the
  * written `_delta_log` that reconciles file actions on (path, deletion
  * vector unique id) the way PROTOCOL.md "Add File and Remove File"
  * prescribes, checked against graft's own snapshot. */
class DeltaActionsSpec extends SparkSuite {
  import spark.implicits._

  private val dv = DeletionVectors.Descriptor("u", "ab^cd", Some(1), 34, 3L)
  private val file = DeltaTable.Add("graft_data/d1/p=a/part-0.parquet", 770L, 11L,
    Map("p" -> Some("a")), Some("""{"numRecords":10}"""))

  test("commitInfo: timestamp, optional ICT, operation, parameters, engineInfo") {
    assert(DeltaActions.commitInfo(1000L, None, "WRITE", Nil, "graft-versioned-table") ==
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE","operationParameters":{},"engineInfo":"graft-versioned-table"}}""")
    assert(DeltaActions.commitInfo(1000L, Some(1001L), "RESTORE", Seq("version" -> 5L),
      "graft-foreign-delta-writer") ==
      """{"commitInfo":{"timestamp":1000,"inCommitTimestamp":1001,"operation":"RESTORE","operationParameters":{"version":5},"engineInfo":"graft-foreign-delta-writer"}}""")
    assert(DeltaActions.commitInfo(7L, None, "CLONE",
      Seq("source" -> "/src", "sourceVersion" -> 12L), "graft-foreign-delta-writer") ==
      """{"commitInfo":{"timestamp":7,"operation":"CLONE","operationParameters":{"source":"/src","sourceVersion":12},"engineInfo":"graft-foreign-delta-writer"}}""")
  }

  test("protocol: feature lists only in the table-features form") {
    assert(DeltaActions.protocol(1, 2, Nil, Nil) ==
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    assert(DeltaActions.protocol(1, 4, Seq("ignored"), Seq("ignored")) ==
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""")
    assert(DeltaActions.protocol(1, 7, Nil, Seq("rowTracking")) ==
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking"]}}""")
    assert(DeltaActions.protocol(3, 7, Seq("typeWidening"),
      Seq("appendOnly", "invariants", "changeDataFeed", "typeWidening")) ==
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["appendOnly","invariants","changeDataFeed","typeWidening"]}}""")
  }

  test("metaData: id, format, schema, partitions, configuration, createdTime") {
    assert(DeltaActions.metaData("t-1", """{"type":"struct","fields":[]}""", Seq("p"),
      Map("delta.enableChangeDataFeed" -> "true"), 1000L) ==
      """{"metaData":{"id":"t-1","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1000}}""")
    assert(DeltaActions.metaData("t-2", "{}", Nil, Map.empty, 5L) ==
      """{"metaData":{"id":"t-2","format":{"provider":"parquet","options":{}},"schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":5}}""")
  }

  test("add: optional stats, row tracking and deletion vector in protocol order") {
    assert(DeltaActions.add(file.copy(statsJson = None), dataChange = true) ==
      """{"add":{"path":"graft_data/d1/p=a/part-0.parquet","partitionValues":{"p":"a"},"size":770,"modificationTime":11,"dataChange":true}}""")
    assert(DeltaActions.add(file.copy(partitionValues = Map("p" -> None), baseRowId = Some(0L),
      defaultRowCommitVersion = Some(1L), dv = Some(dv)), dataChange = false) ==
      """{"add":{"path":"graft_data/d1/p=a/part-0.parquet","partitionValues":{"p":null},"size":770,"modificationTime":11,"dataChange":false,"stats":"{\"numRecords\":10}","baseRowId":0,"defaultRowCommitVersion":1,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab^cd","offset":1,"sizeInBytes":34,"cardinality":3}}}""")
    assert(DeltaActions.add(DeltaTable.Add("data/x.parquet", 9L, 2L, Map.empty, None,
      Some(DeletionVectors.Descriptor("i", "inline", None, 4, 1L))), dataChange = true) ==
      """{"add":{"path":"data/x.parquet","partitionValues":{},"size":9,"modificationTime":2,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"inline","sizeInBytes":4,"cardinality":1}}}""")
  }

  test("remove: carries the removed file's deletion vector") {
    assert(DeltaActions.remove(file, 5L, dataChange = true) ==
      """{"remove":{"path":"graft_data/d1/p=a/part-0.parquet","deletionTimestamp":5,"dataChange":true}}""")
    assert(DeltaActions.remove(file.copy(dv = Some(dv)), 5L, dataChange = false) ==
      """{"remove":{"path":"graft_data/d1/p=a/part-0.parquet","deletionTimestamp":5,"dataChange":false,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab^cd","offset":1,"sizeInBytes":34,"cardinality":3}}}""")
  }

  test("txn, cdc and domainMetadata lines") {
    assert(DeltaActions.txn("app", 1L, 1000L) ==
      """{"txn":{"appId":"app","version":1,"lastUpdated":1000}}""")
    assert(DeltaActions.cdc("_change_data/c1/p=a/part-0.parquet", Seq("p" -> Some("a")), 982L) ==
      """{"cdc":{"path":"_change_data/c1/p=a/part-0.parquet","partitionValues":{"p":"a"},"size":982,"dataChange":false}}""")
    assert(DeltaActions.domainMetadata("delta.rowTracking", """{"rowIdHighWaterMark":67}""") ==
      """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\"rowIdHighWaterMark\":67}","removed":false}}""")
  }

  // ------------------------------------------------------- protocol replay

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** File-action key per PROTOCOL.md: path + deletion-vector unique id
    * (storageType + pathOrInlineDv, then `@offset` when present). */
  private def fileKey(n: JsonNode): (String, String) = {
    val dvId = Option(n.get("deletionVector")).filterNot(_.isNull).map { d =>
      d.get("storageType").asText() + d.get("pathOrInlineDv").asText() +
        Option(d.get("offset")).filterNot(_.isNull).map("@" + _.asInt()).getOrElse("")
    }.getOrElse("")
    (n.get("path").asText(), dvId)
  }

  /** Live (path, dvUniqueId) set after replaying every JSON commit. */
  private def protocolLive(root: String): Seq[(String, String)] = {
    val live = scala.collection.mutable.LinkedHashSet[(String, String)]()
    new File(root, "_delta_log").listFiles().map(_.getName)
      .filter(_.matches("""\d{20}\.json""")).sorted.foreach { name =>
        new String(Files.readAllBytes(Paths.get(root, "_delta_log", name)), "UTF-8")
          .split('\n').filter(_.nonEmpty).map(mapper.readTree).foreach { n =>
            if (n.has("add")) live += fileKey(n.get("add"))
            if (n.has("remove")) live -= fileKey(n.get("remove"))
          }
      }
    live.toSeq
  }

  private def assertReplayMatches(root: String): Unit = {
    val replayed = protocolLive(root).map(_._1).sorted
    val graft = DeltaTable.snapshot(spark, root).adds.map(_.rawPath).sorted
    assert(replayed == graft,
      s"protocol replay live set $replayed != graft snapshot $graft")
  }

  private def rows(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1)

  /** Foreign table with the deletion-vectors feature: a hand-written v0
    * (protocol + metaData) and one single-file append as v1. */
  private def foreignWithFile(prefix: String): (String, ForeignDeltaTable) = {
    val root = tmpDir(prefix)
    Files.createDirectories(Paths.get(root, "_delta_log"))
    val v0 = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"dv-replay","format":{"provider":"parquet","options":{}},"schemaString":${mapper.writeValueAsString(rows(0, 1).schema.json)},"partitionColumns":[],"configuration":{},"createdTime":1}}""")
    Files.write(Paths.get(root, "_delta_log", "00000000000000000000.json"),
      v0.mkString("\n").getBytes("UTF-8"))
    val t = new ForeignDeltaTable(spark, root)
    t.append(rows(0, 20))
    (root, t)
  }

  test("replay: foreign DELETE twice on one file") {
    val (root, t) = foreignWithFile("dva-del2")
    t.deleteWhere(col("id") < 2)
    t.deleteWhere(col("id") < 4)
    assertReplayMatches(root)
    assert(t.read().count() == 16L)
  }

  test("replay: foreign UPDATE over a DV'd file") {
    val (root, t) = foreignWithFile("dva-upd")
    t.deleteWhere(col("id") < 2)
    t.updateWhere(col("id") === 5, Map("v" -> lit(500)))
    assertReplayMatches(root)
    assert(t.read().where(col("v") === 500).count() == 1L)
  }

  test("replay: foreign OPTIMIZE purging a DV'd file") {
    val (root, t) = foreignWithFile("dva-opt")
    t.deleteWhere(col("id") < 2)
    val before = t.read().count()
    t.optimize()
    assert(DeltaTable.snapshot(spark, root).adds.forall(_.dv.isEmpty))
    assertReplayMatches(root)
    assert(t.read().count() == before)
  }

  test("replay: foreign RESTORE across a DV commit") {
    val (root, t) = foreignWithFile("dva-rst")
    t.deleteWhere(col("id") < 2)
    t.restore(1L)
    assertReplayMatches(root)
    assert(t.read().count() == 20L)
  }

  test("replay: foreign overwrite of a DV'd table") {
    val (root, t) = foreignWithFile("dva-ovw")
    t.deleteWhere(col("id") < 2)
    t.overwrite(rows(100, 105))
    assertReplayMatches(root)
    assert(t.read().count() == 5L)
  }

  test("replay: mirrored VersionedTable deleted twice") {
    val root = tmpDir("dva-mirror")
    val vt = new VersionedTable(spark, root)
    vt.append(rows(0, 20))
    vt.delete(col("id") < 2)
    vt.delete(col("id") < 4)
    assertReplayMatches(root)
    assert(DeltaTable.read(spark, root).count() == 16L)
  }
}
