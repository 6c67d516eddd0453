package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}

/** The Delta transaction-log wire format (delta.io PROTOCOL.md "Actions"),
  * both ways. The encoder writes every action line graft puts into a
  * `_delta_log/%020d.json` commit — the graft-manifest mirror
  * ([[DeltaLogMirror]]) and the foreign writer ([[ForeignDeltaTable]])
  * both emit through here, and the version-checksum sidecar
  * ([[VersionChecksum]]) embeds the same protocol and metadata bodies. One
  * function per action; each returns one JSON line. Field order is fixed
  * per action and optional fields are omitted (never written as null),
  * which is what every Delta reader expects.
  *
  * [[decode]] is the inverse: one log line (a JSON commit line, or a
  * checkpoint row rendered as JSON) to one typed [[Action]]. It is the only
  * place graft reads a log line — the snapshot replay, the mirror's state,
  * the change feed and the foreign writer's conflict and vacuum checks all
  * read typed actions.
  *
  * File actions are keyed by the protocol on `(path, deletionVector
  * unique id)` ("Add File and Remove File"), so a `remove` carries the
  * removed file's deletion vector: a path-only remove would leave an
  * earlier `(path, dv)` add live for protocol readers. */
private[store] object DeltaActions {
  import VersionedTable.mapper

  private def line(o: ObjectNode): String = mapper.writeValueAsString(o)

  /** `commitInfo` — always the FIRST line of a commit (the in-commit
    * timestamp lookup reads no further). `operationParameters` values are
    * Long or String. */
  def commitInfo(
      timestamp: Long, ict: Option[Long], operation: String,
      operationParameters: Seq[(String, Any)], engineInfo: String): String = {
    val o = mapper.createObjectNode()
    val ci = o.putObject("commitInfo")
    ci.put("timestamp", timestamp)
    ict.foreach(t => ci.put("inCommitTimestamp", t): Unit)
    ci.put("operation", operation)
    val params = ci.putObject("operationParameters")
    operationParameters.foreach {
      case (k, v: Long) => params.put(k, v): Unit
      case (k, v: String) => params.put(k, v): Unit
    }
    ci.put("engineInfo", engineInfo)
    line(o)
  }

  /** `protocol` under `parent`: `readerFeatures` is written iff
    * minReaderVersion ≥ 3 and `writerFeatures` iff minWriterVersion ≥ 7
    * (the table-features form). */
  def putProtocol(
      parent: ObjectNode, minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String]): Unit = {
    val p = parent.putObject("protocol")
    p.put("minReaderVersion", minReader)
    p.put("minWriterVersion", minWriter)
    if (minReader >= 3) {
      val rf = p.putArray("readerFeatures"); readerFeatures.foreach(rf.add)
    }
    if (minWriter >= 7) {
      val wf = p.putArray("writerFeatures"); writerFeatures.foreach(wf.add)
    }
  }

  def protocol(
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String]): String = {
    val o = mapper.createObjectNode()
    putProtocol(o, minReader, minWriter, readerFeatures, writerFeatures)
    line(o)
  }

  /** The table-metadata body (id, parquet format, schema, partition
    * columns, configuration) shared by the `metaData` action and the
    * checksum's `metadata` object. */
  def fillMetadata(
      m: ObjectNode, id: String, schemaJson: String,
      partitionColumns: Seq[String], configuration: Map[String, String]): Unit = {
    m.put("id", id)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", schemaJson)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v) }
  }

  def metaData(
      id: String, schemaJson: String, partitionColumns: Seq[String],
      configuration: Map[String, String], createdTime: Long): String = {
    val o = mapper.createObjectNode()
    val m = o.putObject("metaData")
    fillMetadata(m, id, schemaJson, partitionColumns, configuration)
    m.put("createdTime", createdTime)
    line(o)
  }

  /** `add` for `a`: path, partition values (null for a null partition),
    * size, modificationTime, dataChange, then the optional stats,
    * row-tracking fields and deletion vector. */
  def add(a: DeltaTable.Add, dataChange: Boolean): String = {
    val o = mapper.createObjectNode()
    val n = o.putObject("add")
    n.put("path", a.rawPath)
    putPartitionValues(n, a.partitionValues)
    n.put("size", a.size)
    n.put("modificationTime", a.mtime)
    n.put("dataChange", dataChange)
    a.statsJson.foreach(n.put("stats", _))
    a.baseRowId.foreach(b => n.put("baseRowId", b): Unit)
    a.defaultRowCommitVersion.foreach(d => n.put("defaultRowCommitVersion", d): Unit)
    putDeletionVector(n, a.dv)
    line(o)
  }

  /** `remove` of `a` at `deletionTimestamp`, carrying `a`'s deletion
    * vector so it cancels exactly the `(path, dv)` add it names. */
  def remove(a: DeltaTable.Add, deletionTimestamp: Long, dataChange: Boolean): String = {
    val o = mapper.createObjectNode()
    val n = o.putObject("remove")
    n.put("path", a.rawPath)
    n.put("deletionTimestamp", deletionTimestamp)
    n.put("dataChange", dataChange)
    putDeletionVector(n, a.dv)
    line(o)
  }

  /** `txn` (SetTransaction): the exactly-once watermark of `appId`. */
  def txn(appId: String, version: Long, lastUpdated: Long): String = {
    val o = mapper.createObjectNode()
    val n = o.putObject("txn")
    n.put("appId", appId)
    n.put("version", version)
    n.put("lastUpdated", lastUpdated)
    line(o)
  }

  /** `cdc` over one materialized change file (dataChange=false — change
    * files are metadata to the snapshot). */
  def cdc(path: String, partitionValues: Iterable[(String, Option[String])], size: Long): String = {
    val o = mapper.createObjectNode()
    val n = o.putObject("cdc")
    n.put("path", path)
    putPartitionValues(n, partitionValues)
    n.put("size", size)
    n.put("dataChange", false)
    line(o)
  }

  /** A live `domainMetadata` action (`configuration` is a JSON string). */
  def domainMetadata(domain: String, configuration: String): String = {
    val o = mapper.createObjectNode()
    val n = o.putObject("domainMetadata")
    n.put("domain", domain)
    n.put("configuration", configuration)
    n.put("removed", false)
    line(o)
  }

  private def putPartitionValues(
      n: ObjectNode, pv: Iterable[(String, Option[String])]): Unit = {
    val pvn = n.putObject("partitionValues")
    pv.foreach {
      case (k, Some(v)) => pvn.put(k, v): Unit
      case (k, None) => pvn.putNull(k): Unit
    }
  }

  private def putDeletionVector(
      n: ObjectNode, dv: Option[DeletionVectors.Descriptor]): Unit =
    dv.foreach { d =>
      val dn = n.putObject("deletionVector")
      dn.put("storageType", d.storageType)
      dn.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(off => dn.put("offset", off): Unit)
      dn.put("sizeInBytes", d.sizeInBytes)
      dn.put("cardinality", d.cardinality)
    }

  // ---------------------------------------------------------------- decoding

  /** One decoded log action: the fields a snapshot replay, the change feed
    * or a writer's checks read; anything else on the line is ignored. */
  sealed trait Action
  final case class Protocol(
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String]) extends Action
  final case class MetaData(
      id: String, schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String]) extends Action
  final case class AddFile(add: DeltaTable.Add, dataChange: Boolean) extends Action
  /** `deletionTimestamp` 0 = the writer recorded none. */
  final case class RemoveFile(
      path: String, deletionTimestamp: Long, dataChange: Boolean,
      dv: Option[DeletionVectors.Descriptor]) extends Action
  final case class Txn(appId: String, version: Long) extends Action
  final case class DomainMetadata(
      domain: String, configuration: String, removed: Boolean) extends Action
  final case class Cdc(
      path: String, partitionValues: Map[String, Option[String]], size: Long) extends Action
  final case class CommitInfo(
      timestamp: Option[Long], inCommitTimestamp: Option[Long]) extends Action
  /** A v2 checkpoint's pointer to one `_delta_log/_sidecars/` file. */
  final case class Sidecar(path: String) extends Action

  /** One log line to its action; None for an action graft does not read
    * (e.g. `checkpointMetadata`) and for an empty checkpoint row. */
  def decode(line: String): Option[Action] =
    mapper.readTree(line).fields().asScala.collectFirst(Function.unlift { e =>
      val n = e.getValue
      if (n.isNull) None else e.getKey match {
        case "protocol" => Some(Protocol(n.get("minReaderVersion").asInt(),
          opt(n, "minWriterVersion").map(_.asInt()).getOrElse(1),
          strings(n, "readerFeatures"), strings(n, "writerFeatures")))
        case "metaData" => Some(MetaData(opt(n, "id").map(_.asText()).getOrElse(""),
          n.get("schemaString").asText(), strings(n, "partitionColumns"),
          opt(n, "configuration").map(_.fields().asScala.map(c => c.getKey ->
            (if (c.getValue.isNull) null else c.getValue.asText())).toMap)
            .getOrElse(Map.empty)))
        case "add" =>
          Some(AddFile(DeltaTable.Add(n.get("path").asText(), n.get("size").asLong(),
            long(n, "modificationTime").getOrElse(0L), partitionValues(n),
            opt(n, "stats").map(_.asText()), deletionVector(n),
            long(n, "baseRowId"), long(n, "defaultRowCommitVersion")),
            dataChange(n, default = true)))
        case "remove" => Some(RemoveFile(n.get("path").asText(),
          long(n, "deletionTimestamp").getOrElse(0L), dataChange(n, default = true),
          deletionVector(n)))
        case "txn" => Some(Txn(n.get("appId").asText(), n.get("version").asLong()))
        case "domainMetadata" => Some(DomainMetadata(n.get("domain").asText(),
          opt(n, "configuration").map(_.asText()).getOrElse("{}"),
          opt(n, "removed").exists(_.asBoolean(false))))
        case "cdc" => Some(Cdc(n.get("path").asText(), partitionValues(n), n.get("size").asLong()))
        case "commitInfo" => Some(CommitInfo(long(n, "timestamp"), long(n, "inCommitTimestamp")))
        case "sidecar" => Some(Sidecar(n.get("path").asText()))
        case _ => None
      }
    })

  /** Every action of one JSON commit (or v2 JSON manifest), in line order. */
  def read(fsu: Fs, p: HPath): Seq[Action] =
    fsu.readString(p).split('\n').iterator.filter(_.nonEmpty).flatMap(decode).toSeq

  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def long(n: JsonNode, field: String): Option[Long] = opt(n, field).map(_.asLong())

  private def strings(n: JsonNode, field: String): Seq[String] =
    opt(n, field).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)

  private def dataChange(n: JsonNode, default: Boolean): Boolean =
    opt(n, "dataChange").map(_.asBoolean(default)).getOrElse(default)

  private def partitionValues(n: JsonNode): Map[String, Option[String]] =
    opt(n, "partitionValues").map(_.fields().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
    }.toMap).getOrElse(Map.empty)

  private def deletionVector(n: JsonNode): Option[DeletionVectors.Descriptor] =
    opt(n, "deletionVector").map { d =>
      DeletionVectors.Descriptor(d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(), opt(d, "offset").map(_.asInt()),
        d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
    }
}
