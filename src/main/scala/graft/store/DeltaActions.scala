package graft.store

import com.fasterxml.jackson.databind.node.ObjectNode

/** The Delta transaction-log wire format (delta.io PROTOCOL.md "Actions")
  * for every action line graft writes into a `_delta_log/%020d.json`
  * commit — the graft-manifest mirror ([[DeltaLogMirror]]) and the foreign
  * writer ([[ForeignDeltaTable]]) both emit through here, and the
  * version-checksum sidecar ([[VersionChecksum]]) embeds the same protocol
  * and metadata bodies. One function per action; each returns one JSON
  * line. Field order is fixed per action and optional fields are omitted
  * (never written as null), which is what every Delta reader expects.
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
}
