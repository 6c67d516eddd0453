package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, timestamp_millis}
import org.apache.spark.sql.graft.{DeltaFileEntry, DeltaFileIndex}
import org.apache.spark.sql.types._

/** Reader for EXTERNAL Delta tables — tables graft did not write.
  *
  * [[DeltaLogMirror]] makes graft's own tables readable by any Delta
  * client; this is the other direction (the reference registers any Delta
  * path as a source/view — reader/spark_reader.py:123-133 `versionAsOf`
  * temp view, delta-rs analogue reader/odbc_reader.py:42-60): open a table
  * from its public `_delta_log/` alone, so graft can ingest from an
  * existing lakehouse or chain two graft deployments through a Delta table.
  * No Delta jar: the snapshot is a pure function of `_last_checkpoint` +
  * the classic parquet checkpoint + the JSON commit tail (delta.io
  * PROTOCOL.md), and the scan is a [[DeltaFileIndex]] parquet plan — the
  * log supplies the file listing, sizes AND per-file skipping stats, so
  * planning never lists a directory and pushed filters prune files/
  * partitions before the first task launches (the delta-spark
  * architecture).
  *
  * Supported: reader protocol 1; 2 and 3 when no unsupported table feature
  * is active. COLUMN MAPPING is read natively in both modes (modern
  * Databricks-written tables default to name mode): partition-value keys
  * and stats are keyed by each field's `delta.columnMapping.physicalName`
  * metadata, so the scan runs over the physical schema and renames back
  * to logical names on top (nested renames via a same-typed struct cast).
  * Name mode resolves parquet columns by physical name; id mode attaches
  * each field's `delta.columnMapping.id` as `parquet.field.id` metadata
  * and rides Spark's own field-id resolution (the reader enables
  * `spark.sql.parquet.fieldId.read.enabled` on the session — field-id
  * matching only activates for schemas that carry the metadata, so other
  * reads are unaffected). V2 checkpoints (json or parquet manifest +
  * `_sidecars/` action files) resolve like classic ones. Deletion vectors
  * decode driver-side ([[DeletionVectors]]) and filter via the parquet
  * reader's `_metadata.row_index`. Partitioned tables reconstruct
  * partition columns from `partitionValues` via Spark's own string casts.
  * Snapshot resolution is driver-side over the log only; data stays
  * distributed. With all of column mapping (both modes), v2 checkpoints
  * and deletion vectors readable, this reader opens any table the
  * reference's delta-rs/delta-spark readers can.
  */
object DeltaTable {
  import VersionedTable.mapper

  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiCheckpointRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // v2 checkpoints: <version>.checkpoint.<unique>.{json,parquet} manifest
  // carrying non-file actions + `sidecar` pointers into _delta_log/_sidecars/
  // (PROTOCOL.md "V2 Spec Checkpoints"). The unique part is a UUID, so the
  // two numeric groups of a multi-part classic name never match it.
  private val V2CheckpointRe = """(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(json|parquet)""".r

  /** Reader-relevant table features this reader actually implements.
    * (`vacuumProtocolCheck` constrains VACUUM — which
    * [[graft.store.ForeignDeltaTable.vacuum]] honors with a writer-feature
    * protocol check before deleting anything; `timestampNtz` reads as
    * plain parquet through Spark's reader. `typeWidening`: files written
    * before a widening keep their NARROW parquet type and the reader must
    * serve them under the current wider schema — Spark 4's parquet
    * readers, vectorized and parquet-mr both, perform exactly the
    * protocol's promotion lattice (int32→long/double/decimal,
    * float→double, date→timestamp_ntz — probed empirically), so the scan
    * path needs nothing beyond passing the snapshot schema.) */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "vacuumProtocolCheck", "appendOnly", "invariants",
      "checkConstraints", "generatedColumns", "changeDataFeed", "domainMetadata",
      "inCommitTimestamp", "icebergCompatV1", "icebergCompatV2",
      "columnMapping", "v2Checkpoint", "deletionVectors",
      "typeWidening", "typeWidening-preview",
      // VARIANT (semi-structured) columns: the schemaString type "variant"
      // parses to Spark's native VariantType and the UNSHREDDED physical
      // layout (a two-binary-field group) is exactly what Spark 4's
      // parquet readers produce/consume — verified end-to-end in
      // VariantInteropSpec. variantShredding-preview: a shredded file adds
      // a typed_value subcolumn group per the parquet variant-shredding
      // spec; Spark 4's parquet reader reassembles it to the logical
      // VariantType natively (spark.sql.variant.allowReadingShredded,
      // default true — readInternal refuses loudly when a session disables
      // it, so the feature can never silently misread). Shredded and
      // unshredded files coexist per spec; FeatureFrontierSpec round-trips
      // a genuinely shredded fixture.
      "variantType", "variantType-preview", "variantShredding-preview")

  /** One live file as recorded by the log (path still raw/percent-encoded).
    * `baseRowId`/`defaultRowCommitVersion` carry the row-tracking fields
    * when the table assigns them — a writer re-adding the file (DV
    * delete) must preserve them verbatim. */
  private[graft] final case class Add(
      rawPath: String, size: Long, mtime: Long,
      partitionValues: Map[String, Option[String]], statsJson: Option[String],
      dv: Option[DeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      configuration: Map[String, String],
      private[store] val adds: Seq[Add],
      tableId: String = "",
      minWriterVersion: Int = 1,
      writerFeatures: Seq[String] = Nil,
      minReaderVersion: Int = 1,
      readerFeatures: Seq[String] = Nil,
      // unexpired remove tombstones (rawPath -> deletionTimestamp), carried
      // so a checkpoint writer can retain them per PROTOCOL.md ("Checkpoints
      // must contain all remove tombstones that have not expired") — VACUUM
      // by other engines depends on them
      private[store] val tombstones: Seq[(String, Long)] = Nil,
      // LIVE domain metadata (domain name -> configuration JSON string):
      // row tracking keeps its rowIdHighWaterMark here; a writer honoring
      // the domainMetadata feature must carry these through checkpoints
      private[store] val domainMetadata: Map[String, String] = Map.empty,
      // SetTransaction watermarks (appId -> highest applied version):
      // streaming writers' exactly-once state; PROTOCOL.md requires
      // checkpoints to retain unexpired txn actions — dropping them would
      // let another engine's restarted stream double-apply a batch
      private[store] val txns: Map[String, Long] = Map.empty) {
    def numFiles: Int = adds.size
    def numBytes: Long = adds.map(_.size).sum
  }

  /** Per-live-file (min, max) stats range of one top-level column — the
    * data-skipping layout probe (e.g. "did OPTIMIZE cluster this column?").
    * Files without a recorded min/max for the column are skipped. */
  def statsRanges(
      spark: SparkSession, path: String, column: String): Seq[(Double, Double)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    snapshot(spark, path).adds.flatMap { a =>
      a.statsJson.flatMap { sj =>
        val st = mapper.readTree(sj)
        (Option(st.get("minValues")).map(_.get(column)),
          Option(st.get("maxValues")).map(_.get(column))) match {
          case (Some(lo), Some(hi)) if lo != null && hi != null &&
              lo.isNumber && hi.isNumber =>
            Some((lo.asDouble(), hi.asDouble()))
          case _ => None
        }
      }
    }
  }

  /** Does `path` hold a Delta transaction log? */
  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val fsu = new Fs(spark, path)
    fsu.list(new HPath(path, "_delta_log")).map(_.getName).exists {
      case CommitRe(_) | CheckpointRe(_) | MultiCheckpointRe(_, _, _) |
           V2CheckpointRe(_, _, _) => true
      case _ => false
    }
  }

  /** Open an external Delta table as a DataFrame, optionally as of a
    * version or a timestamp (epoch millis; resolved against commit-file
    * modification times, the protocol's default time-travel clock).
    *
    * `rowIds = true` (row-tracked tables only) appends the protocol's
    * stable row identity after the logical columns: `_row_id` (the
    * materialized row-id column when a writer stored one, else the fresh
    * `baseRowId + row_index` derivation) and `_row_commit_version`
    * (materialized value, else the file's `defaultRowCommitVersion`) —
    * what delta-spark surfaces as row-tracking metadata fields. */
  def read(
      spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None,
      rowIds: Boolean = false): DataFrame =
    readInternal(spark, path, versionAsOf, timestampAsOf, withFilePos = false,
      withRowIds = rowIds)

  /** Provenance columns [[readWithFilePos]] appends after the logical ones:
    * scanned file URI + physical row index within it. */
  private[store] val FilePathCol = "__delta_file"
  private[store] val RowIndexCol = "__delta_row_idx"

  /** Row-identity columns `read(rowIds = true)` appends. */
  val RowIdCol = "_row_id"
  val RowCommitVersionCol = "_row_commit_version"

  /** Table-config keys naming the MATERIALIZED row-tracking columns —
    * physical parquet columns outside the logical schema where writers
    * persist ids that the fresh derivation can no longer produce (e.g.
    * after compaction). Their values outrank the derivation. */
  private val MatRowIdKey = "delta.rowTracking.materializedRowIdColumnName"
  private val MatRowVersionKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** [[read]] plus per-row file provenance (`__delta_file` = scanned file
    * URI, `__delta_row_idx` = physical row index) — what the foreign
    * writer's deletion-vector DELETE needs to mark rows. */
  private[store] def readWithFilePos(spark: SparkSession, path: String): DataFrame =
    readInternal(spark, path, None, None, withFilePos = true)

  /** [[read]] restricted to the adds accepted by `keep` — the foreign
    * OPTIMIZE scans only its candidate files, the foreign streaming source
    * scans only its batch's commits' files (DV filtering included). */
  private[graft] def readAddsWhere(
      spark: SparkSession, path: String, keep: Add => Boolean,
      versionAsOf: Option[Long] = None, rowIds: Boolean = false): DataFrame =
    readInternal(spark, path, versionAsOf, None, withFilePos = false,
      addFilter = keep, withRowIds = rowIds)

  /** Delta CDF batch read over a FOREIGN `_delta_log` — the `table_changes`
    * contract without a Delta jar, same output shape as
    * [[VersionedTable.readChangeFeed]]: the logical schema plus
    * `_change_type`, `__commit_version`, `_commit_timestamp`.
    *
    * Per commit in [fromVersion, toVersion] (PROTOCOL.md "Change Data
    * Files"): a commit carrying `cdc` actions is read from those files
    * ALONE (exact row-level changes — the shape every CDF writer,
    * including [[ForeignDeltaTable.deleteWhere]] and the graft mirror,
    * emits for data-modifying commits); a commit without them derives from
    * its dataChange actions — added files' rows as `insert`, removed
    * files' rows (resolved against the PREVIOUS version's snapshot, so
    * existing deletion vectors keep hiding already-dead rows) as
    * `delete` — the documented whole-file derivation delta-spark applies.
    * Metadata-only commits contribute nothing. Schema drift across the
    * range aligns every frame to the END version's schema (missing
    * columns null). A commit whose JSON was log-cleaned fails loudly —
    * its changes are unrecoverable, and silence would under-report.
    *
    * 100 TB: per commit this reads ONLY that commit's change/added/removed
    * files (no table-wide scan); the driver-side work is one JSON parse
    * per commit in the range. */
  def readChanges(
      spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"bad change range [$fromVersion, $toVersion]")
    import VersionedTable.{ChangeTypeCol, CommitTsCol, VersionCol}
    val fsu = new Fs(spark, path)
    val root = new HPath(path)
    val endSnap = snapshot(spark, path, versionAsOf = Some(toVersion))
    val logical = endSnap.schema
    def aligned(df: DataFrame): Seq[Column] = {
      val have = df.columns.map(c => c.toLowerCase -> c).toMap
      logical.fields.toSeq.map { f =>
        have.get(f.name.toLowerCase) match {
          case Some(c) if df.schema(c).dataType == f.dataType => col(s"`$c`").as(f.name)
          case Some(c) => col(s"`$c`").cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }
    }
    val parts: Seq[DataFrame] = (fromVersion to toVersion).flatMap { v =>
      val p = new HPath(path, f"_delta_log/$v%020d.json")
      if (!fsu.exists(p)) throw new IllegalStateException(
        s"change feed of $path: commit $v's JSON was log-cleaned — its " +
          "row-level changes are unrecoverable")
      val nodes = fsu.readString(p).split('\n').filter(_.nonEmpty).toSeq
        .map(mapper.readTree)
      // ICT tables: the embedded monotonic clock outranks both the
      // commitInfo.timestamp field and the file mtime
      val ts = nodes.find(_.has("commitInfo")).map(_.get("commitInfo"))
        .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong())
          .orElse(Option(ci.get("timestamp")).map(_.asLong())))
        .getOrElse(fsu.fs.getFileStatus(p).getModificationTime)
      def stamp(df: DataFrame, changeType: Option[String]): DataFrame = {
        val ct = changeType.map(lit(_).as(ChangeTypeCol))
          .getOrElse(col(ChangeTypeCol))
        df.select(aligned(df) ++ Seq(ct,
          lit(v).as(VersionCol), timestamp_millis(lit(ts)).as(CommitTsCol)): _*)
      }
      val cdcs = nodes.filter(_.has("cdc")).map(_.get("cdc"))
      if (cdcs.nonEmpty) {
        // cdc-bearing commits are consumed from their change files ALONE
        val snapV = snapshot(spark, path, versionAsOf = Some(v))
        val pv = new PhysView(path, snapV)
        pv.prepareSession(spark)
        val dataSchema = StructType(
          pv.dataSchema.fields :+ StructField(ChangeTypeCol, StringType))
        val entries = cdcs.map { c =>
          val pvs = Option(c.get("partitionValues")).map(_.fields().asScala.map { e =>
            e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
          }.toMap).getOrElse(Map.empty[String, Option[String]])
          DeltaFileEntry(resolvePath(root, c.get("path").asText()),
            c.get("size").asLong(), 0L, pvs, None)
        }
        val scanned = DeltaFileIndex.scan(spark, root, entries, pv.partSchema, dataSchema)
          .select(pv.logicalCols :+ col(s"`$ChangeTypeCol`"): _*)
        Some(stamp(scanned, None))
      } else {
        def dc(n: JsonNode): Boolean =
          Option(n.get("dataChange")).forall(_.asBoolean(true))
        val addPaths = nodes.filter(_.has("add")).map(_.get("add"))
          .filter(dc).map(_.get("path").asText()).toSet
        val rmPaths = nodes.filter(_.has("remove")).map(_.get("remove"))
          .filter(dc).map(_.get("path").asText()).toSet
        val ins =
          if (addPaths.isEmpty) None
          else Some(stamp(readAddsWhere(spark, path,
            a => addPaths(a.rawPath), versionAsOf = Some(v)), Some("insert")))
        val del =
          if (rmPaths.isEmpty) None
          else Some(stamp(readAddsWhere(spark, path,
            a => rmPaths(a.rawPath), versionAsOf = Some(v - 1)), Some("delete")))
        (ins, del) match {
          case (Some(i), Some(d)) => Some(i.unionByName(d))
          case (i, d) => i.orElse(d)
        }
      }
    }
    parts.reduceOption(_.unionByName(_)).getOrElse {
      val outSchema = StructType(logical.fields ++ Seq(
        StructField(ChangeTypeCol, StringType),
        StructField(VersionCol, LongType),
        StructField(CommitTsCol, TimestampType)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    }
  }

  /** Physical-schema view of a snapshot under column mapping (PROTOCOL.md
    * "Column Mapping"): the logical schema lives in schemaString field
    * NAMES; partition-value keys and stats keys use the per-field
    * physicalName metadata in BOTH modes. Scans run over the PHYSICAL
    * schema and the final projection renames back — so file pruning
    * (stats + partitions) keeps working unchanged on the physical keys it
    * actually gets. Parquet column resolution differs by mode: name mode
    * matches the physical names in the files; id mode attaches
    * parquet.field.id metadata and lets Spark's reader match by the field
    * ids the writer stamped. Identity view for unmapped tables. Shared by
    * [[readInternal]] and the CDF change-file scan ([[readChanges]]). */
  private final class PhysView(path: String, snap: Snapshot)
      extends ColumnMapping(snap.configuration, s"Delta table $path",
        new IllegalArgumentException(_)) {
    private val lowerParts = snap.partitionColumns.map(_.toLowerCase).toSet
    val partSchema: StructType = StructType(snap.partitionColumns.map { c =>
      val f = snap.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"partition column $c missing from schema"))
      // physical NAME (partitionValues are keyed physically), logical type;
      // partition values never come from parquet columns → no field id
      StructField(physName(f), f.dataType, f.nullable)
    })
    val dataSchema: StructType = StructType(
      snap.schema.fields.filterNot(f => lowerParts.contains(f.name.toLowerCase))
        .map(physField))
    /** Rename-back projection: physical scan columns → logical names. */
    def logicalCols: Seq[Column] = snap.schema.fields.map { f =>
      val c = col(s"`${physName(f)}`")
      val pt = physType(f.dataType)
      // nested physical names rename via a same-typed positional cast
      (if (pt == f.dataType) c else c.cast(f.dataType)).as(f.name)
    }.toSeq
    /** Enable field-id parquet resolution for id-mode scans — only
      * activates for schemas carrying the metadata (ours), so other
      * session reads are unaffected. */
    def prepareSession(spark: SparkSession): Unit =
      if (idMode) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  }

  /** Column-mapping key of a field's physical (file and stats) name. */
  private[store] val PhysKey = "delta.columnMapping.physicalName"
  /** Column-mapping key of a field's id (parquet field id in id mode). */
  private[store] val IdKey = "delta.columnMapping.id"

  /** Column-mapping field translation for one table configuration, shared
    * by the reader ([[PhysView]]) and the foreign writer's plan: a logical
    * field's physical name (the physicalName metadata, in BOTH modes),
    * plus, in id mode, the `parquet.field.id` metadata Spark's parquet
    * reader and writer resolve columns by; nested fields map recursively.
    * Identity for unmapped tables (callers reject unknown modes first).
    * A field missing its mapping metadata fails with `error` — each caller
    * keeps its own exception type — naming the table as `table`. */
  private[store] class ColumnMapping(
      configuration: Map[String, String], table: String,
      error: String => RuntimeException) {
    private val mode = configuration.getOrElse("delta.columnMapping.mode", "none")
    val mapped: Boolean = mode != "none"
    val idMode: Boolean = mode == "id"
    def physName(f: StructField): String =
      if (!mapped) f.name
      else if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
      else throw error(s"column-mapped $table: field ${f.name} has no $PhysKey metadata")
    private def fieldMeta(f: StructField): Metadata =
      if (!idMode) Metadata.empty
      else if (f.metadata.contains(IdKey)) new MetadataBuilder()
        .putLong("parquet.field.id", f.metadata.getLong(IdKey)).build()
      else throw error(s"id-mapped $table: field ${f.name} has no $IdKey metadata")
    def physField(f: StructField): StructField =
      StructField(physName(f), physType(f.dataType), f.nullable, fieldMeta(f))
    def physType(dt: DataType): DataType =
      if (!mapped) dt
      else dt match {
        case s: StructType => StructType(s.fields.map(physField))
        case a: ArrayType => a.copy(elementType = physType(a.elementType))
        case m: MapType =>
          m.copy(keyType = physType(m.keyType), valueType = physType(m.valueType))
        case other => other
      }
  }

  private def readInternal(
      spark: SparkSession, path: String,
      versionAsOf: Option[Long],
      timestampAsOf: Option[Long],
      withFilePos: Boolean,
      addFilter: Add => Boolean = _ => true,
      withRowIds: Boolean = false): DataFrame = {
    val snap0 = snapshot(spark, path, versionAsOf, timestampAsOf)
    val snap = snap0.copy(adds = snap0.adds.filter(addFilter))
    // shredded-variant tables delegate subcolumn reassembly to Spark's
    // parquet reader; if the session has disabled that path the scan
    // would fail per-file with an opaque parquet error — refuse up front
    if (snap.readerFeatures.contains("variantShredding-preview") &&
        spark.conf.get("spark.sql.variant.allowReadingShredded", "true") != "true")
      throw new UnsupportedOperationException(
        s"Delta table $path carries variantShredding-preview but " +
          "spark.sql.variant.allowReadingShredded is false — enable it to " +
          "read shredded variant files")
    if (withRowIds && !snap.writerFeatures.contains("rowTracking"))
      throw new IllegalArgumentException(
        s"rowIds requested but $path does not carry the rowTracking feature")
    val pv = new PhysView(path, snap)
    pv.prepareSession(spark)
    val partSchema = pv.partSchema
    // materialized row-tracking columns are physical parquet columns
    // OUTSIDE the logical schema — scan them too (files lacking them
    // read as null, which the fresh derivation then covers)
    val matId = if (withRowIds) snap.configuration.get(MatRowIdKey) else None
    val matVer = if (withRowIds) snap.configuration.get(MatRowVersionKey) else None
    val dataSchema = StructType(pv.dataSchema.fields ++
      (matId.toSeq ++ matVer.toSeq).map(StructField(_, LongType)))
    val root = new HPath(path)
    val entries = snap.adds.map { a =>
      DeltaFileEntry(resolvePath(root, a.rawPath), a.size, a.mtime,
        a.partitionValues, a.statsJson.flatMap(parseStats(_, dataSchema)))
    }
    val scanned = DeltaFileIndex.scan(spark, root, entries, partSchema, dataSchema)
    // Deletion vectors: decode each referenced bitmap driver-side (DVs are
    // small — bounded by sizeInBytes; same broadcast shape delta-spark
    // uses) and drop marked row indexes via the parquet reader's own
    // _metadata.row_index. Stats-based file skipping stays sound: a DV'd
    // file's min/max/nullCount describe a SUPERSET of its live rows.
    // The per-row probe is a broadcast binary search keyed by the decoded
    // URI path (scheme-insensitive) — not expressible relationally without
    // exploding every bitmap into a join side.
    val dvAdds = snap.adds.filter(_.dv.isDefined)
    val withDv: DataFrame =
      if (dvAdds.isEmpty) scanned
      else {
        val fs = new Fs(spark, path).fs
        val deleted: Map[String, Array[Long]] = dvAdds.map { a =>
          resolvePath(root, a.rawPath).toUri.getPath ->
            DeletionVectors.load(fs, root, a.dv.get)
        }.toMap
        // codegen'd probe (same expression the graft-native scan uses,
        // URI-path keyed) — a Scala UDF here would box both inputs and
        // split the whole-stage-codegen span around every DV'd table read
        scanned.filter(!org.apache.spark.sql.graft.Bridge.column(DvRowDeleted(
          org.apache.spark.sql.graft.Bridge.expression(col("_metadata.file_path")),
          org.apache.spark.sql.graft.Bridge.expression(col("_metadata.row_index")),
          deleted, uriKeys = true)))
      }
    val extra = if (!withFilePos) Nil else Seq(
      col("_metadata.file_path").as(FilePathCol),
      col("_metadata.row_index").as(RowIndexCol))
    // row identity (PROTOCOL.md Row Tracking): fresh values derive from the
    // file's baseRowId/defaultRowCommitVersion (one broadcast map entry per
    // live file — the same footprint as the file index) + the scan's own
    // row_index; a materialized column, when the table names one, outranks
    // the derivation. Computed after the DV filter — _metadata.row_index is
    // the PHYSICAL position, unchanged by row filtering, so DV'd tables
    // keep surviving rows' ids stable.
    val rowIdCols = if (!withRowIds) Nil else {
      def fileMap(f: Add => Option[Long]): Map[String, Long] =
        snap.adds.flatMap(a => f(a).map(
          resolvePath(root, a.rawPath).toUri.getPath -> _)).toMap
      def lookup(m: Map[String, Long]): Column =
        org.apache.spark.sql.graft.Bridge.column(FileAttrLookup(
          org.apache.spark.sql.graft.Bridge.expression(col("_metadata.file_path")), m))
      val fresh = lookup(fileMap(_.baseRowId)) + col("_metadata.row_index")
      val freshVer = lookup(fileMap(_.defaultRowCommitVersion))
      Seq(
        matId.map(c => coalesce(col(s"`$c`"), fresh)).getOrElse(fresh)
          .cast(LongType).as(RowIdCol),
        matVer.map(c => coalesce(col(s"`$c`"), freshVer)).getOrElse(freshVer)
          .cast(LongType).as(RowCommitVersionCol))
    }
    withDv.select(pv.logicalCols ++ extra ++ rowIdCols: _*)
  }

  /** `commitInfo.inCommitTimestamp` of one commit JSON, reading only as
    * far as the first commitInfo action (every known writer emits it
    * first; the ICT spec requires it to live there). */
  private[store] def commitInfoIct(fsu: Fs, p: HPath): Option[Long] = {
    val in = fsu.fs.open(p)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      var line = br.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val n = mapper.readTree(line)
          if (n.has("commitInfo"))
            return Option(n.get("commitInfo").get("inCommitTimestamp"))
              .map(_.asLong())
        }
        line = br.readLine()
      }
      None
    } finally in.close()
  }

  /** Resolve the target version's live state from the log: newest classic
    * checkpoint at or below the target, then the JSON commit tail. */
  def snapshot(
      spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): Snapshot = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "specify at most one of versionAsOf / timestampAsOf")
    val fsu = new Fs(spark, path)
    val logDir = new HPath(path, "_delta_log")
    val statuses: Seq[FileStatus] =
      if (fsu.isDir(logDir)) fsu.fs.listStatus(logDir).toSeq.filter(_.isFile) else Nil
    val commits: Map[Long, FileStatus] = statuses.flatMap { st =>
      st.getPath.getName match {
        case CommitRe(v) => Some(v.toLong -> st)
        case _ => None
      }
    }.toMap
    // version-checksum sidecars, already in the same listing (no extra
    // RPC): when one exists for the resolved version, the reconstructed
    // snapshot is verified against it below
    val crcs: Map[Long, HPath] = statuses.flatMap { st =>
      st.getPath.getName match {
        case VersionChecksum.CrcRe(v) => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.toMap
    // classic checkpoints: single-file, or multi-part keyed by (version, numParts)
    val singleCps: Map[Long, Seq[HPath]] = statuses.flatMap { st =>
      st.getPath.getName match {
        case CheckpointRe(v) => Some(v.toLong -> Seq(st.getPath))
        case _ => None
      }
    }.toMap
    val multiCps: Map[Long, Seq[HPath]] = statuses.flatMap { st =>
      st.getPath.getName match {
        case MultiCheckpointRe(v, part, of) => Some((v.toLong, of.toInt, part.toInt, st.getPath))
        case _ => None
      }
    }.groupBy { case (v, of, _, _) => (v, of) }.collect {
      // only COMPLETE part sets are usable
      case ((v, of), parts) if parts.map(_._3).toSet == (1 to of).toSet =>
        v -> parts.sortBy(_._3).map(_._4)
    }.toMap
    val checkpoints = singleCps ++ multiCps
    // v2 checkpoints: any manifest per version is complete by spec; pick
    // the lexicographically greatest name for determinism
    val v2Cps: Map[Long, HPath] = statuses.flatMap { st =>
      st.getPath.getName match {
        case V2CheckpointRe(v, _, _) => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).maxBy(_.getName) }
    if (commits.isEmpty && checkpoints.isEmpty && v2Cps.isEmpty)
      throw new IllegalArgumentException(s"$path is not a Delta table: no _delta_log commits")
    val latest = (commits.keySet ++ checkpoints.keySet ++ v2Cps.keySet).max
    val target = versionAsOf.orElse(timestampAsOf.map { ts =>
      // In-commit timestamps (Delta "inCommitTimestamp" writer feature):
      // when the latest table state enables them, the time-travel clock
      // for commits >= the enablement version is the MONOTONIC
      // commitInfo.inCommitTimestamp, not the file mtime (which log
      // replication / restore can scramble). Earlier commits keep the
      // mtime clock, per the enablement-version rule. The latest config
      // is one extra (checkpoint-bounded) resolution, paid only by
      // timestamp queries.
      val cfg = snapshot(spark, path).configuration
      val ictOn = cfg.get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true"))
      if (!ictOn) {
        val ok = commits.filter(_._2.getModificationTime <= ts).keys
        if (ok.isEmpty) throw new IllegalArgumentException(
          s"no commit at or before timestamp $ts (earliest: ${commits.values.map(_.getModificationTime).minOption})")
        ok.max
      } else {
        val enableV = cfg.get("delta.inCommitTimestampEnablementVersion")
          .map(_.toLong).getOrElse(0L)
        def clock(v: Long): Long =
          if (v >= enableV)
            commitInfoIct(fsu, commits(v).getPath)
              .getOrElse(commits(v).getModificationTime)
          else commits(v).getModificationTime
        // the combined clock is monotonic by spec → newest-first scan,
        // first satisfying version wins; bounded JSON reads
        commits.keys.toSeq.sortBy(-_).find(v => clock(v) <= ts).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at or before timestamp $ts (in-commit clock)"))
      }
    }).getOrElse(latest)
    require(target >= 0 && target <= latest,
      s"version $target out of range [0, $latest]")
    // newest usable checkpoint = the latest one whose JSON tail to the
    // target is gap-free (a vacuumed-then-recheckpointed log may have holes)
    val cpVersion = (checkpoints.keySet ++ v2Cps.keySet).filter(_ <= target).toSeq.sortBy(-_)
      .find(cp => ((cp + 1) to target).forall(commits.contains))
    val replayFrom = cpVersion.map(_ + 1).getOrElse(0L)
    (replayFrom to target).foreach { v =>
      if (!commits.contains(v)) throw new IllegalArgumentException(
        s"commit $v missing from $logDir — cannot reconstruct version $target")
    }

    var schemaJson: Option[String] = None
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    var tableId: String = ""
    var minWriter: Int = 1
    var writerFeats: Seq[String] = Nil
    var minReader: Int = 1
    var readerFeats: Seq[String] = Nil
    val files = scala.collection.mutable.LinkedHashMap[String, Add]()
    // remove tombstones; a re-add of the same path cancels its tombstone
    val gone = scala.collection.mutable.LinkedHashMap[String, Long]()
    // live domain metadata (removed=true drops the domain)
    val domains = scala.collection.mutable.LinkedHashMap[String, String]()
    // SetTransaction watermarks (last action per appId wins, replay order)
    val txns = scala.collection.mutable.LinkedHashMap[String, Long]()

    def checkProtocol(minReader: Int, readerFeatures: Seq[String]): Unit = {
      val unsupported = readerFeatures.filterNot(SupportedReaderFeatures)
      if (minReader > 3 || (minReader == 3 && unsupported.nonEmpty))
        throw new UnsupportedOperationException(
          s"Delta table $path requires reader version $minReader with features " +
            s"${unsupported.mkString(", ")} — not supported by this reader")
    }
    def checkConfig(): Unit = {
      val cm = config.getOrElse("delta.columnMapping.mode", "none")
      // name mode scans by physical name; id mode rides Spark's parquet
      // field-id resolution (read() wires both); anything else is a
      // protocol we don't know → loud refusal, not a misread
      if (cm != "none" && cm != "name" && cm != "id")
        throw new UnsupportedOperationException(
          s"Delta table $path uses column mapping mode '$cm' — not supported")
    }
    // deletion vectors are read natively (read() filters the marked row
    // indexes via _metadata.row_index); the descriptor just rides the Add

    // one parquet action-frame (classic checkpoint, v2 manifest, or v2
    // sidecar): protocol/metaData when present, live adds into `files`
    def processActionFrame(df: DataFrame): Unit = {
      def sub(action: String): Option[StructType] =
        df.schema.fields.find(_.name == action).map(_.dataType.asInstanceOf[StructType])
      sub("protocol").foreach { ps =>
        df.select("protocol.*").where(col("minReaderVersion").isNotNull).collect().foreach { r =>
          val feats =
            if (ps.fieldNames.contains("readerFeatures") && !r.isNullAt(r.fieldIndex("readerFeatures")))
              r.getSeq[String](r.fieldIndex("readerFeatures"))
            else Nil
          checkProtocol(r.getInt(r.fieldIndex("minReaderVersion")), feats)
          minReader = r.getInt(r.fieldIndex("minReaderVersion"))
          readerFeats = feats
          if (ps.fieldNames.contains("minWriterVersion") && !r.isNullAt(r.fieldIndex("minWriterVersion")))
            minWriter = r.getInt(r.fieldIndex("minWriterVersion"))
          if (ps.fieldNames.contains("writerFeatures") && !r.isNullAt(r.fieldIndex("writerFeatures")))
            writerFeats = r.getSeq[String](r.fieldIndex("writerFeatures"))
        }
      }
      if (sub("metaData").isDefined)
        df.select("metaData.*").where(col("schemaString").isNotNull).collect().foreach { r =>
          schemaJson = Some(r.getString(r.fieldIndex("schemaString")))
          tableId = r.getString(r.fieldIndex("id"))
          partCols = r.getSeq[String](r.fieldIndex("partitionColumns"))
          config = Option(r.getJavaMap[String, String](r.fieldIndex("configuration")))
            .map(_.asScala.toMap).getOrElse(Map.empty)
        }
      val addFields = sub("add").map(_.fieldNames.toSet).getOrElse(Set.empty)
      if (addFields.nonEmpty) {
        val dvCol =
          if (addFields.contains("deletionVector"))
            col("add.deletionVector").cast(
              "struct<storageType:string,pathOrInlineDv:string,offset:int," +
                "sizeInBytes:int,cardinality:bigint>")
          else org.apache.spark.sql.functions.lit(null).cast(
            "struct<storageType:string,pathOrInlineDv:string,offset:int," +
              "sizeInBytes:int,cardinality:bigint>")
        val statsCol =
          if (addFields.contains("stats")) col("add.stats")
          else org.apache.spark.sql.functions.lit(null).cast("string")
        def optLong(name: String) =
          if (addFields.contains(name)) col(s"add.$name").cast("long")
          else org.apache.spark.sql.functions.lit(null).cast("long")
        df.where(col("add.path").isNotNull)
          .select(col("add.path"), col("add.partitionValues"), col("add.size"),
            col("add.modificationTime"), statsCol.as("stats"), dvCol.as("dv"),
            optLong("baseRowId"), optLong("defaultRowCommitVersion"))
          .collect().foreach { r =>
            val dv = Option(r.getStruct(5)).map(d => DeletionVectors.Descriptor(
              d.getString(0), d.getString(1),
              if (d.isNullAt(2)) None else Some(d.getInt(2)),
              d.getInt(3), d.getLong(4)))
            val pv = Option(r.getJavaMap[String, String](1))
              .map(_.asScala.map { case (k, v) => k -> Option(v) }.toMap)
              .getOrElse(Map.empty[String, Option[String]])
            files(r.getString(0)) = Add(r.getString(0), r.getLong(2), r.getLong(3),
              pv, Option(r.getString(4)), dv,
              if (r.isNullAt(6)) None else Some(r.getLong(6)),
              if (r.isNullAt(7)) None else Some(r.getLong(7)))
          }
      }
      if (df.schema.fieldNames.contains("domainMetadata"))
        df.where(col("domainMetadata.domain").isNotNull)
          .select(col("domainMetadata.domain"), col("domainMetadata.configuration"),
            col("domainMetadata.removed"))
          .collect().foreach { r =>
            if (!r.isNullAt(2) && r.getBoolean(2)) domains.remove(r.getString(0)): Unit
            else domains(r.getString(0)) = r.getString(1)
          }
      if (df.schema.fieldNames.contains("txn"))
        df.where(col("txn.appId").isNotNull)
          .select(col("txn.appId"), col("txn.version").cast("long"))
          .collect().foreach(r => txns(r.getString(0)) = r.getLong(1))
      // checkpoint remove rows are pure tombstones (their file set is
      // disjoint from the checkpoint's adds) — retained for re-checkpointing
      val rmFields = sub("remove").map(_.fieldNames.toSet).getOrElse(Set.empty)
      if (rmFields.nonEmpty) {
        val tsCol =
          if (rmFields.contains("deletionTimestamp")) col("remove.deletionTimestamp")
          else org.apache.spark.sql.functions.lit(0L)
        df.where(col("remove.path").isNotNull)
          .select(col("remove.path"), tsCol.cast("long").as("ts"))
          .collect().foreach(r =>
            gone(r.getString(0)) = if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }

    // one JSON action line (commit tail or v2 json manifest)
    def applyJsonAction(node: JsonNode): Unit = {
      if (node.has("protocol")) {
        val p = node.get("protocol")
        val feats = Option(p.get("readerFeatures"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        checkProtocol(p.get("minReaderVersion").asInt(), feats)
        minReader = p.get("minReaderVersion").asInt()
        readerFeats = feats
        minWriter = Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(1)
        writerFeats = Option(p.get("writerFeatures")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      }
      if (node.has("metaData")) {
        val md = node.get("metaData")
        schemaJson = Some(md.get("schemaString").asText())
        tableId = Option(md.get("id")).map(_.asText()).getOrElse("")
        partCols = Option(md.get("partitionColumns"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        config = Option(md.get("configuration")).map(_.fields().asScala
          .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
          .getOrElse(Map.empty)
      }
      if (node.has("add")) {
        val a = node.get("add")
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
          DeletionVectors.Descriptor(
            d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
            Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
            d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
        }
        val p = a.get("path").asText()
        val pv = Option(a.get("partitionValues")).map(_.fields().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
        }.toMap).getOrElse(Map.empty[String, Option[String]])
        files(p) = Add(p, a.get("size").asLong(),
          Option(a.get("modificationTime")).map(_.asLong()).getOrElse(0L),
          pv, Option(a.get("stats")).filterNot(_.isNull).map(_.asText()), dv,
          Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong()),
          Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull).map(_.asLong()))
        gone.remove(p): Unit
      }
      if (node.has("remove")) {
        val rm = node.get("remove")
        val p = rm.get("path").asText()
        files.remove(p)
        gone(p) = Option(rm.get("deletionTimestamp")).filterNot(_.isNull)
          .map(_.asLong()).getOrElse(0L)
      }
      if (node.has("domainMetadata")) {
        val dm = node.get("domainMetadata")
        val name = dm.get("domain").asText()
        if (Option(dm.get("removed")).exists(_.asBoolean(false)))
          domains.remove(name): Unit
        else domains(name) =
          Option(dm.get("configuration")).map(_.asText()).getOrElse("{}")
      }
      if (node.has("txn")) {
        val t = node.get("txn")
        txns(t.get("appId").asText()) = t.get("version").asLong()
      }
    }

    // ---- checkpoint state (classic parquet parts, or v2 manifest+sidecars)
    cpVersion.foreach { cp =>
      if (checkpoints.contains(cp))
        processActionFrame(spark.read.parquet(checkpoints(cp).map(_.toString): _*))
      else {
        val manifest = v2Cps(cp)
        val sidecars = scala.collection.mutable.ArrayBuffer[String]()
        if (manifest.getName.endsWith(".json"))
          fsu.readString(manifest).split('\n').filter(_.nonEmpty).foreach { line =>
            val node = mapper.readTree(line)
            applyJsonAction(node)
            if (node.has("sidecar")) sidecars += node.get("sidecar").get("path").asText()
          }
        else {
          val df = spark.read.parquet(manifest.toString)
          processActionFrame(df)
          if (df.schema.fieldNames.contains("sidecar"))
            df.where(col("sidecar.path").isNotNull).select("sidecar.path").collect()
              .foreach(r => sidecars += r.getString(0))
        }
        // sidecar paths are file names under _delta_log/_sidecars/ (or
        // absolute URIs); each holds add/remove actions only
        val sidecarDir = new HPath(logDir, "_sidecars")
        val paths = sidecars.toSeq.map { p =>
          val u = new java.net.URI(p)
          if (u.isAbsolute) new HPath(u) else new HPath(sidecarDir, u.getPath)
        }
        if (paths.nonEmpty)
          processActionFrame(spark.read.parquet(paths.map(_.toString): _*))
      }
    }

    // ---- JSON tail
    (replayFrom to target).foreach { v =>
      fsu.readString(commits(v).getPath).split('\n').filter(_.nonEmpty)
        .foreach(line => applyJsonAction(mapper.readTree(line)))
    }

    checkConfig()
    val schema = schemaJson match {
      case Some(j) => DataType.fromJson(j).asInstanceOf[StructType]
      case None => throw new IllegalArgumentException(
        s"no metaData action found up to version $target in $logDir")
    }
    val out = Snapshot(target, schema, partCols, config, files.values.toSeq,
      tableId, minWriter, writerFeats, minReader, readerFeats, gone.toSeq,
      domains.toMap, txns.toMap)
    // checksum cross-check (advisory sidecar, strict when present): a
    // mismatch means this replay did not see the log the committing writer
    // saw — truncated copy, deleted commit, doctored add — and reading on
    // would silently serve wrong data
    crcs.get(target).foreach(p => VersionChecksum.verify(fsu, p, out))
    out
  }

  /** Highest SetTransaction version another engine's writer recorded for
    * `appId` (Delta's `txnVersion` — the exactly-once watermark streaming
    * writers consult before applying a batch). */
  def latestTxnVersion(
      spark: SparkSession, path: String, appId: String): Option[Long] =
    snapshot(spark, path).txns.get(appId)

  /** Log paths are percent-encoded relative URIs (or absolute URIs for
    * shallow clones) — PROTOCOL.md "Add File and Remove File". */
  private[store] def resolvePath(root: HPath, raw: String): HPath = {
    val u = new java.net.URI(raw)
    if (u.isAbsolute) new HPath(u) else new HPath(root, u.getPath)
  }

  /** `add.stats` JSON → [[DirStats.Stats]]. Per-column entries require
    * nullCount (claiming 0 would let IS-NULL pruning drop live dirs);
    * min/max pair up or drop together, exactly like the manifest stats.
    * Delta's truncated string/timestamp maxima are adjusted upward by the
    * writer, so they remain valid bounds. Unparseable values → no stat →
    * no pruning (sound). */
  private[store] def parseStats(json: String, dataSchema: StructType): Option[DirStats.Stats] =
    try {
      val node = mapper.readTree(json)
      val rows = Option(node.get("numRecords")).filter(_.isNumber).map(_.asLong())
        .getOrElse(return None)
      val minV = Option(node.get("minValues"))
      val maxV = Option(node.get("maxValues"))
      val nulls = Option(node.get("nullCount"))
      val cols = dataSchema.fields.iterator.flatMap { f =>
        nulls.flatMap(n => Option(n.get(f.name))).filter(_.isNumber).map(_.asLong()).map { nc =>
          val mn = minV.flatMap(m => Option(m.get(f.name))).flatMap(statVal(_, f.dataType))
          val mx = maxV.flatMap(m => Option(m.get(f.name))).flatMap(statVal(_, f.dataType))
          val (mnK, mxK) = if (mn.isDefined && mx.isDefined) (mn, mx) else (None, None)
          f.name -> DirStats.ColStat(mnK, mxK, nc)
        }
      }.toMap
      Some(DirStats.Stats(rows, cols))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One stats JSON value → the normalized comparison domain of
    * [[DirStats]] (Long / Double / BigDecimal / String / Boolean). */
  private def statVal(n: JsonNode, dt: DataType): Option[Any] = try {
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (n.isNumber) Some(n.asLong()) else None
      case FloatType | DoubleType =>
        if (n.isNumber) Some(n.asDouble()).filterNot(_.isNaN) else None
      case _: DecimalType =>
        if (n.isNumber || n.isTextual) Some(BigDecimal(n.asText())) else None
      case StringType => if (n.isTextual) Some(n.asText()) else None
      case BooleanType => if (n.isBoolean) Some(n.asBoolean()) else None
      case DateType =>
        if (n.isTextual) Some(java.time.LocalDate.parse(n.asText()).toEpochDay) else None
      case TimestampType if n.isTextual =>
        // only zone-qualified forms: a TZ-less literal is ambiguous across
        // sessions, and a wrong guess would prune live files
        val s = n.asText()
        val odt =
          try Some(java.time.OffsetDateTime.parse(s))
          catch {
            case _: java.time.format.DateTimeParseException =>
              try Some(java.time.Instant.parse(s).atOffset(java.time.ZoneOffset.UTC))
              catch { case _: java.time.format.DateTimeParseException => None }
          }
        odt.map(o => o.toInstant.getEpochSecond * 1000000L + o.toInstant.getNano / 1000L)
      case _ => None
    }
  } catch { case scala.util.control.NonFatal(_) => None }
}
