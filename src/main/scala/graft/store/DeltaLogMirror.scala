package graft.store

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.store.VersionedTable.Manifest

/** Delta-transaction-protocol mirror of the graft manifest log.
  *
  * The reference writes real Delta tables any Delta client can open
  * (reference reader/spark_reader.py:307-324, reader/odbc_reader.py:42-60
  * via delta-rs); graft's `VersionedTable` keeps its O(1)-resolution
  * manifest as the engine's source of truth and THIS class mirrors every
  * commit into a protocol-compatible `_delta_log/` — the public
  * JSON-actions-per-commit format (delta.io PROTOCOL.md): version `v` is
  * `_delta_log/%020d.json` holding newline-separated `commitInfo` /
  * `protocol` / `metaData` / `add` / `remove` actions with paths relative
  * to the table root. A downstream Delta reader (delta-rs, delta-spark,
  * DuckDB delta) can then open `<path>` directly; no Delta jar is needed
  * on THIS side because emission is plain JSON over the already-written
  * parquet files.
  *
  * Emission is a pure function of the manifest chain: the mirror replays
  * its own log to the live file set, lists ONLY data dirs it has not seen
  * before (data dirs are immutable once committed — each is written
  * exactly once by its commit), diffs against the manifest's dir list,
  * and emits the add/remove delta. One shape covers every operation:
  * append (adds only), overwrite (remove-all + adds), merge (removes of
  * rewritten dirs + adds), restore (diff back to the old file set),
  * empty-overwrite (removes only), setProperties (metaData-only commit).
  *
  * Healing: Delta versions must be CONTIGUOUS, so if mirroring ever falls
  * behind (a crash between manifest publish and mirror publish), the next
  * sync emits the missing versions — from the still-present intermediate
  * manifests when possible, as no-op `commitInfo` commits when vacuum
  * already dropped them — and lands the full state diff on the newest
  * version. Mirror files are published with the same temp+rename the
  * manifests use, and vacuumed data files correspond to versions a Delta
  * client also considers vacuumed (their files were `remove`d logically
  * versions ago).
  */
final class DeltaLogMirror(
    spark: SparkSession, tablePath: String,
    lookupManifest: Long => Option[Manifest]) {
  import DeltaLogMirror._
  import VersionedTable.mapper

  private val fsu = new Fs(spark, tablePath)
  private val logDir = new HPath(tablePath, "_delta_log")
  private def logPath(v: Long) = new HPath(logDir, f"$v%020d.json")

  /** Live mirror state after version `version`: table id + last-emitted
    * schema/config + live (relative path → add, DV included) file set +
    * which protocol upgrades have been emitted. */
  // (case class nested in a final class: the unchecked-outer warning is moot,
  // State never crosses instances)
  private case class State(
      version: Long, tableId: String, schemaJson: String,
      config: Map[String, String], files: Map[String, DeltaTable.Add],
      dvProtocol: Boolean = false, cdfProtocol: Boolean = false,
      twProtocol: Boolean = false) {
    def protocol: Protocol = protocolOf(dvProtocol, cdfProtocol, twProtocol)
  }

  // one cold replay per instance, then incremental
  private var cached: Option[State] = None

  private def lastVersion: Option[Long] = {
    val vs = fsu.list(logDir).map(_.getName).collect { case LogName(v) => v.toLong }
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def freshState: State =
    State(-1L, java.util.UUID.randomUUID().toString, "", Map.empty, Map.empty)

  /** Replay own emitted actions — driver-side, tiny JSON files. */
  private def replay(upTo: Long): State = {
    var s = freshState
    var dvProto = false
    var cdfProto = false
    var twProto = false
    val files = scala.collection.mutable.LinkedHashMap[String, DeltaTable.Add]()
    (0L to upTo).foreach { v =>
      val p = logPath(v)
      if (fsu.exists(p)) fsu.readString(p).split('\n').filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("metaData")) {
          val md = node.get("metaData")
          s = s.copy(tableId = md.get("id").asText(),
            schemaJson = md.get("schemaString").asText(),
            config = Option(md.get("configuration")).map(_.fields().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
        }
        if (node.has("protocol")) {
          val pn = node.get("protocol")
          val rf = Option(pn.get("readerFeatures"))
          if (rf.exists(_.elements().asScala.exists(_.asText() == "deletionVectors")))
            dvProto = true
          if (rf.exists(_.elements().asScala.exists(_.asText() == TypeWidening.Feature)))
            twProto = true
          val wf = Option(pn.get("writerFeatures"))
          if (Option(pn.get("minWriterVersion")).exists(w => w.asInt() >= 4 && w.asInt() < 7) ||
              wf.exists(_.elements().asScala.exists(_.asText() == "changeDataFeed")))
            cdfProto = true
        }
        if (node.has("add")) {
          val a = node.get("add")
          val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
            DeletionVectors.Descriptor(d.get("storageType").asText(),
              d.get("pathOrInlineDv").asText(), Option(d.get("offset")).map(_.asInt()),
              d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
          }
          val p = a.get("path").asText()
          files(p) = DeltaTable.Add(p, a.get("size").asLong(),
            a.get("modificationTime").asLong(), Map.empty, None, dv)
        }
        if (node.has("remove")) files.remove(node.get("remove").get("path").asText())
      }
    }
    s.copy(version = upTo, files = files.toMap,
      dvProtocol = dvProto, cdfProtocol = cdfProto, twProtocol = twProto)
  }

  /** Mirror everything up to (and including) manifest `m`. Called after
    * each manifest publish; normally emits exactly one version. Every
    * [[DeltaLogMirror.CheckpointInterval]] versions the full state is also
    * written as a protocol parquet checkpoint + `_last_checkpoint`
    * pointer, so a Delta client opens the table from the checkpoint plus
    * the JSON tail instead of replaying every commit since version 0 —
    * the log-scaling requirement for long-lived tables (a year of hourly
    * syncs is ~9k commits; linear JSON replay per read is the first thing
    * a real deployment hits). */
  def sync(m: Manifest): Unit = {
    val last = lastVersion
    if (last.exists(_ >= m.version)) return // already mirrored
    var state = cached.filter(s => last.contains(s.version))
      .orElse(last.map(replay))
      .getOrElse(freshState)
    // Healed-v0 schema source: every Delta snapshot must carry metaData
    // (protocol requirement — time travel to versions before the first
    // surviving manifest fails without it), so a vacuumed v0 borrows the
    // earliest still-present manifest's schema.
    lazy val earliest: Manifest =
      (state.version + 1 until m.version).iterator
        .flatMap(lookupManifest(_).iterator).nextOption().getOrElse(m)
    (state.version + 1 to m.version).foreach { v =>
      val target = if (v == m.version) Some(m) else lookupManifest(v)
      state = emit(v, state, target, earliest)
      // cadence: the table's delta.checkpointInterval property when set
      // (rides graft table properties into the mirrored configuration,
      // same key delta-spark reads), else the protocol default 10
      if (v > 0 && v % checkpointEvery(state.config) == 0) writeCheckpoint(v, state)
      writeCrc(v, state)
    }
    cached = Some(state)
  }

  /** Version-checksum sidecar ([[VersionChecksum]]) for a mirrored commit —
    * counts come from the INCREMENTAL state (no log replay on the hot
    * graft write path), and the embedded protocol/metadata are derived by
    * the same rules [[emit]] uses (cumulative feature booleans →
    * featureLists; graft CdfProp → delta.enableChangeDataFeed), so the crc
    * agrees with the emitted actions. Skipped only while no metaData has
    * ever been emitted (cannot happen past v0 — emit heals v0 with a
    * fallback metaData). */
  private def writeCrc(v: Long, st: State): Unit = {
    if (st.schemaJson.isEmpty) return
    val p = st.protocol
    val snap = DeltaTable.Snapshot(v,
      DataType.fromJson(st.schemaJson).asInstanceOf[StructType],
      Nil, deltaConfig(st.config), st.files.values.toSeq, st.tableId,
      p.minWriter, p.writerFeatures, p.minReader, p.readerFeatures)
    VersionChecksum.write(fsu, logDir, snap, None)
  }

  /** Protocol parquet checkpoint of the full state at version `v`: one row
    * per action (protocol, metaData, one add per live file — dataChange
    * false per the checkpoint spec), published as
    * `_delta_log/%020d.checkpoint.parquet` + the `_last_checkpoint`
    * pointer. The per-commit JSON files stay — internal replay and older
    * readers keep working; checkpoints are purely additive. */
  private def writeCheckpoint(v: Long, state: State): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val now = System.currentTimeMillis()
    val p = state.protocol
    val protoRow = Row(Row(p.minReader, p.minWriter,
      if (p.minReader >= 3) p.readerFeatures else null,
      if (p.minWriter >= 7) p.writerFeatures else null), null, null, null)
    // same config translation the JSON commits' metaData carries: external
    // CDF readers resolve configuration from the checkpoint once no later
    // metaData action is in the tail, so the delta key must be present
    // here too or table_changes dies every CheckpointInterval
    val metaRow = Row(null,
      Row(state.tableId, null, null, Row("parquet", Map.empty[String, String]),
        state.schemaJson, Seq.empty[String], deltaConfig(state.config), now),
      null, null)
    val addRows = state.files.toSeq.sortBy(_._1).map { case (path, a) =>
      Row(null, null, Row(path, Map.empty[String, String], a.size, now, false,
        a.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull),
        null)
    }
    // graft.txn.* idempotency watermarks as protocol SetTransaction rows:
    // an external delta-spark txnVersion(appId) keeps working from the
    // checkpoint alone (same retention rule as the JSON translation)
    val txnRows = state.config.toSeq
      .collect { case (k, value) if k.startsWith("graft.txn.") =>
        Row(null, null, null, Row(k.stripPrefix("graft.txn."), value.toLong, null))
      }.sortBy(_.getStruct(3).getString(0))
    val rows: Seq[Row] = Seq(protoRow, metaRow) ++ addRows ++ txnRows
    DeltaLogMirror.publishCheckpoint(spark, fsu, logDir, v, rows,
      DeltaLogMirror.checkpointSchema,
      partSize = positiveLongProp(state.config, "delta.checkpoint.partSize"))
  }

  /** The parquet files of one data dir as (DV-less) adds, listed from disk. */
  private def listDir(dir: String): Seq[DeltaTable.Add] =
    fsu.fs.listStatus(new HPath(tablePath, s"data/$dir")).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => DeltaTable.Add(s"data/$dir/${st.getPath.getName}", st.getLen,
        st.getModificationTime, Map.empty, None))

  private def emit(
      v: Long, state: State, target: Option[Manifest],
      metaFallback: => Manifest): State = {
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    def emitMetaData(schemaJson: String, props: Map[String, String]): Unit =
      lines += DeltaActions.metaData(state.tableId, schemaJson, Nil, deltaConfig(props), now)

    lines += DeltaActions.commitInfo(now, None,
      if (target.isEmpty) "HEAL" else if (v == 0L) "CREATE TABLE AS SELECT" else "WRITE",
      Nil, "graft-versioned-table")

    // Protocol: (1,2) at table creation; the FIRST commit whose manifest
    // carries deletion vectors upgrades in place to the table-features form
    // (3,7) listing deletionVectors — exactly how delta-spark upgrades when
    // `delta.enableDeletionVectors` first bites; the FIRST commit under the
    // change-data-feed property upgrades to the legacy CDF writer (1,4) —
    // or joins the (3,7) feature list when DVs are also in play. Legacy
    // writer features stay listed so the set is complete after upgrades.
    val targetHasDv = target.exists(_.dirs.exists(_.dv.nonEmpty))
    val targetCdf = target.exists(
      _.properties.get(VersionedTable.CdfProp).contains("true"))
    // graft-store schema drift that WIDENED an existing column (drift=Full,
    // SchemaEvolution.widen): the pre-change mirrored files keep their
    // narrow parquet type, so the mirrored metaData must carry the
    // protocol's delta.typeChanges trail and the log must list the
    // typeWidening feature — or external engines refuse/misread the old
    // files. Changes OUTSIDE the Delta lattice (date→timestamp is
    // graft-legal) emit unstamped: not representable, best-effort.
    // The stamped schema is what `state.schemaJson` stores, so trails
    // accumulate across commits and survive replay.
    val (mirSchemaJson, targetTw) = target match {
      case Some(man) if state.schemaJson.nonEmpty =>
        val prev = DataType.fromJson(state.schemaJson).asInstanceOf[StructType]
        val nw = DataType.fromJson(man.schemaJson).asInstanceOf[StructType]
        val (stamped, ch) = TypeWidening.stamp(prev, nw)
        (stamped.json, ch.exists(_.legalForDelta))
      case Some(man) => (man.schemaJson, false)
      case None => (state.schemaJson, false)
    }
    val upgradeDv = targetHasDv && !state.dvProtocol
    val upgradeCdf = targetCdf && !state.cdfProtocol
    val upgradeTw = targetTw && !state.twProtocol
    if (v == 0L || upgradeDv || upgradeCdf || upgradeTw) {
      val p = protocolOf(targetHasDv || state.dvProtocol,
        targetCdf || state.cdfProtocol, targetTw || state.twProtocol)
      lines += DeltaActions.protocol(p.minReader, p.minWriter, p.readerFeatures, p.writerFeatures)
    }

    val next = target match {
      case None if v == 0L =>
        // heal a vacuumed v0: still a no-op for files, but emit metaData
        // from the earliest surviving manifest so EVERY snapshot in the
        // log satisfies the protocol's metaData requirement
        val fb = metaFallback
        emitMetaData(fb.schemaJson, fb.properties)
        state.copy(version = v, schemaJson = fb.schemaJson, config = fb.properties)
      case None => state.copy(version = v) // heal gap: no-op commit
      case Some(man) =>
        // compared as mirrored: a cold replay's config already carries the
        // translated CDF key the raw manifest properties lack
        if (v == 0L || mirSchemaJson != state.schemaJson ||
            deltaConfig(man.properties) != deltaConfig(state.config))
          emitMetaData(mirSchemaJson, man.properties)
        // manifest DV entries → Delta descriptors ("p" storage: graft DV
        // container files use the protocol's exact on-disk block layout, so
        // an absolute path + offset is all an external reader needs)
        val dvByPath: Map[String, DeletionVectors.Descriptor] = man.dirs.flatMap { d =>
          d.dv.map { e =>
            s"data/${d.dir}/${e.file}" -> DeletionVectors.Descriptor("p",
              fsu.fs.makeQualified(
                new HPath(tablePath, s"deletion_vectors/${e.bin}")).toString,
              Some(e.offset), e.size, e.cardinality)
          }
        }.toMap
        // target live set: reuse replayed entries for dirs already live
        // (immutable), list only unseen dirs from disk
        val targetFiles = scala.collection.mutable.LinkedHashMap[String, DeltaTable.Add]()
        man.dirs.foreach { d =>
          val prefix = s"data/${d.dir}/"
          val known = state.files.values.filter(_.rawPath.startsWith(prefix))
          (if (known.nonEmpty) known.toSeq else listDir(d.dir)).foreach { a =>
            targetFiles(a.rawPath) = a.copy(dv = dvByPath.get(a.rawPath))
          }
        }
        // a file whose DV changed is logically replaced: remove (with the
        // old descriptor) + re-add with the new one (the Delta DV-commit
        // shape)
        state.files.values.foreach { a =>
          if (targetFiles.get(a.rawPath).forall(_.dv != a.dv))
            lines += DeltaActions.remove(a, now, dataChange = true)
        }
        targetFiles.values.foreach { a =>
          if (state.files.get(a.rawPath).forall(_.dv != a.dv))
            lines += DeltaActions.add(a, dataChange = true)
        }
        // graft.txn.* watermarks that moved in THIS commit become protocol
        // SetTransaction actions — an external engine's txnVersion(appId)
        // sees graft's exactly-once state natively
        man.properties.foreach { case (k, value) =>
          if (k.startsWith("graft.txn.") && !state.config.get(k).contains(value))
            lines += DeltaActions.txn(k.stripPrefix("graft.txn."), value.toLong, now)
        }
        // real Delta cdc actions over the graft-materialized change files:
        // a CDF-enabled merge/delete commit points `table_changes` readers
        // at its exact row-level changes (commits carrying cdc actions are
        // read from those ALONE; others derive from dataChange add/remove)
        if (targetCdf) man.changeDir.foreach { cd =>
          val cdDir = new HPath(tablePath, s"_change_data/$cd")
          if (fsu.isDir(cdDir)) fsu.fs.listStatus(cdDir).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
              !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
            .foreach { st =>
              lines += DeltaActions.cdc(new java.net.URI(null, null,
                s"_change_data/$cd/${st.getPath.getName}", null).toASCIIString,
                Nil, st.getLen)
            }
        }
        state.copy(version = v, schemaJson = mirSchemaJson,
          config = man.properties, files = targetFiles.toMap,
          dvProtocol = state.dvProtocol || upgradeDv,
          cdfProtocol = state.cdfProtocol || upgradeCdf,
          twProtocol = state.twProtocol || upgradeTw)
    }
    fsu.mkdirs(logDir)
    // put-if-absent: a published Delta commit JSON is immutable — a
    // duplicate or racing emit must never silently replace it. Two racers
    // mirroring the SAME graft manifest write byte-identical lines, so a
    // lost race with identical content is a benign no-op; differing
    // content is a real conflict and fails loudly.
    val body = lines.mkString("\n")
    try fsu.writeStringAtomicNew(logPath(v), body)
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.nio.file.FileAlreadyExistsException) =>
        if (fsu.readString(logPath(v)) != body) throw new java.io.IOException(
          s"mirror commit ${logPath(v)} already exists with DIFFERENT " +
            "content — refusing to replace a published Delta commit", e)
    }
    next
  }
}

object DeltaLogMirror {
  private val LogName = """(\d{20})\.json""".r

  /** Delta's default checkpoint cadence. */
  val CheckpointInterval = 10L

  private final case class Protocol(
      minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String])

  /** The mirror's protocol for its cumulative feature set — one derivation
    * so the JSON commits, the crc and the checkpoint rows agree: (1,2)
    * plain, (1,4) the legacy CDF writer, and the table-features form (3,7)
    * once deletion vectors or type widening are in play, with the legacy
    * writer features listed so the set stays complete after upgrades. */
  private def protocolOf(dv: Boolean, cdf: Boolean, tw: Boolean): Protocol =
    if (dv || tw)
      Protocol(3, 7,
        (if (dv) Seq("deletionVectors") else Nil) ++
          (if (tw) Seq(TypeWidening.Feature) else Nil),
        Seq("appendOnly", "invariants") ++
          (if (dv) Seq("deletionVectors") else Nil) ++
          (if (cdf) Seq("changeDataFeed") else Nil) ++
          (if (tw) Seq(TypeWidening.Feature) else Nil))
    else if (cdf) Protocol(1, 4, Nil, Nil)
    else Protocol(1, 2, Nil, Nil)

  /** Mirrored table configuration: the graft properties plus
    * `delta.enableChangeDataFeed` under graft's CDF property — Delta
    * clients discover the feed through their own config key. */
  private def deltaConfig(props: Map[String, String]): Map[String, String] =
    if (props.get(VersionedTable.CdfProp).contains("true"))
      props + ("delta.enableChangeDataFeed" -> "true")
    else props

  /** A positive long table property, or None when absent or malformed.
    * Tolerant by design: it is read after a commit is already published,
    * so a junk value another tool wrote must fall back to the default,
    * never make a durably-committed write appear to fail (the caller
    * would retry and duplicate rows). */
  private[store] def positiveLongProp(config: Map[String, String], key: String): Option[Long] =
    config.get(key).flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)

  /** The checkpoint cadence — delta-spark's `delta.checkpointInterval`
    * table property, else [[CheckpointInterval]]. */
  private[store] def checkpointEvery(config: Map[String, String]): Long =
    positiveLongProp(config, "delta.checkpointInterval").getOrElse(CheckpointInterval)

  /** Write `rows` as ONE plain parquet file at `dest`: Spark writes a
    * directory, the protocol wants plain files — write to a temp sibling
    * dir and rename the single part into place. */
  private def writeParquetFile(
      spark: SparkSession, fsu: Fs, logDir: HPath,
      rows: Seq[org.apache.spark.sql.Row], schema: StructType, dest: HPath): Unit = {
    val tmp = new HPath(logDir, s".cptmp-${UUID.randomUUID()}")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = fsu.fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    fsu.deleteIfExists(dest)
    if (!fsu.fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest failed")
    fsu.delete(tmp, recursive = true)
  }

  /** The `_last_checkpoint` pointer at version `v`. */
  private def writeLastCheckpoint(
      fsu: Fs, logDir: HPath, v: Long, size: Long, parts: Option[Int]): Unit = {
    import VersionedTable.mapper
    val lc = mapper.createObjectNode()
    lc.put("version", v)
    lc.put("size", size)
    parts.foreach(p => lc.put("parts", p): Unit)
    fsu.writeStringAtomic(new HPath(logDir, "_last_checkpoint"),
      mapper.writeValueAsString(lc))
  }

  /** Publish `rows` as the classic parquet checkpoint for version `v`
    * plus the `_last_checkpoint` pointer — single-file, or MULTI-PART
    * when the table sets `delta.checkpoint.partSize` and the action count
    * exceeds it (the protocol's
    * `%020d.checkpoint.%010d.%010d.parquet` form, 1-based part over
    * total). At 100 TB a legacy-protocol table (no v2Checkpoint feature
    * available) can hold millions of add actions; partSize bounds each
    * checkpoint file so no single write or read materializes the whole
    * state in one task. Shared by the graft-manifest mirror and the
    * foreign-Delta writer. */
  private[store] def publishCheckpoint(
      spark: SparkSession, fsu: Fs, logDir: HPath, v: Long,
      rows: Seq[org.apache.spark.sql.Row], schema: StructType,
      partSize: Option[Long] = None): Unit = {
    def writeOne(slice: Seq[org.apache.spark.sql.Row], destName: String): Unit =
      writeParquetFile(spark, fsu, logDir, slice, schema, new HPath(logDir, destName))
    val nParts = partSize.filter(ps => ps > 0 && rows.size > ps)
      .map(ps => math.ceil(rows.size.toDouble / ps).toInt)
    nParts match {
      case None =>
        writeOne(rows, f"$v%020d.checkpoint.parquet")
      case Some(p) =>
        val per = math.ceil(rows.size.toDouble / p).toInt
        rows.grouped(per).zipWithIndex.foreach { case (slice, i) =>
          writeOne(slice, f"$v%020d.checkpoint.${i + 1}%010d.$p%010d.parquet")
        }
    }
    writeLastCheckpoint(fsu, logDir, v, rows.size.toLong, nParts)
  }

  /** Publish a V2-spec checkpoint for version `v` (PROTOCOL.md "V2 Spec
    * Checkpoints" — what `delta.checkpointPolicy = v2` obliges writers to
    * produce): the FILE actions (add/remove) land in one parquet sidecar
    * under `_delta_log/_sidecars/`, and the manifest
    * `<v>.checkpoint.<uuid>.parquet` carries the non-file actions plus the
    * required `checkpointMetadata` row and the `sidecar` pointer. At scale
    * this is the point of the v2 layout: the (large) file listing is
    * referenced, not rewritten into every engine's manifest variant. */
  private[store] def publishCheckpointV2(
      spark: SparkSession, fsu: Fs, logDir: HPath, v: Long,
      manifestRows: Seq[org.apache.spark.sql.Row],
      fileRows: Seq[org.apache.spark.sql.Row],
      baseSchema: StructType): Unit = {
    import org.apache.spark.sql.Row
    val sidecarDir = new HPath(logDir, "_sidecars")
    fsu.mkdirs(sidecarDir)
    val sideName = s"${UUID.randomUUID()}.parquet"
    val sideDest = new HPath(sidecarDir, sideName)
    writeParquetFile(spark, fsu, logDir, fileRows, baseSchema, sideDest)
    val sideStat = fsu.fs.getFileStatus(sideDest)
    val cmT = StructType(Seq(
      StructField("version", LongType),
      StructField("tags", MapType(StringType, StringType))))
    val scT = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType),
      StructField("tags", MapType(StringType, StringType))))
    val schema = StructType(baseSchema.fields ++ Seq(
      StructField("checkpointMetadata", cmT), StructField("sidecar", scT)))
    val pad = Seq(null, null)
    val blank = Seq.fill[Any](baseSchema.size)(null)
    val rows: Seq[Row] = manifestRows.map(r => Row.fromSeq(r.toSeq ++ pad)) ++ Seq(
      Row.fromSeq(blank ++ Seq(Row(v, Map.empty[String, String]), null)),
      Row.fromSeq(blank ++ Seq(null,
        Row(sideName, sideStat.getLen, sideStat.getModificationTime,
          Map.empty[String, String]))))
    writeParquetFile(spark, fsu, logDir, rows, schema,
      new HPath(logDir, f"$v%020d.checkpoint.${UUID.randomUUID()}.parquet"))
    writeLastCheckpoint(fsu, logDir, v, (rows.size + fileRows.size).toLong, None)
  }

  /** The protocol checkpoint row schema (public Delta transaction protocol;
    * optional action columns omitted stay absent — readers treat missing
    * nullable columns as null). */
  private[store] val checkpointSchema: StructType = StructType(Seq(
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
}
