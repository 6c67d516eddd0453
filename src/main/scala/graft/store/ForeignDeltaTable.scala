package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SchemaDrift

/** WRITE path for an EXTERNAL Delta table — continue a destination that
  * delta-spark / delta-rs (e.g. an existing odbc2deltalake deployment,
  * reference reader/spark_reader.py:307-324, reader/odbc_reader.py:259-322)
  * created, without a Delta jar: each append/overwrite writes its parquet
  * files under `graft_data/<uuid>/` inside the table and publishes the
  * next `_delta_log/%020d.json` commit (commitInfo + optional metaData +
  * remove/add actions WITH per-file stats), using the same put-if-absent
  * atomic-rename the graft manifest log uses — two racing writers cannot
  * both claim a version. The original Delta readers keep working on the
  * combined history; graft keeps syncing into it.
  *
  * Scope (refusals are LOUD, never silent misreads): partitioned and
  * unpartitioned tables, column mapping in BOTH modes (physical column
  * names — parquet field ids in id mode — in the data files, physically
  * keyed stats/partitionValues; schema DRIFT under mapping refuses, since
  * new columns need fresh mapping ids only the table owner should assign),
  * deletion vectors (existing DVs read; [[deleteWhere]] writes
  * protocol-correct ones), change data feed (blind appends are
  * cdc-action-free per the protocol; [[deleteWhere]] materializes
  * `_change_data/` delete rows + cdc actions), writer protocol ≤ 6 or
  * protocol-7 tables whose writerFeatures are all honored or benign
  * (appendOnly, invariants, checkConstraints, generatedColumns,
  * identityColumns, vacuumProtocolCheck, timestampNtz, columnMapping,
  * deletionVectors, changeDataFeed, inCommitTimestamp, rowTracking,
  * domainMetadata, v2Checkpoint). Declared column contracts are
  * ENFORCED/COMPUTED in the write plan ([[ColumnPolicies]]): CHECK
  * constraints + legacy invariants + NOT NULL raise in the write tasks
  * on violation; generated columns compute when absent and
  * equality-check when provided; identity columns assign on the
  * start/step lattice past the high-water mark, which the same commit's
  * metaData advances. `delta.appendOnly` tables accept appends but
  * refuse overwrite and DELETE.
  *
  * Stats: one distributed pass over the just-written files (grouped by
  * `_metadata.file_path`) computes numRecords + per-column
  * nullCount/min/max for stat-eligible top-level primitives, so Delta
  * readers (including [[DeltaTable]] itself) keep file-skipping on the
  * rows graft adds. Timestamp bounds are omitted (their stats-JSON
  * serialization is zone-ambiguous; omitting a bound is always sound).
  *
  * 100 TB: the data write is an ordinary distributed parquet write; the
  * stats pass is one narrow scan of the new files only; the commit is one
  * driver-side JSON PUT. Nothing scales with table history size except
  * the O(log) snapshot resolution [[DeltaTable]] already bounds via
  * checkpoints. */
final class ForeignDeltaTable(spark: SparkSession, val path: String)
    extends HistoryTable {
  import VersionedTable.mapper

  private val fsu = new Fs(spark, path)
  private val logDir = new HPath(path, "_delta_log")
  private def logPath(v: Long) = new HPath(logDir, f"$v%020d.json")

  def exists: Boolean = DeltaTable.isDeltaTable(spark, path)

  private def snap: DeltaTable.Snapshot = DeltaTable.snapshot(spark, path)

  def schema: StructType = snap.schema

  def read(): DataFrame = DeltaTable.read(spark, path)

  /** File pruning rides [[DeltaFileIndex]]'s stats-based skipping — the
    * pushed filter prunes add entries before any task launches. */
  def readWhere(cond: Column): DataFrame = read().filter(cond)

  def readCommit(version: Long): DataFrame = {
    import org.apache.spark.sql.graft.{DeltaFileEntry, DeltaFileIndex}
    val s = DeltaTable.snapshot(spark, path, versionAsOf = Some(version))
    val p = logPath(version)
    if (!fsu.exists(p)) throw new IllegalArgumentException(
      s"commit $version of $path has no JSON commit file (checkpoint-only)")
    val root = new HPath(path)
    val adds = DeltaActions.read(fsu, p).collect { case DeltaActions.AddFile(a, _) => a }
    if (adds.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s.schema)
    // ride DeltaFileIndex like read() does, so PARTITION columns (absent
    // from the data files) reconstruct from the adds' partitionValues —
    // the SCD2 full-load pk snapshot depends on them being real values
    val lowerParts = s.partitionColumns.map(_.toLowerCase).toSet
    val partSchema = StructType(s.partitionColumns.map { c =>
      s.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"partition column $c missing from schema"))
    })
    val dataSchema = StructType(
      s.schema.fields.filterNot(f => lowerParts.contains(f.name.toLowerCase)))
    val entries = adds.map(a => DeltaFileEntry(DeltaTable.resolvePath(root, a.rawPath),
      a.size, a.mtime, a.partitionValues, None))
    DeltaFileIndex.scan(spark, root, entries, partSchema, dataSchema)
      .select(s.schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
  }

  def append(df: DataFrame, drift: SchemaDrift = SchemaDrift.NewOnly): Long =
    commitWrite(df, drift, overwrite = false)

  def overwrite(df: DataFrame, drift: SchemaDrift = SchemaDrift.Full): Long =
    commitWrite(df, drift, overwrite = true)

  /** Exactly-once append via the protocol's SetTransaction action (Delta's
    * `txnAppId`/`txnVersion` idempotent-write contract): a batch whose
    * `txnVersion` is at or below the appId's recorded watermark is a NO-OP
    * returning the current version — including when a concurrent retry of
    * the same batch wins the commit race mid-write (the already-staged
    * parquet files are then unreferenced orphans, reclaimed by [[vacuum]]).
    * The txn watermark rides the SAME commit as the data, so any engine's
    * restarted stream resumes exactly-once against this table. */
  def appendIdempotent(
      df: DataFrame, appId: String, txnVersion: Long,
      drift: SchemaDrift = SchemaDrift.NewOnly): Long = {
    val s = snap
    if (s.txns.get(appId).exists(_ >= txnVersion)) return s.version
    commitWrite(df, drift, overwrite = false, txn = Some(appId -> txnVersion))
  }

  /** Row-level DELETE WHERE on the FOREIGN table via real Delta deletion
    * vectors (merge-on-read, the delta-spark DV-delete shape): matching
    * rows are marked in per-file roaring bitmaps written to a
    * `deletion_vector_<uuid>.bin` container at the table root ("u"
    * storage), and each affected file is removed + re-added with the new
    * descriptor — no parquet file is rewritten, partition values and stats
    * carry over verbatim (physical numRecords and loose-but-valid bounds,
    * the semantics every Delta reader applies to DV'd adds). Existing DVs
    * union in (the scan already hides their rows, so new indexes are
    * disjoint by construction).
    *
    * CDF-enabled tables: the commit also carries real `cdc` actions over
    * `_change_data/` files holding the deleted rows with
    * `_change_type = "delete"` (hive-partitioned like the table, physical
    * column names under column mapping) — a table_changes reader sees the
    * exact row-level deletes instead of mis-deriving whole-file changes.
    *
    * Protocol: requires `deletionVectors` in BOTH feature lists. When the
    * table doesn't have it, refuses unless `allowProtocolUpgrade = true` —
    * upgrading a FOREIGN table's protocol can lock out its other, older
    * readers, a call its owner must make, not a migration tool. The
    * upgrade emits (3,7) with the legacy-implied writer features of the
    * previous protocol version plus deletionVectors, in the same commit.
    *
    * Concurrency: single optimistic attempt — a lost version race aborts
    * (row-level conflict detection against an unknown concurrent commit is
    * not decidable from the version number alone; delta-spark aborts
    * conflicting DV deletes the same way). Re-run to retry.
    *
    * Returns the committed version, or the CURRENT version (no commit)
    * when nothing matched. */
  def deleteWhere(cond: Column, allowProtocolUpgrade: Boolean = false): Long =
    withConflictRetry()(() => deleteWhereAttempt(cond, allowProtocolUpgrade))

  private def deleteWhereAttempt(
      cond: Column, allowProtocolUpgrade: Boolean): Long = {
    val s = snap
    validateWritable(s, forOverwrite = false)
    if (s.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly table — DELETE refused")
    val cdfEnabled = s.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))
    val hasDv = s.readerFeatures.contains("deletionVectors") &&
      s.writerFeatures.contains("deletionVectors")
    if (!hasDv && !allowProtocolUpgrade)
      refuse("protocol does not list the deletionVectors feature — pass " +
        "allowProtocolUpgrade=true to upgrade it (may lock out older readers)")

    val root = new HPath(path)
    val addByAbs: Map[String, DeltaTable.Add] = s.adds.map(a =>
      DeltaTable.resolvePath(root, a.rawPath).toUri.getPath -> a).toMap
    val perFile = dvPerFile(s, _.filter(cond))
    if (perFile.isEmpty) return s.version

    // CDF tables: a commit that modifies existing data must carry cdc
    // actions (PROTOCOL.md change-data-files) — readers of table_changes
    // consume a cdc-bearing commit from those ALONE, so the deleted rows
    // are materialized as `_change_type = "delete"` change files under
    // `_change_data/`, hive-partitioned like the table (physical column
    // names under column mapping), BEFORE the commit publishes them.
    // One extra pass over the stats-pruned candidate files only.
    val cdcW: Option[Written] =
      if (!cdfEnabled) None
      else {
        val phys = new PhysPlan(s, s.schema)
        val deleted = phys.toPhysical(
            align(DeltaTable.read(spark, path).filter(cond), s.schema))
          .withColumn(VersionedTable.ChangeTypeCol, lit("delete"))
        val cdcSchema = StructType(phys.writeSchema.fields :+
          StructField(VersionedTable.ChangeTypeCol, StringType))
        Some(writeFiles(deleted, cdcSchema, phys.physPartCols,
          phys.fieldIdWrite, baseDir = "_change_data", withStats = false))
      }

    // one container file for the whole commit, protocol "u" layout
    val (uuidRef, binName) = DeletionVectors.newUuidRef()
    val offs = DeletionVectors.writeBin(
      fsu.fs, new HPath(root, binName), perFile.map(_._2).toSeq)

    val now = System.currentTimeMillis()
    val lines = Seq(commitInfoLine(s, now, "DELETE")) ++
      (if (!hasDv) Seq(protocolUpgradeLine(s, "deletionVectors")) else Nil) ++
      dvReAddLines(perFile, offs, addByAbs, uuidRef, now) ++
      cdcW.toSeq.flatMap(cdcLines)
    claim(s, perFile.map(pf => addByAbs(pf._1).rawPath).toSet, lines,
      "re-run the delete against the fresh snapshot", cleanup = {
        fsu.deleteIfExists(new HPath(root, binName))
        cdcW.foreach(w => fsu.fs.delete(new HPath(root, w.dirName), true))
      })
  }

  /** The (3,7) protocol-upgrade action adding `feature` (a reader+writer
    * feature — deletionVectors, typeWidening), with the legacy protocol's
    * implied reader/writer features listed so the feature set stays
    * complete after the upgrade (legacy reader version 2 IS column
    * mapping — the upgraded list must keep licensing the table's active
    * columnMapping.mode). */
  private def protocolUpgradeLine(
      s: DeltaTable.Snapshot, feature: String): String = {
    val implied = s.minWriterVersion match {
      case v if v >= 7 => s.writerFeatures
      case v =>
        (if (v >= 2) Seq("appendOnly", "invariants") else Nil) ++
          (if (v >= 3) Seq("checkConstraints") else Nil) ++
          (if (v >= 4) Seq("changeDataFeed", "generatedColumns") else Nil) ++
          (if (v >= 5) Seq("columnMapping") else Nil) ++
          (if (v >= 6) Seq("identityColumns") else Nil)
    }
    val impliedReader =
      if (s.minReaderVersion >= 3) s.readerFeatures
      else if (s.minReaderVersion >= 2) Seq("columnMapping")
      else Nil
    DeltaActions.protocol(3, 7,
      (impliedReader :+ feature).distinct, (implied :+ feature).distinct)
  }

  /** remove + re-add action pairs for files gaining a deletion vector:
    * the remove names the file's OLD descriptor (if any), partition
    * values/stats carry verbatim (stats marked WIDE — tightBounds=false
    * stops metadata-only MIN/MAX answers from reading deleted values;
    * numRecords stays physical), row-tracking fields carry verbatim (or
    * existing row ids would shift), and the new descriptor points into
    * the commit's shared "u"-storage container. */
  private def dvReAddLines(
      perFile: Array[(String, Array[Byte], Long)],
      offs: Seq[(Int, Int)],
      addByAbs: Map[String, DeltaTable.Add],
      uuidRef: String, now: Long): Seq[String] =
    perFile.zip(offs).toSeq.flatMap { case ((abs, _, card), (off, size)) =>
      val add = addByAbs.getOrElse(abs, throw new IllegalStateException(
        s"scanned file $abs not in the snapshot's add set"))
      val wide = add.statsJson.map { sj =>
        mapper.writeValueAsString(mapper.readTree(sj) match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode =>
            o.put("tightBounds", false); o
          case other => other
        })
      }
      Seq(DeltaActions.remove(add, now, dataChange = true),
        DeltaActions.add(add.copy(statsJson = wide, dv = Some(
          DeletionVectors.Descriptor("u", uuidRef, Some(off), size, card))),
          dataChange = true))
    }

  /** cdc actions pointing at the commit's materialized `_change_data/`
    * files (dataChange=false — change files are metadata to the snapshot). */
  private def cdcLines(w: Written): Seq[String] =
    w.parts.map { case (rel, size, _) =>
      DeltaActions.cdc(w.uriOf(rel), w.partValues(rel), size)
    }

  /** Rows selected by `matcher` (over the DV-filtered live scan with file
    * provenance) → per-file `(URI path, encoded bitmap, cardinality)`,
    * existing DVs unioned in. Bitmaps encode ON EXECUTORS; the driver
    * collects only compressed bytes — one tuple per AFFECTED file. */
  private def dvPerFile(
      s: DeltaTable.Snapshot,
      matcher: DataFrame => DataFrame): Array[(String, Array[Byte], Long)] = {
    import spark.implicits._
    val root = new HPath(path)
    val existing: Map[String, Array[Long]] = s.adds.flatMap { a =>
      a.dv.map(d => DeltaTable.resolvePath(root, a.rawPath).toUri.getPath ->
        DeletionVectors.load(fsu.fs, root, d))
    }.toMap
    val bc = spark.sparkContext.broadcast(existing)
    matcher(DeltaTable.readWithFilePos(spark, path))
      .select(col(DeltaTable.FilePathCol), col(DeltaTable.RowIndexCol))
      .groupBy(col(DeltaTable.FilePathCol))
      .agg(sort_array(collect_list(col(DeltaTable.RowIndexCol))).as("idxs"))
      .as[(String, Seq[Long])]
      .map { case (uri, idxs) =>
        val abs = new java.net.URI(uri).getPath
        val all = DeletionVectors.union(
          bc.value.getOrElse(abs, Array.emptyLongArray), idxs.toArray)
        (abs, DeletionVectors.encode(all), all.length.toLong)
      }.collect().sortBy(_._1)
  }

  /** MERGE upsert on the FOREIGN table, merge-on-read (the delta-spark
    * DV-merge shape, mirroring [[VersionedTable.merge]]'s DV mode): every
    * target row whose `keys` tuple appears in `src` is DV'd in place, and
    * ALL source rows land as fresh files — whole-key replace for matched
    * keys, insert for new ones — in ONE commit, so no reader ever sees the
    * deleted-but-not-yet-upserted intermediate state. Source rows align to
    * the target schema (MERGE does not drift schemas; delta-spark requires
    * explicit schema evolution there too). CDF tables get exact cdc
    * actions: matched keys as `update_preimage`/`update_postimage` pairs,
    * unmatched as `insert`. Row-tracked tables: DV re-adds carry their ids
    * verbatim, fresh files take ranges above the high-water mark.
    *
    * 100 TB: the matched-row probe is a semi join of the live scan against
    * the source's DISTINCT key tuples (AQE broadcasts a small source side
    * at runtime); per affected file only a compressed bitmap reaches the
    * driver. Concurrency: single optimistic attempt, like [[deleteWhere]].
    * Returns the committed version (current version when src is empty). */
  def merge(
      src: DataFrame, keys: Seq[String],
      allowProtocolUpgrade: Boolean = false): Long =
    withConflictRetry()(() => mergeAttempt(src, keys, allowProtocolUpgrade))

  private def mergeAttempt(
      src: DataFrame, keys: Seq[String],
      allowProtocolUpgrade: Boolean): Long = {
    val s = snap
    validateWritable(s, forOverwrite = false)
    if (s.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly table — MERGE refused")
    require(keys.nonEmpty, "merge needs at least one key column")
    keys.foreach { k =>
      require(s.schema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"merge key $k not in the table schema")
    }
    val cdfEnabled = s.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))
    val hasDv = s.readerFeatures.contains("deletionVectors") &&
      s.writerFeatures.contains("deletionVectors")
    if (!hasDv && !allowProtocolUpgrade)
      refuse("protocol does not list the deletionVectors feature — pass " +
        "allowProtocolUpgrade=true to upgrade it (may lock out older readers)")
    val root = new HPath(path)
    // declared-contract handling on the source rows (they land as fresh
    // files): identity must be PROVIDED (matched rows keep their identity
    // in a whole-key replace — assignment would forge new ids for them;
    // explicit insert values advance the high-water mark via this commit's
    // metaData), absent generated columns are computed, and CHECK/
    // invariant/NOT NULL/provided-generated rules ride the write plan
    val lowerIn = src.columns.map(_.toLowerCase).toSet
    val keyCols = keys.map(k => s.schema.fields
      .find(_.name.equalsIgnoreCase(k)).get.name)
    val idSpecM = ColumnPolicies.identity(s.schema).headOption
    // identity under MERGE mirrors append's policy split:
    // GENERATED BY DEFAULT (allowExplicitInsert=true) — the source must
    //   PROVIDE the column: matched rows keep their identity in a
    //   whole-key replace, explicit insert values advance the mark.
    // GENERATED ALWAYS (allowExplicitInsert=false) — provided values are
    //   forged ids and are refused (exactly as append refuses them);
    //   instead, matched rows RECOVER their current identity from the live
    //   table by key and unmatched (inserted) rows get fresh values past
    //   the high-water mark, delta-spark's MERGE semantics.
    val srcId = idSpecM match {
      case Some(is) if is.allowExplicit =>
        if (!lowerIn.contains(is.name.toLowerCase)) refuse(
          s"MERGE into a table with identity column ${is.name} requires the " +
            "source to provide it — matched rows must keep their identity " +
            "(use append for pure inserts with assignment)")
        src
      case Some(is) =>
        if (lowerIn.contains(is.name.toLowerCase)) refuse(
          s"column ${is.name} is GENERATED ALWAYS AS IDENTITY — explicit " +
            "values are not allowed through MERGE " +
            "(delta.identity.allowExplicitInsert=false)")
        val tgtIdCol = "__graft_merge_identity"
        val tgtIds = DeltaTable.read(spark, path)
          .select(keyCols.map(col) :+ col(s"`${is.name}`").as(tgtIdCol): _*)
          .dropDuplicates(keyCols)
        src.join(tgtIds, keyCols, "left")
          .withColumn(is.name, coalesce(col(tgtIdCol),
            (lit(is.base) + lit(is.step) * (monotonically_increasing_id() + 1L))
              .cast(is.dataType)))
          .drop(tgtIdCol)
      case None => src
    }
    val genColsM = ColumnPolicies.generated(s.schema)
    val providedGenM = genColsM.collect {
      case (f, _) if lowerIn.contains(f.name.toLowerCase) => f.name.toLowerCase
    }.toSet
    val srcGen0 = genColsM.foldLeft(srcId) { case (d, (f, sql)) =>
      if (lowerIn.contains(f.name.toLowerCase)) d
      else d.withColumn(f.name, expr(sql).cast(f.dataType))
    }
    // declared defaults fill source columns the batch omitted (MERGE
    // source rows land as fresh files — the same insert obligation)
    val srcGen = ColumnPolicies.defaults(s.schema).foldLeft(srcGen0) {
      case (d, (f, sql)) =>
        if (lowerIn.contains(f.name.toLowerCase)) d
        else d.withColumn(f.name, expr(sql).cast(f.dataType))
    }
    val rulesM = ColumnPolicies.rules(s.schema, s.configuration, providedGenM)
    val aligned = ColumnPolicies
      .enforce(align(srcGen, s.schema), s.schema, rulesM)
      .transform(graft.operators.Caching.truncate)
    if (aligned.isEmpty) return s.version
    val srcKeys = aligned.select(keyCols.map(col): _*).distinct()

    // matched target rows → per-file DVs (may be empty: pure-insert merge)
    val perFile = dvPerFile(s, _.join(srcKeys, keyCols, "left_semi"))
    val addByAbs: Map[String, DeltaTable.Add] = s.adds.map(a =>
      DeltaTable.resolvePath(root, a.rawPath).toUri.getPath -> a).toMap

    // all source rows land as fresh files
    val phys = new PhysPlan(s, s.schema)
    val w = writeFiles(phys.toPhysical(aligned), phys.writeSchema,
      phys.physPartCols, phys.fieldIdWrite,
      statsAllow = statsAllowWithIdentity(
        statsAllowOf(s.configuration, s.schema, phys.physNameOf),
        s.schema, phys.physNameOf))

    // CDF: matched keys are updates (pre image from the live scan, post
    // from the source), unmatched are inserts — the exact cdc shape
    // delta-spark's MERGE emits
    val cdcW: Option[Written] =
      if (!cdfEnabled) None
      else {
        val ct = VersionedTable.ChangeTypeCol
        val target = DeltaTable.read(spark, path)
        val targetKeys = target.select(keyCols.map(col): _*).distinct()
        // stamp the change type AFTER the physical projection (per leg) —
        // a per-row ct column would not survive toPhysical's column-mapped
        // select
        def leg(df: DataFrame, kind: String): DataFrame =
          phys.toPhysical(align(df, s.schema)).withColumn(ct, lit(kind))
        val changes =
          leg(target.join(srcKeys, keyCols, "left_semi"), "update_preimage")
            .unionByName(
              leg(aligned.join(targetKeys, keyCols, "left_semi"), "update_postimage"))
            .unionByName(
              leg(aligned.join(targetKeys, keyCols, "left_anti"), "insert"))
        val cdcSchema = StructType(phys.writeSchema.fields :+
          StructField(ct, StringType))
        Some(writeFiles(changes, cdcSchema, phys.physPartCols,
          phys.fieldIdWrite, baseDir = "_change_data", withStats = false))
      }

    val metaSchemaM = idSpecM.flatMap(is =>
      advancedHwm(is, w, phys.physNameOf(is.name))
        .map(h => ColumnPolicies.withHighWaterMark(s.schema, is.name, h)))
    // backstop (mirrors commitWrite's): under GENERATED ALWAYS, unmatched
    // source rows were ASSIGNED fresh values strictly past the mark — if
    // any exist, the mark MUST advance in this commit or the next append
    // reassigns the same ids. One cheap pass over the (truncated)
    // source, only on the anomaly path.
    idSpecM.filterNot(_.allowExplicit).foreach { is =>
      if (metaSchemaM.isEmpty) {
        val c = col(s"`${is.name}`").cast(LongType)
        val past = if (is.step >= 0) c > lit(is.base) else c < lit(is.base)
        if (aligned.where(past).limit(1).count() > 0L)
          throw new IllegalStateException(
            s"identity values were assigned for column ${is.name} in MERGE " +
              "but no advanced high-water mark could be derived from the " +
              "written files' stats or partition values — refusing to commit")
      }
    }
    mutationCommit(s, hasDv, perFile, addByAbs, Some(w), cdcW, "MERGE",
      metaSchemaM)
  }

  /** The shared one-commit assembly for DV mutations (MERGE/UPDATE):
    * commitInfo (+ ICT), optional (3,7) protocol upgrade, DV remove/re-add
    * pairs over the shared "u" container, fresh adds with row-tracking id
    * assignment above the high-water mark, cdc actions. Single optimistic
    * attempt — a lost version race cleans up the staged container/data/
    * change files and aborts (row-level conflict detection against an
    * unknown concurrent commit is not decidable from the version alone). */
  private def mutationCommit(
      s: DeltaTable.Snapshot, hasDv: Boolean,
      perFile: Array[(String, Array[Byte], Long)],
      addByAbs: Map[String, DeltaTable.Add],
      newW: Option[Written], cdcW: Option[Written],
      opName: String, metaSchema: Option[StructType] = None): Long = {
    val root = new HPath(path)
    val (uuidRef, binName) = DeletionVectors.newUuidRef()
    val offs =
      if (perFile.isEmpty) Seq.empty
      else DeletionVectors.writeBin(
        fsu.fs, new HPath(root, binName), perFile.map(_._2).toSeq)
    val now = System.currentTimeMillis()
    val v = s.version + 1
    val lines = Seq(commitInfoLine(s, now, opName)) ++
      (if (!hasDv) Seq(protocolUpgradeLine(s, "deletionVectors")) else Nil) ++
      // schema-metadata update riding the mutation (identity high-water
      // mark advanced by explicit MERGE inserts)
      metaSchema.filter(_.json != s.schema.json).map(ms =>
        metaDataLine(s, ms.json, s.partitionColumns, s.configuration, now)) ++
      dvReAddLines(perFile, offs, addByAbs, uuidRef, now) ++
      newW.toSeq.flatMap(freshAddLines(s, v, _, dataChange = true)) ++
      cdcW.toSeq.flatMap(cdcLines)
    claim(s, perFile.map(pf => addByAbs(pf._1).rawPath).toSet, lines,
      s"re-run the ${opName.toLowerCase} against the fresh snapshot", cleanup = {
        if (perFile.nonEmpty) fsu.deleteIfExists(new HPath(root, binName))
        newW.foreach(w => fsu.fs.delete(new HPath(root, w.dirName), true))
        cdcW.foreach(cw => fsu.fs.delete(new HPath(root, cw.dirName), true))
      })
  }

  /** UPDATE ... SET on the FOREIGN table, merge-on-read: rows matching
    * `cond` are DV'd in their files and re-land with `set`'s expressions
    * applied — one commit, no parquet rewrite (the delta-spark DV-update
    * shape). `set` maps existing column names to expressions over the old
    * row (e.g. `Map("price" -> col("price") * 1.1)`). CDF tables get exact
    * `update_preimage`/`update_postimage` cdc pairs. Returns the committed
    * version (current version when nothing matched). */
  def updateWhere(
      cond: Column, set: Map[String, Column],
      allowProtocolUpgrade: Boolean = false): Long =
    withConflictRetry()(() => updateWhereAttempt(cond, set, allowProtocolUpgrade))

  private def updateWhereAttempt(
      cond: Column, set: Map[String, Column],
      allowProtocolUpgrade: Boolean): Long = {
    val s = snap
    validateWritable(s, forOverwrite = false)
    if (s.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly table — UPDATE refused")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    set.keys.foreach { k =>
      require(s.schema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"SET column $k not in the table schema")
    }
    if (s.partitionColumns.exists(pc => set.keys.exists(_.equalsIgnoreCase(pc))))
      refuse("UPDATE of a partition column would move rows across " +
        "partition directories — rewrite via merge instead")
    ColumnPolicies.identity(s.schema).headOption.foreach { is =>
      if (set.keys.exists(_.equalsIgnoreCase(is.name)))
        refuse(s"SET on identity column ${is.name} — identity values are " +
          "writer-assigned and immutable")
    }
    val genColsU = ColumnPolicies.generated(s.schema)
    genColsU.foreach { case (f, sql) =>
      if (set.keys.exists(_.equalsIgnoreCase(f.name)))
        refuse(s"SET on generated column ${f.name} — it is computed from " +
          s"($sql); update its dependencies instead")
    }
    val cdfEnabled = s.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))
    val hasDv = s.readerFeatures.contains("deletionVectors") &&
      s.writerFeatures.contains("deletionVectors")
    if (!hasDv && !allowProtocolUpgrade)
      refuse("protocol does not list the deletionVectors feature — pass " +
        "allowProtocolUpgrade=true to upgrade it (may lock out older readers)")
    val root = new HPath(path)
    val perFile = dvPerFile(s, _.filter(cond))
    if (perFile.isEmpty) return s.version
    val addByAbs: Map[String, DeltaTable.Add] = s.adds.map(a =>
      DeltaTable.resolvePath(root, a.rawPath).toUri.getPath -> a).toMap
    val matched = DeltaTable.read(spark, path).filter(cond)
    val updated0 = set.foldLeft(matched) { case (df, (k, expr)) =>
      df.withColumn(s.schema.fields.find(_.name.equalsIgnoreCase(k)).get.name, expr)
    }
    // generated columns recompute from the POST-SET row (their
    // dependencies may have moved — the delta-spark UPDATE contract);
    // CHECK/invariant/NOT NULL rules ride the re-land write plan
    val updated = genColsU.foldLeft(updated0) { case (d, (f, sql)) =>
      d.withColumn(f.name, expr(sql).cast(f.dataType))
    }
    val rulesU = ColumnPolicies.rules(s.schema, s.configuration, Set.empty)
    val phys = new PhysPlan(s, s.schema)
    val w = writeFiles(
      phys.toPhysical(ColumnPolicies.enforce(
        align(updated, s.schema), s.schema, rulesU)),
      phys.writeSchema, phys.physPartCols, phys.fieldIdWrite,
      statsAllow = statsAllowOf(s.configuration, s.schema, phys.physNameOf))
    val cdcW: Option[Written] =
      if (!cdfEnabled) None
      else {
        val ct = VersionedTable.ChangeTypeCol
        def leg(df: DataFrame, kind: String): DataFrame =
          phys.toPhysical(align(df, s.schema)).withColumn(ct, lit(kind))
        val changes = leg(matched, "update_preimage")
          .unionByName(leg(updated, "update_postimage"))
        val cdcSchema = StructType(phys.writeSchema.fields :+
          StructField(ct, StringType))
        Some(writeFiles(changes, cdcSchema, phys.physPartCols,
          phys.fieldIdWrite, baseDir = "_change_data", withStats = false))
      }
    mutationCommit(s, hasDv, perFile, addByAbs, Some(w), cdcW, "UPDATE")
  }

  /** RESTORE the FOREIGN table to an earlier version as a NEW commit (the
    * delta-spark RESTORE shape — history only moves forward): files live
    * in the target version but not now are re-ADDED with their
    * then-current stats/DV descriptors/row-tracking fields verbatim, files
    * live now but absent then are REMOVED, and files whose deletion vector
    * CHANGED are removed + re-added with the old descriptor. Schema and
    * configuration restore too (a metaData action) when they differ.
    * Refuses when a file or DV container the target version needs was
    * already VACUUMed — that state is unrecoverable and silence would
    * resurrect a corrupt snapshot. CDF readers derive this commit's
    * changes from its dataChange add/removes (delta-spark emits RESTORE
    * the same derivable way). Returns the committed version (current
    * version when nothing differs). */
  def restore(version: Long): Long =
    withConflictRetry()(() => restoreAttempt(version))

  private def restoreAttempt(version: Long): Long = {
    val cur = snap
    validateWritable(cur, forOverwrite = false)
    if (cur.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly table — RESTORE removes files")
    require(version >= 0 && version <= cur.version,
      s"restore target $version out of range [0, ${cur.version}]")
    val old = DeltaTable.snapshot(spark, path, versionAsOf = Some(version))
    val root = new HPath(path)
    val curByPath = cur.adds.map(a => a.rawPath -> a).toMap
    val oldByPath = old.adds.map(a => a.rawPath -> a).toMap
    val removes = cur.adds.filterNot(a =>
      oldByPath.get(a.rawPath).exists(_.dv == a.dv))
    val readds = old.adds.filterNot(a =>
      curByPath.get(a.rawPath).exists(_.dv == a.dv))
    val sameMeta = old.schema.json == cur.schema.json &&
      old.configuration == cur.configuration
    if (removes.isEmpty && readds.isEmpty && sameMeta) return cur.version
    // every re-added file (and its DV container) must still exist — a
    // vacuumed target version is unrecoverable
    readds.foreach { a =>
      val p = DeltaTable.resolvePath(root, a.rawPath)
      if (!fsu.exists(p)) refuse(
        s"RESTORE to $version needs ${a.rawPath}, already vacuumed")
      a.dv.foreach { d =>
        val dvPath = d.storageType match {
          case "u" => Some(DeletionVectors.uuidPath(root, d.pathOrInlineDv))
          case "p" => Some(new HPath(new java.net.URI(d.pathOrInlineDv)))
          case _ => None // "i": inline
        }
        dvPath.foreach(dp => if (!fsu.exists(dp)) refuse(
          s"RESTORE to $version needs deletion vector ${d.pathOrInlineDv}, " +
            "already vacuumed"))
      }
    }
    val now = System.currentTimeMillis()
    val lines = Seq(commitInfoLine(cur, now, "RESTORE", Seq("version" -> version))) ++
      (if (sameMeta) Nil else Seq(metaDataLine(cur, old.schema.json,
        old.partitionColumns, old.configuration, now))) ++
      removes.map(DeltaActions.remove(_, now, dataChange = true)) ++
      readds.map(DeltaActions.add(_, dataChange = true))
    // RESTORE's footprint is every file live at its snapshot plus every
    // file it resurrects: any remove-bearing winner conflicts (a restore
    // over a concurrent mutation would silently undo it), while pure
    // appends retry — the re-run's fresh diff then removes the appended
    // files too, which IS what "restore to version N" means serially
    claim(cur, cur.adds.map(_.rawPath).toSet ++ readds.map(_.rawPath), lines,
      "re-run the restore against the fresh snapshot")
  }

  /** OPTIMIZE for the foreign table: bin-packing compaction + DV purge.
    * Candidates are files smaller than `smallFileBytes` or carrying a
    * deletion vector; per hive partition, a group qualifies when it has a
    * DV'd file (purge is always worth one rewrite) or at least `minFiles`
    * small ones (no churn on already-compact layouts). The candidates'
    * LIVE rows are rewritten into fresh compacted files (column mapping
    * honored, stats recomputed TIGHT — the DVs dissolve), and the commit
    * removes candidates + adds rewrites with `dataChange = false`, so
    * readers see identical rows and streaming consumers skip it — exactly
    * delta-spark's OPTIMIZE commit shape. Untouched files carry over by
    * reference. The old files become vacuum-eligible tombstones.
    *
    * Row-tracked tables compact too: each candidate row's CURRENT row id /
    * commit version is read (materialized-or-derived, the reader's own
    * rule) and persisted into the rewritten files as the table's
    * materialized row-tracking columns — extra physical parquet columns
    * outside the logical schema, named by the `delta.rowTracking
    * .materialized*` config keys (assigned and recorded via this commit's
    * metaData on first materialization). The compacted adds still take
    * fresh baseRowId ranges above the high-water mark, as every rt add
    * must; the materialized values outrank them, so row identity is
    * stable across the rewrite for every protocol-correct reader.
    *
    * CLUSTERING: when the table is liquid-clustered (the owner's
    * `delta.clustering` domain metadata names the clustering columns) or
    * the caller passes `clusterBy` (logical names — the OPTIMIZE ZORDER BY
    * shape), the rewrite range-partitions and sorts the candidate rows by
    * those columns — one column sorts directly (any orderable type), 2–4
    * numeric/date/timestamp columns sort by the interleaved-bit z-value
    * ([[ZOrder]], shared with the graft store's optimize) so EVERY
    * clustered column gets tight per-file min/max stats, not just the
    * leading one. Compaction is best-effort per the clustering spec:
    * by default only the usual candidates (small / DV'd files) re-cluster;
    * `full = true` rewrites every live file — delta-spark's OPTIMIZE FULL,
    * the "owner's next OPTIMIZE" that restores clustering after a stretch
    * of non-clustering writers' appends.
    *
    * 100 TB: reads ONLY the candidate files (the add filter prunes at
    * snapshot resolution, before any listing); output sizing is
    * bytes-proportional (`ceil(liveBytes / targetFileBytes)` shuffle
    * partitions, hive-partitioned writes split per dir). Allowed on
    * `delta.appendOnly` tables (no logical change). Returns the committed
    * version, or the current one when nothing qualified. */
  def optimize(
      smallFileBytes: Long = 128L << 20,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 2,
      clusterBy: Seq[String] = Nil,
      full: Boolean = false): Long =
    withConflictRetry()(() =>
      optimizeAttempt(smallFileBytes, targetFileBytes, minFiles, clusterBy, full))

  private def optimizeAttempt(
      smallFileBytes: Long, targetFileBytes: Long, minFiles: Int,
      clusterBy: Seq[String], full: Boolean): Long = {
    val s = snap
    validateWritable(s, forOverwrite = false)
    val rowTracking = s.writerFeatures.contains("rowTracking")
    val physEarly = new PhysPlan(s, s.schema)
    // physical clustering column names: explicit clusterBy (logical,
    // resolved through the mapping) outranks the table's own liquid
    // clustering domain (which stores PHYSICAL names already)
    val clusterPhys: Seq[String] =
      if (clusterBy.nonEmpty) clusterBy.map(physEarly.physNameOf)
      else clusteringPhysCols(s)
    clusterPhys.filter(c => physEarly.physPartCols.exists(_.equalsIgnoreCase(c)))
      .foreach(c => refuse(s"clustering column $c is a partition column — " +
        "hive partitioning already splits files by it"))
    clusterPhys.filterNot(c =>
        physEarly.writeSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .foreach(c => refuse(s"clustering column $c missing from the table schema"))
    if (full && clusterPhys.isEmpty)
      refuse("OPTIMIZE FULL needs clustering columns — the table has no " +
        "delta.clustering domain and no clusterBy was passed")
    if (clusterPhys.size >= 2)
      ZOrder.requireZOrderable(physEarly.writeSchema, clusterPhys)
    val doomed: Seq[DeltaTable.Add] =
      if (full) s.adds
      else s.adds.groupBy(_.partitionValues)
        .values.flatMap { files =>
          val cands = files.filter(a => a.dv.isDefined || a.size < smallFileBytes)
          if (cands.exists(_.dv.isDefined) || cands.size >= minFiles) cands else Nil
        }.toSeq
    if (doomed.isEmpty) return s.version
    val doomedRaw = doomed.map(_.rawPath).toSet
    // Row-tracked tables: compaction changes every row's physical position,
    // so the fresh baseRowId+row_index derivation can no longer produce the
    // original ids — the protocol's answer is MATERIALIZED row-tracking
    // columns (extra physical parquet columns named by the
    // delta.rowTracking.materialized* config keys, invisible to
    // schema-driven readers, outranking the derivation). The rewrite reads
    // each candidate row's current identity and persists it; names are
    // taken from the table config or assigned here (and recorded via this
    // commit's metaData) when no writer materialized before.
    val MatIdKey = "delta.rowTracking.materializedRowIdColumnName"
    val MatVerKey = "delta.rowTracking.materializedRowCommitVersionColumnName"
    val matIdName = s.configuration.getOrElse(MatIdKey,
      s"_row-id-col-${UUID.randomUUID()}")
    val matVerName = s.configuration.getOrElse(MatVerKey,
      s"_row-commit-version-col-${UUID.randomUUID()}")
    val optCfgDelta: Map[String, String] =
      if (!rowTracking) Map.empty
      else Map(MatIdKey -> matIdName, MatVerKey -> matVerName) -- s.configuration.keys
    val live = DeltaTable.readAddsWhere(spark, path, a => doomedRaw(a.rawPath),
      rowIds = rowTracking)
    val phys = physEarly
    // readAddsWhere emits the logical schema exactly (+ the two row-id
    // columns when asked), so no align is needed; the identity columns
    // carry through the physical projection under their materialized names
    val aligned =
      if (!rowTracking) phys.toPhysical(align(live, s.schema))
      else phys.toPhysical(
        live.withColumnRenamed(DeltaTable.RowIdCol, matIdName)
          .withColumnRenamed(DeltaTable.RowCommitVersionCol, matVerName),
        carry = Seq(matIdName, matVerName))
    // size the rewrite by bytes, not file count; partitioned tables
    // repartition by (partition columns, salt) where the salt modulus is
    // that hive partition's bytes-proportional split count — a partition
    // holding several large DV'd candidates splits across tasks instead of
    // funneling multi-GB through one
    val nOut = math.max(1, math.ceil(
      doomed.map(_.size).sum.toDouble / targetFileBytes).toInt)
    val packed =
      if (clusterPhys.nonEmpty) {
        // clustered rewrite: range-split then sort so per-file stats come
        // out tight on every clustering column. One column sorts directly;
        // several sort by the interleaved z-value. On hive-partitioned
        // tables the partition columns lead both the range and the sort,
        // so the partitionBy writer's required ordering is a satisfied
        // prefix — no re-sort, the cluster order inside each file survives
        val ZTmp = "__graft_z"
        val (df0, orderCols) =
          if (clusterPhys.size == 1)
            (aligned, clusterPhys.map(c => col(s"`$c`")))
          else
            (aligned.withColumn(ZTmp, ZOrder.zValue(aligned, clusterPhys)),
              Seq(col(ZTmp)))
        val keyCols = phys.physPartCols.map(c => col(s"`$c`")) ++ orderCols
        df0.repartitionByRange(nOut, keyCols: _*)
          .sortWithinPartitions(keyCols: _*)
          .drop(ZTmp)
      }
      else if (phys.physPartCols.isEmpty) aligned.repartition(nOut)
      else {
        val Sep = "\u0001"
        val Nul = "\u0000"
        def keyOf(pv: Map[String, Option[String]]): String = {
          val ci = pv.map { case (k, ov) => k.toLowerCase -> ov }
          phys.physPartCols.map(c =>
            ci.getOrElse(c.toLowerCase, None).getOrElse(Nul)).mkString(Sep)
        }
        val splits: Map[String, Int] = doomed.groupBy(_.partitionValues).map {
          case (pv, fs) => keyOf(pv) -> math.max(1, math.ceil(
            fs.map(_.size).sum.toDouble / targetFileBytes).toInt)
        }
        val keyCol = concat_ws(Sep, phys.physPartCols.map(c =>
          coalesce(col(s"`$c`").cast("string"), lit(Nul))): _*)
        // string round-trip of a partition value can differ from the log's
        // form for exotic types — a missed lookup degrades to modulus 1,
        // i.e. exactly the previous one-task-per-partition behavior
        val saltMod = coalesce(element_at(typedLit(splits), keyCol), lit(1))
        val dataCols = phys.writeSchema.fieldNames.toSeq
          .filterNot(phys.physPartCols.contains)
        val rowHash =
          if (dataCols.isEmpty) spark_partition_id().cast("long")
          else hash(dataCols.map(c => col(s"`$c`")): _*).cast("long")
        aligned.withColumn("__graft_salt", pmod(rowHash, saltMod.cast("long")))
          .repartition(math.max(nOut, 1),
            phys.physPartCols.map(c => col(s"`$c`")) :+ col("__graft_salt"): _*)
          .drop("__graft_salt")
      }
    val w = writeFiles(packed, phys.writeSchema, phys.physPartCols,
      phys.fieldIdWrite,
      statsAllow = statsAllowOf(s.configuration, s.schema, phys.physNameOf))

    val now = System.currentTimeMillis()
    val lines = Seq(commitInfoLine(s, now, "OPTIMIZE",
        if (clusterPhys.isEmpty) Nil
        else Seq("zOrderBy" -> mapper.writeValueAsString(clusterPhys.toArray)))) ++
      // first materialization on this table: record the column names so
      // every reader (this one included) knows where the persisted ids live
      (if (optCfgDelta.isEmpty) Nil else Seq(metaDataLine(s, s.schema.json,
        s.partitionColumns, s.configuration ++ optCfgDelta, now))) ++
      doomed.map(DeltaActions.remove(_, now, dataChange = false)) ++
      // the compacted adds still take fresh disjoint baseRowId ranges above
      // the high-water mark (every rt add must carry one) — the
      // materialized columns inside the files outrank them, preserving
      // original identity
      freshAddLines(s, s.version + 1, w, dataChange = false)
    claim(s, doomed.map(_.rawPath).toSet, lines,
      "re-run OPTIMIZE against the fresh snapshot (the staged " +
        s"rewrite dir ${w.dirName} ages out via vacuum)")
  }

  // --------------------------------------------------------------- internals

  /** Test seam: invoked immediately before a mutation attempt publishes
    * its commit JSON — specs interleave a concurrent writer here to
    * exercise the lost-race conflict analysis deterministically. */
  private[store] var onBeforeCommit: () => Unit = () => ()

  /** Paths of commit `v`'s remove actions, or None when the commit
    * carries a metaData / protocol action (or is unreadable) — those are
    * never retry-compatible. commitInfo/txn/add/cdc/domainMetadata lines
    * are benign under a FULL re-run retry: fresh adds and advanced domain
    * high-water marks are re-read from the fresh snapshot. A pure append
    * reports an empty set. */
  private def commitRemoves(v: Long): Option[Set[String]] =
    scala.util.Try {
      val actions = DeltaActions.read(fsu, logPath(v))
      if (actions.exists {
        case _: DeltaActions.MetaData | _: DeltaActions.Protocol => true
        case _ => false
      }) None
      else Some(actions.collect { case r: DeltaActions.RemoveFile => r.path }.toSet)
    }.toOption.flatten

  /** Set by every mutation attempt immediately before it publishes its
    * commit: (the snapshot version the attempt actually read, the raw add
    * paths it removes / re-adds). [[withConflictRetry]] runs its conflict
    * analysis FROM that version — not from a version probed before the
    * attempt started — so a commit landing between the wrapper's probe
    * and the attempt's own snapshot read is never double-counted as a
    * winner (it was already incorporated). */
  private[store] var attemptFootprint: Option[(Long, Set[String])] = None

  /** Optimistic-concurrency wrapper for the mutations (deleteWhere /
    * updateWhere / merge / restore / optimize): a lost commit race runs
    * LOGICAL conflict analysis over the commits that won, from the
    * snapshot version the attempt actually used ([[attemptFootprint]]).
    * Retry-compatible winners are commits with no metaData / protocol
    * action whose removed (and re-added — DV commits pair them) file set
    * is DISJOINT from the files this attempt touched: the retry re-runs
    * the WHOLE attempt against the fresh snapshot, realizing the serial
    * winner→loser order (delta-spark's ConflictChecker resolves disjoint
    * DV deletes the same way; files the loser merely READ are safe
    * because the re-run re-reads them from the fresh snapshot). A winner
    * that removed a file this attempt touched is a TRUE write-write
    * conflict — two writers targeting the same rows — and aborts loudly,
    * as delta-spark's ConcurrentDeleteDelete/DeleteRead do. */
  private def withConflictRetry[T](maxRetries: Int = 3)(attempt: () => T): T = {
    var tries = 0
    while (true) {
      attemptFootprint = None
      try return attempt()
      catch {
        case e: java.util.ConcurrentModificationException =>
          val (readV, touched) = attemptFootprint.getOrElse(throw e)
          val after = snap.version
          val compatible = after > readV && (readV + 1 to after).forall(v =>
            commitRemoves(v).exists(_.intersect(touched).isEmpty))
          if (!compatible || tries >= maxRetries) throw e
          tries += 1
      }
    }
    sys.error("unreachable")
  }

  private def refuse(msg: String): Nothing = throw refusal(msg)

  private def refusal(msg: String): UnsupportedOperationException =
    new UnsupportedOperationException(
      s"cannot write external Delta table $path: $msg")

  /** Physical clustering column names from the table's liquid-clustering
    * domain metadata (delta-spark's `delta.clustering` domain,
    * configuration `{"clusteringColumns":[["physName"],…]}` — PHYSICAL
    * name paths). Nested clustering paths refuse: stats clustering targets
    * top-level parquet columns. Empty when the table is not clustered. */
  private def clusteringPhysCols(s: DeltaTable.Snapshot): Seq[String] =
    s.domainMetadata.get("delta.clustering").toSeq.flatMap { cfg =>
      Option(mapper.readTree(cfg).get("clusteringColumns")).toSeq.flatMap { arr =>
        (0 until arr.size).map { i =>
          val p = arr.get(i)
          if (p.size != 1) refuse("liquid clustering on a nested field is " +
            "unsupported by graft's OPTIMIZE — stats clustering targets " +
            "top-level columns")
          p.get(0).asText
        }
      }
    }

  /** Current row-id high-water mark from the `delta.rowTracking` domain
    * metadata (-1 when the domain has never been written — ids then start
    * at 0). */
  private def rowIdHighWaterMark(s: DeltaTable.Snapshot): Long =
    s.domainMetadata.get("delta.rowTracking")
      .flatMap(cfg => Option(mapper.readTree(cfg).get("rowIdHighWaterMark"))
        .map(_.asLong()))
      .getOrElse(-1L)

  /** add lines for the files `w` wrote, committed as version `v` over
    * snapshot `s`. Row tracking ACTIVE (the feature listed obliges every
    * writer): the files take disjoint baseRowId ranges above the table's
    * high-water mark (their numRecords stats give the per-file counts),
    * and a trailing domainMetadata line advances the mark in the same
    * commit. */
  private def freshAddLines(
      s: DeltaTable.Snapshot, v: Long, w: Written, dataChange: Boolean): Seq[String] = {
    val rowTracking = s.writerFeatures.contains("rowTracking")
    var hwm = rowIdHighWaterMark(s)
    val adds = w.parts.map { case (rel, size, mtime) =>
      val stats = w.statsByFile.get(rel)
      val baseRowId = if (!rowTracking) None else {
        val n = stats.flatMap(sj => Option(mapper.readTree(sj).get("numRecords"))
            .map(_.asLong()))
          .getOrElse(refuse(
            s"row tracking needs a numRecords stat for $rel to assign ids"))
        val base = hwm + 1
        hwm += n
        Some(base)
      }
      DeltaActions.add(DeltaTable.Add(w.uriOf(rel), size, mtime,
        w.partValues(rel).toMap, stats, None, baseRowId, baseRowId.map(_ => v)),
        dataChange)
    }
    if (!rowTracking || w.parts.isEmpty) adds
    else adds :+ DeltaActions.domainMetadata(
      "delta.rowTracking", s"""{"rowIdHighWaterMark":$hwm}""")
  }

  private def commitInfoLine(
      s: DeltaTable.Snapshot, now: Long, operation: String,
      params: Seq[(String, Any)] = Nil): String =
    DeltaActions.commitInfo(now, ictFor(s, now), operation, params,
      ForeignDeltaTable.EngineInfo)

  /** metaData line under the table's own id (a fresh one when the log
    * never recorded any). */
  private def metaDataLine(
      s: DeltaTable.Snapshot, schemaJson: String, partitionColumns: Seq[String],
      configuration: Map[String, String], now: Long): String =
    DeltaActions.metaData(tableIdOf(s), schemaJson, partitionColumns, configuration, now)

  private def tableIdOf(s: DeltaTable.Snapshot): String =
    if (s.tableId.nonEmpty) s.tableId else UUID.randomUUID().toString

  /** Put-if-absent claim of commit `v`: false when another writer already
    * published that version. */
  private def tryClaim(v: Long, lines: Seq[String]): Boolean =
    try { fsu.writeStringAtomicNew(logPath(v), lines.mkString("\n")); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => false
    }

  /** Publish a single-attempt mutation over snapshot `s` as version
    * `s.version + 1`: records the attempt's footprint (the raw paths it
    * removes / re-adds) for [[withConflictRetry]], claims the version, and
    * on a lost race runs `cleanup` over the staged files no commit will
    * reference, then aborts. Returns the committed version. */
  private def claim(
      s: DeltaTable.Snapshot, touched: Set[String], lines: Seq[String],
      retryHint: String, cleanup: => Unit = ()): Long = {
    val v = s.version + 1
    attemptFootprint = Some((s.version, touched))
    onBeforeCommit()
    if (!tryClaim(v, lines)) {
      cleanup
      throw new java.util.ConcurrentModificationException(
        s"lost the commit race on Delta table $path at version $v — $retryHint")
    }
    postCommit(v)
    v
  }

  /** The in-commit timestamp this commit must carry when the table has the
    * `inCommitTimestamp` feature ACTIVE (delta-spark's recent default):
    * max(now, previous commit's ICT + 1) — the embedded clock is required
    * to be strictly monotonic even when the wall clock skews backwards.
    * None when the feature is inactive (the field must then be absent).
    * A checkpoint-cleaned previous JSON falls back to the wall clock. */
  private def ictFor(s: DeltaTable.Snapshot, now: Long): Option[Long] =
    if (!s.configuration.get("delta.enableInCommitTimestamps")
      .exists(_.equalsIgnoreCase("true"))) None
    else {
      val prevP = logPath(s.version)
      val prev =
        if (!fsu.exists(prevP)) None
        else DeltaTable.commitInfoIct(fsu, prevP)
      Some(math.max(now, prev.fold(Long.MinValue)(_ + 1)))
    }

  /** Benign writer features: capabilities whose obligations this writer
    * already satisfies, or whose ACTIVE use is vetoed separately by the
    * config/schema scans above (invariants when none is defined,
    * checkConstraints when no `delta.constraints.*` config, CDF per the
    * blind-append rule with [[deleteWhere]] refusing, generated/identity
    * columns when none appears in the schema; deletionVectors because
    * appends never touch existing DVs and [[deleteWhere]] writes
    * protocol-correct ones). The feature LISTED but inactive imposes no
    * obligation on the commits this writer emits. */
  private val BenignWriterFeatures =
    Set("appendOnly", "invariants", "vacuumProtocolCheck", "timestampNtz",
      "deletionVectors", "columnMapping", "changeDataFeed",
      "checkConstraints", "generatedColumns", "identityColumns",
      // honored, not merely benign: when delta.enableInCommitTimestamps is
      // active every commit carries a strictly monotonic
      // commitInfo.inCommitTimestamp (ictFor)
      "inCommitTimestamp",
      // honored: fresh adds take disjoint baseRowId ranges above the
      // delta.rowTracking high-water mark (commitWrite), DV re-adds carry
      // their row-tracking fields verbatim (deleteWhere), domain metadata
      // survives checkpoints (writeCheckpoint), and OPTIMIZE preserves
      // row identity by MATERIALIZING each row's current id/commit
      // version into the compacted files (the protocol's
      // delta.rowTracking.materialized* columns)
      "rowTracking", "domainMetadata",
      // honored: when delta.checkpointPolicy=v2 the table owner chose the
      // V2 checkpoint spec — writeCheckpoint emits a v2 manifest +
      // sidecar instead of a classic single-file checkpoint
      "v2Checkpoint",
      // benign per the spec: liquid clustering is BEST-EFFORT — a writer
      // that does not cluster may still append (its files are simply
      // unclustered until the owner's next OPTIMIZE); the clustering
      // domain metadata rides the domainMetadata handling untouched
      "clustering",
      // honored: a drift=Full append widening an existing column stamps
      // delta.typeChanges on the widened fields and refuses changes
      // outside the Delta lattice or without the owner's
      // delta.enableTypeWidening opt-in ([[TypeWidening]]); this writer
      // never narrows a type
      "typeWidening", "typeWidening-preview",
      // honored natively: Spark 4 writes VARIANT values in the spec's
      // unshredded binary encoding; variant columns are not stat-eligible
      // (bounds omitted — protocol-legal) and NOT NULL / CHECK rules ride
      // the write plan like any other column. variantShredding-preview is
      // honored-benign on the write side: shredding is a PER-FILE option
      // (the spec's shredded and unshredded files coexist in one table),
      // so this writer's appends simply land unshredded — always legal —
      // while reads reassemble the owner's shredded files natively
      // (see DeltaTable.SupportedReaderFeatures).
      "variantType", "variantType-preview", "variantShredding-preview",
      // honored: commits are unconstrained by the feature; METADATA
      // CLEANUP is the constrained operation, and [[cleanupMetadata]]
      // refuses to pick a history floor below
      // delta.requireCheckpointProtectionBeforeVersion (the always-safe
      // reading of the spec's "clean everything below it in one go with a
      // validated boundary checkpoint, or clean nothing below it")
      "checkpointProtection",
      // honored: columns omitted from an INSERT batch take their
      // CURRENT_DEFAULT expression instead of NULL (append/overwrite and
      // MERGE source rows — the feature's write obligation); provided
      // values always win, and a default that no longer resolves fails
      // the write loudly at plan time
      "allowColumnDefaults")

  private def validateWritable(s: DeltaTable.Snapshot, forOverwrite: Boolean): Unit = {
    val cm = s.configuration.getOrElse("delta.columnMapping.mode", "none")
    if (cm != "none" && cm != "name" && cm != "id")
      refuse(s"unknown column mapping mode '$cm'")
    // CDF-enabled tables: PROTOCOL.md requires cdc actions only for
    // commits that MODIFY existing data — blind appends (and full
    // overwrites, whose changes CDF readers derive from the dataChange
    // add/remove actions) are legal without them; deleteWhere emits real
    // cdc actions over materialized `_change_data/` delete rows.
    // CHECK constraints, column invariants, NOT NULL, generated columns,
    // and identity columns are ENFORCED/COMPUTED by the write paths
    // ([[ColumnPolicies]]), not refused.
    if (forOverwrite && s.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      refuse("delta.appendOnly table — overwrite refused (append is allowed)")
    if (ColumnPolicies.identity(s.schema).length > 1)
      refuse("more than one identity column declared — the Delta protocol " +
        "allows at most one; the table metadata is corrupt")
    s.minWriterVersion match {
      case v if v <= 6 => // plain / appendOnly / invariants / constraints /
        // CDF / gens (≤4), column mapping (5 — handled natively), identity
        // (6 — the schema-metadata scan above vetoed any actual identity
        // column); the active-feature configs already vetoed what we
        // cannot honor
      case _ =>
        val bad = s.writerFeatures.filterNot(BenignWriterFeatures)
        if (bad.nonEmpty) refuse(s"writer features ${bad.mkString(", ")}")
    }
  }

  private def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(target.fields.toSeq.map { f =>
      // cast to the deep-RELAXED type: Spark refuses casting a nullable
      // struct/array/map onto a non-nullable nested shape, and nested
      // NOT NULL is a declaration enforced on VALUES (ColumnPolicies),
      // not a cast target
      val relaxed = SchemaEvolution.relaxDeep(f.dataType)
      have.get(f.name.toLowerCase) match {
        case Some(c) if SchemaEvolution.relaxDeep(df.schema(c).dataType) ==
            relaxed => col(c).as(f.name)
        case Some(c) => col(c).cast(relaxed).as(f.name)
        case None => lit(null).cast(relaxed).as(f.name)
      }
    }: _*)
  }

  private def statEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType => true
    case _ => false
  }


  /** Column-mapping write plan for one snapshot: physical rename/cast of a
    * logically-named DataFrame, the physical write schema (parquet field
    * ids in id mode), physical partition column names. Identity when the
    * table is unmapped. */
  private final class PhysPlan(s: DeltaTable.Snapshot, outSchema: StructType)
      extends DeltaTable.ColumnMapping(s.configuration, "table", refusal) {
    val writeSchema: StructType =
      if (mapped) StructType(outSchema.fields.map(physField)) else outSchema
    val physPartCols: Seq[String] = s.partitionColumns.map(c =>
      physName(outSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        refuse(s"partition column $c missing from schema"))))
    /** Logically-aligned df → physically-named df (field ids ride the
      * parquet.field.id metadata; nested renames via a same-shaped
      * positional cast). */
    /** id-mode writes need `spark.sql.parquet.fieldId.write.enabled`
      * during the parquet write — scoped there ([[writeFiles]]), never a
      * lasting session-conf mutation. */
    val fieldIdWrite: Boolean = idMode
    /** Physical (stats-key) name of a logical column — identity under no
      * mapping. */
    def physNameOf(logical: String): String =
      outSchema.fields.find(_.name.equalsIgnoreCase(logical))
        .map(physName).getOrElse(logical)
    /** `carry` names EXTRA (non-schema) columns to keep through the
      * physical projection verbatim — e.g. the materialized row-tracking
      * columns an OPTIMIZE rewrite persists alongside the data. */
    def toPhysical(alignedLogical: DataFrame, carry: Seq[String] = Nil): DataFrame =
      if (!mapped && carry.isEmpty) alignedLogical
      else {
        val carryCols = carry.map(n => col(s"`$n`"))
        alignedLogical.select(outSchema.fields.toSeq.map { f =>
          val pf = physField(f)
          val c = col(s"`${f.name}`")
          (if (pf.dataType == f.dataType) c else c.cast(pf.dataType))
            .as(pf.name, pf.metadata)
        } ++ carryCols: _*)
      }
  }

  /** The identity high-water mark after a write, read off the written
    * files' OWN stats pass (maxValues for a positive step, minValues for a
    * negative one — keyed by the column's PHYSICAL name): the furthest
    * assigned-or-provided value in step direction, None when nothing moved
    * past the recorded mark (e.g. allowExplicitInsert values below it, or
    * an empty batch). The stats pass is forced to include the identity
    * column regardless of the table's data-skipping config
    * ([[statsAllowWithIdentity]]); an identity column that is ALSO a
    * partition column never appears in stats, so its exact per-file value
    * is recovered from the hive partition dir names instead — between the
    * two, a written row can never advance the mark invisibly. */
  private def advancedHwm(
      is: ColumnPolicies.Identity, w: Written, physName: String): Option[Long] = {
    val key = if (is.step >= 0) "maxValues" else "minValues"
    val fromStats = w.statsByFile.values.toSeq.flatMap { sj =>
      Option(mapper.readTree(sj).get(key)).flatMap(n => Option(n.get(physName)))
        .filterNot(_.isNull).map(_.asLong())
    }
    val fromParts = w.parts.flatMap { case (rel, _, _) =>
      w.partValues(rel).collectFirst {
        case (n, Some(v)) if n == physName => v
      }.flatMap(v => scala.util.Try(v.toLong).toOption)
    }
    val vals = fromStats ++ fromParts
    if (vals.isEmpty) None
    else {
      val v = if (is.step >= 0) vals.max else vals.min
      if (is.highWaterMark.forall(h => if (is.step >= 0) v > h else v < h))
        Some(v)
      else None
    }
  }

  /** One physical write under a fresh `graft_data/<uuid>/` dir: the files
    * (relative path, size, mtime), decoded partition values per file, and
    * per-file stats JSON. Shared by append/overwrite and OPTIMIZE. */
  private final case class Written(
      dirName: String,
      parts: Seq[(String, Long, Long)],
      partValues: String => Seq[(String, Option[String])],
      statsByFile: Map[String, String]) {
    /** Log path of one written file: log paths are percent-encoded
      * relative URIs, and the multi-arg URI constructor encodes what the
      * on-disk segment escaping produced (e.g. a literal '%' in an escaped
      * partition value). */
    def uriOf(rel: String): String =
      new java.net.URI(null, null, s"$dirName/$rel", null).toASCIIString
  }

  /** Restore-on-exit scope for a session SQL conf (the write-path flags
    * must not leak onto unrelated writes in the same session). */
  private def withSessionConf[T](key: String, value: Option[String])(body: => T): T =
    value match {
      case None => body
      case Some(v) =>
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, v)
        try body
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Physical-name allow-set for the stats pass, honoring the table's
    * data-skipping configuration: `delta.dataSkippingStatsColumns` (an
    * explicit logical-name list) outranks
    * `delta.dataSkippingNumIndexedCols` (stats for the first N schema
    * columns, delta's wide-table cost lever — at 100 TB a 500-column
    * table statting everything pays 1500 aggregates per file for columns
    * nobody filters on); absent or -1 → all columns, this writer's
    * historical behavior. */
  /** `statsAllowOf` with the identity column FORCED into the allow-set:
    * the identity high-water mark is recovered from the written files'
    * stats pass ([[advancedHwm]]), so excluding the identity column via
    * `delta.dataSkippingStatsColumns` / `delta.dataSkippingNumIndexedCols`
    * must never silence it — a lost mark means the next append reassigns
    * the same identity values (delta-spark tracks the mark with a
    * dedicated stats tracker independent of data-skipping config). */
  private def statsAllowWithIdentity(
      allow: Option[Set[String]], logicalSchema: StructType,
      physOf: String => String): Option[Set[String]] =
    ColumnPolicies.identity(logicalSchema).headOption
      .fold(allow)(is => allow.map(_ + physOf(is.name)))

  private def statsAllowOf(
      config: Map[String, String], logicalSchema: StructType,
      physOf: String => String): Option[Set[String]] =
    config.get("delta.dataSkippingStatsColumns") match {
      case Some(cols) => Some(cols.split(',').toSeq.map(_.trim)
        .filter(_.nonEmpty).map(c =>
          physOf(c.stripPrefix("`").stripSuffix("`"))).toSet)
      case None =>
        config.get("delta.dataSkippingNumIndexedCols")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption) match {
          case Some(n) if n >= 0 =>
            Some(logicalSchema.fields.take(n).toSeq.map(f => physOf(f.name)).toSet)
          case _ => None
        }
    }

  private def writeFiles(
      aligned: DataFrame, writeSchema: StructType,
      physPartCols: Seq[String], fieldIdWrite: Boolean = false,
      baseDir: String = "graft_data", withStats: Boolean = true,
      statsAllow: Option[Set[String]] = None): Written = {
    // data files land inside the table under a per-commit unique dir — the
    // protocol allows any relative path, and an uncommitted dir is
    // invisible to every Delta reader until the JSON commit publishes.
    // Partitioned tables write hive-layout subdirs (col=value) inside it
    // and each add action carries the partitionValues map, so every Delta
    // reader keeps partition-pruning the rows graft appends.
    // (`baseDir = "_change_data"` + `withStats = false` is the CDF
    // change-file variant: same layout/partitioning, no stats pass.)
    val dirName = s"$baseDir/${UUID.randomUUID().toString.take(12)}"
    val dataDir = new HPath(path, dirName)
    withSessionConf("spark.sql.parquet.fieldId.write.enabled",
      if (fieldIdWrite) Some("true") else None) {
      // bound the footer's binary min/max at write time: parquet-mr DROPS
      // chunk statistics outright past 4 KB, which would erase the string
      // bounds the stats pass reads back from the footer; its truncator
      // keeps bound validity (prefix min, incremented-successor max)
      val w = aligned.write.option("parquet.statistics.truncate.length", "256")
      if (physPartCols.isEmpty) w.parquet(dataDir.toString)
      else w.partitionBy(physPartCols: _*).parquet(dataDir.toString)
    }
    // relative path under dataDir (partition subdirs included), size, mtime
    def walk(p: HPath, prefix: String): Seq[(String, Long, Long)] =
      fsu.fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$prefix$n/")
        else if (n.endsWith(".parquet"))
          Seq((s"$prefix$n", st.getLen, st.getModificationTime))
        else Nil
      }
    val parts = walk(dataDir, "")
    // partition values per file, decoded from the hive dir names Spark
    // wrote (escapePathName inverse; __HIVE_DEFAULT_PARTITION__ → null)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def partValuesOf(rel: String): Seq[(String, Option[String])] =
      rel.split('/').dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"unexpected non-hive partition dir segment $seg")
        val v = ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
        ExternalCatalogUtils.unescapePathName(seg.substring(0, i)) ->
          (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v))
      }

    // stats come from the written files' parquet FOOTERS, not a re-scan:
    // numRecords / nullCount / min / max per stat-eligible top-level DATA
    // column are already recorded per row group (partition columns prune
    // via partitionValues, not stats), so the stats pass reads KBs of
    // metadata per file instead of re-decoding every written page — the
    // previous Spark-aggregation pass was a full second read of the batch
    // (2× write amplification at 100 TB). String bounds are capped
    // Delta-style inside [[ParquetFooterStats]]; anything a footer cannot
    // vouch for is OMITTED, which the protocol always allows.
    val lowerParts = physPartCols.map(_.toLowerCase).toSet
    val statCols = writeSchema.fields.filter(f =>
      statEligible(f.dataType) && !lowerParts.contains(f.name.toLowerCase) &&
        statsAllow.forall(_.contains(f.name))).toSeq
    val statsByFile: Map[String, String] =
      if (parts.isEmpty || !withStats) Map.empty
      else {
        val dirStr = fsu.fs.makeQualified(dataDir).toString
        val cols = statCols.map(f => f.name -> f.dataType)
        val sconf = new SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration)
        val rels = parts.map(_._1)
        // footer reads are metadata-scale but remote-storage round-trips:
        // distribute across the cluster (one task per slice of files)
        spark.sparkContext
          .parallelize(rels, math.max(1,
            math.min(rels.size, spark.sparkContext.defaultParallelism)))
          .map(rel =>
            rel -> ParquetFooterStats.statsJson(sconf.value, s"$dirStr/$rel", cols))
          .collect().toMap
      }
    Written(dirName, parts, partValuesOf, statsByFile)
  }

  private def commitWrite(
      df: DataFrame, drift: SchemaDrift, overwrite: Boolean,
      txn: Option[(String, Long)] = None): Long = {
    val staged = stageWrite(df, drift, overwrite)
    staged.commit(staged.s, txn)
  }

  /** The files are written under `graft_data/` exactly as [[append]] /
    * [[overwrite]] write them; publishing runs their commit — identity
    * high-water mark, row-tracking ids, the `delta.appendOnly` check and
    * the conflict-retry loop — against the snapshot current at publish
    * time. */
  private[graft] def stage(df: DataFrame, drift: SchemaDrift, overwrite: Boolean): StagedWrite =
    stageWrite(df, drift, overwrite)

  /** The data half of a write: validates `df` against the current
    * snapshot, writes its files and their stats, and returns what the
    * commit needs. Nothing is visible until [[Staged.commit]]. */
  private def stageWrite(df: DataFrame, drift: SchemaDrift, overwrite: Boolean): Staged = {
    val s = snap
    validateWritable(s, overwrite)
    val lowerIn = df.columns.map(_.toLowerCase).toSet
    // IDENTITY: a batch without the column gets values assigned on the
    // protocol's start+k*step lattice, strictly past the recorded
    // high-water mark (ColumnPolicies.Identity.base) — unique via
    // monotonically_increasing_id (deterministic per partition/position,
    // gaps allowed by the spec, exactly delta-spark's generation shape).
    // The advanced mark is read back from the written files' OWN stats
    // pass (zero extra jobs) and rides this commit's metaData action.
    val idSpec = ColumnPolicies.identity(s.schema).headOption
    val dfIdent = idSpec match {
      case Some(is) if lowerIn.contains(is.name.toLowerCase) =>
        if (!is.allowExplicit) refuse(
          s"column ${is.name} is GENERATED ALWAYS AS IDENTITY — explicit " +
            "values are not allowed (delta.identity.allowExplicitInsert=false)")
        df
      case Some(is) =>
        df.withColumn(is.name,
          (lit(is.base) + lit(is.step) * (monotonically_increasing_id() + 1L))
            .cast(is.dataType))
      case None => df
    }
    // GENERATED columns absent from the batch are computed from their
    // generation expression BEFORE align would null-fill them; provided
    // ones are equality-enforced below (the delta-spark contract)
    val genCols = ColumnPolicies.generated(s.schema)
    val providedGen = genCols.collect {
      case (f, _) if lowerIn.contains(f.name.toLowerCase) => f.name.toLowerCase
    }.toSet
    val dfGen0 = genCols.foldLeft(dfIdent) { case (d, (f, sql)) =>
      if (lowerIn.contains(f.name.toLowerCase)) d
      else d.withColumn(f.name, expr(sql).cast(f.dataType))
    }
    // DECLARED DEFAULTS (allowColumnDefaults): a column omitted from the
    // batch takes its CURRENT_DEFAULT expression instead of the NULL that
    // align would fill — the feature's write obligation; provided values
    // always win (defaults never overwrite)
    val dfGen = ColumnPolicies.defaults(s.schema).foldLeft(dfGen0) {
      case (d, (f, sql)) =>
        if (lowerIn.contains(f.name.toLowerCase)) d
        else d.withColumn(f.name, expr(sql).cast(f.dataType))
    }
    val merged0 =
      if (overwrite) SchemaEvolution.relaxNullable(dfGen.schema)
      else SchemaEvolution.merge(s.schema,
        SchemaEvolution.relaxNullable(dfGen.schema), drift)
    // the table's declared column contracts SURVIVE the write: same-named
    // fields keep their nullability (a null write into a NOT NULL column
    // is a loud in-plan error, not a silently relaxed schema) and — on
    // overwrite, whose incoming schema carries no Delta metadata — their
    // invariant/generated/identity field metadata
    val merged = StructType(merged0.fields.map { f =>
      s.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(of) =>
          val meta = if (overwrite) of.metadata else f.metadata
          f.copy(nullable = of.nullable && f.nullable, metadata = meta)
        case None => f
      }
    })
    val partCols = s.partitionColumns
    partCols.foreach { c =>
      val was = s.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      val now = merged.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
      if (now.isEmpty || now != was) refuse(
        s"partition column $c must survive the write unchanged " +
          s"(was ${was.fold("absent")(_.simpleString)}, " +
          s"would become ${now.fold("absent")(_.simpleString)})")
    }
    // Type Widening (PROTOCOL.md): an append whose drift=Full merge widens
    // an EXISTING column leaves the pre-change files narrow on disk, so the
    // protocol only licenses it through the typeWidening table feature —
    // the change must be inside the Delta lattice (STRICTER than graft's
    // own, [[TypeWidening.legal]]), the owner must have opted in via
    // delta.enableTypeWidening, and the commit stamps delta.typeChanges on
    // each widened field (done against the FRESH snapshot inside the
    // commit loop). Overwrites are exempt: they remove every narrow file
    // in the same commit. Widening a partition column was refused above
    // (the protocol forbids widening partition/clustering columns).
    val widened = if (overwrite) Nil else TypeWidening.changes(s.schema, merged)
    if (widened.nonEmpty) {
      val bad = widened.filterNot(_.legalForDelta)
      if (bad.nonEmpty) refuse(
        s"schema drift changes ${bad.mkString("; ")} — outside the Delta " +
          "typeWidening lattice, other readers of this table could not " +
          "serve the pre-change files")
      if (!s.configuration.get(TypeWidening.EnableProp).exists(_.equalsIgnoreCase("true")))
        refuse(s"schema drift widens ${widened.mkString("; ")} — that needs " +
          s"the typeWidening table feature, and ${TypeWidening.EnableProp} " +
          "is not set on the table; enabling type widening is a " +
          "table-evolution decision for the owner engine")
    }
    // preview-variant entries carry tableVersion; stable entries must not
    val twPreviewOnly = s.writerFeatures.contains(TypeWidening.PreviewFeature) &&
      !s.writerFeatures.contains(TypeWidening.Feature)
    // Column mapping (PROTOCOL.md "Column Mapping", writer obligations):
    // data files carry PHYSICAL column names — parquet field ids too in id
    // mode — and stats/partitionValues key physically; the user-facing
    // DataFrame stays logical. Schema drift under mapping is ADD-ONLY:
    // new columns get fresh mapping ids above delta.columnMapping
    // .maxColumnId and delta-spark's `col-<uuid>` physical-name
    // convention (ids stamped on nested struct fields too), and the
    // commit's metaData bumps maxColumnId — the exact evolution
    // delta-spark performs. WIDENING an existing mapped column rides the
    // typeWidening gate above (physical names and field ids survive the
    // widen — merge copies the old fields' metadata); an overwrite may not
    // DROP a mapped column (a table-evolution decision for the owner).
    val mapped =
      s.configuration.getOrElse("delta.columnMapping.mode", "none") != "none"
    val (outSchema: StructType, configDelta: Map[String, String]) =
      if (!mapped) (merged, Map.empty[String, String])
      else {
        val byLower = s.schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val mergedLower = merged.fields.map(_.name.toLowerCase).toSet
        s.schema.fields.foreach { of =>
          if (!mergedLower.contains(of.name.toLowerCase))
            refuse(s"overwrite under column mapping drops column ${of.name} — " +
              "dropping a mapped column is a table-evolution decision for " +
              "the owner engine")
        }
        // base on MERGED, not s.schema: overlapping fields carry their
        // mapping metadata through the merge (ids/physical names survive a
        // typeWidening-licensed widen); only ADDED fields need fresh ids
        val added = merged.fields.filterNot(f => byLower.contains(f.name.toLowerCase))
        if (added.isEmpty) (merged, Map.empty[String, String])
        else {
          import DeltaTable.{IdKey, PhysKey}
          var nextId = s.configuration.get("delta.columnMapping.maxColumnId")
            .map(_.toLong).getOrElse(
              s.schema.fields.collect {
                case f if f.metadata.contains(IdKey) => f.metadata.getLong(IdKey)
              }.foldLeft(0L)(_ max _))
          def stamp(f: StructField): StructField = {
            nextId += 1
            val id = nextId
            def deep(dt: DataType): DataType = dt match {
              case st: StructType => StructType(st.fields.map(stamp))
              case a: ArrayType => a.copy(elementType = deep(a.elementType))
              case m: MapType =>
                m.copy(keyType = deep(m.keyType), valueType = deep(m.valueType))
              case o => o
            }
            f.copy(dataType = deep(f.dataType),
              metadata = new MetadataBuilder().withMetadata(f.metadata)
                .putLong(IdKey, id)
                .putString(PhysKey, s"col-${UUID.randomUUID()}").build())
          }
          val stamped = added.map(stamp)
          val keep = merged.fields.filter(f => byLower.contains(f.name.toLowerCase))
          (StructType(keep ++ stamped),
            Map("delta.columnMapping.maxColumnId" -> nextId.toString))
        }
      }
    val phys = new PhysPlan(s, outSchema)
    val writeSchema = phys.writeSchema
    val physPartCols = phys.physPartCols
    // declared-contract enforcement rides the write plan itself: CHECK
    // constraints + invariants + NOT NULL + provided-generated equality
    // (ColumnPolicies.enforce — raise_error in the write tasks, zero
    // extra passes over the batch)
    val ruleSeq = ColumnPolicies.rules(outSchema, s.configuration, providedGen)
    val checked =
      try ColumnPolicies.enforce(align(dfGen, outSchema), outSchema, ruleSeq)
      catch {
        case e: org.apache.spark.sql.AnalysisException => refuse(
          "a declared constraint no longer resolves against the written " +
            s"schema (an overwrite dropping a constrained column?): ${e.getMessage}")
      }
    val aligned = phys.toPhysical(checked)

    val w = writeFiles(aligned, writeSchema, physPartCols, phys.fieldIdWrite,
      statsAllow = statsAllowWithIdentity(
        statsAllowOf(s.configuration, outSchema, phys.physNameOf),
        outSchema, phys.physNameOf))
    // identity high-water mark after this batch, read off the written
    // files' stats pass (or partition dir values when the identity column
    // is a partition column) — advances the schema metadata in this commit
    val newHwm: Option[Long] = idSpec.flatMap(is =>
      advancedHwm(is, w, phys.physNameOf(is.name)))
    // backstop: ids were ASSIGNED to a non-empty batch, so the mark MUST
    // advance — committing without it would make the next append reassign
    // the very same identity values (silent duplicate keys). Hard-fail
    // before the commit is claimed; the staged files stay vacuum-reclaimable.
    val idsAssigned = idSpec.exists(is => !lowerIn.contains(is.name.toLowerCase))
    if (idsAssigned && newHwm.isEmpty) {
      val rowsWritten = w.statsByFile.values.exists(sj =>
        Option(mapper.readTree(sj).get("numRecords")).exists(_.asLong() > 0L)) ||
        (w.statsByFile.isEmpty && w.parts.nonEmpty)
      if (rowsWritten) throw new IllegalStateException(
        s"identity values were assigned for column ${idSpec.get.name} but no " +
          "advanced high-water mark could be derived from the written files' " +
          "stats or partition values — refusing to commit the batch")
    }

    new Staged(s, w, drift, overwrite, merged, outSchema, configDelta, mapped,
      idSpec, newHwm, twPreviewOnly)
  }

  /** Files [[stageWrite]] wrote against snapshot `s`, and the schema,
    * configuration and identity high-water mark their commit declares. */
  private final class Staged(
      val s: DeltaTable.Snapshot, w: Written, drift: SchemaDrift, overwrite: Boolean,
      merged: StructType, outSchema: StructType, configDelta: Map[String, String],
      mapped: Boolean, idSpec: Option[ColumnPolicies.Identity], newHwm: Option[Long],
      twPreviewOnly: Boolean) extends StagedWrite {
    private val partCols = s.partitionColumns
    @volatile private var committed = false

    def publish(): Long = commit(snap, txn = None)

    def discard(): Unit =
      if (!committed) fsu.delete(new HPath(path, w.dirName), recursive = true)

    /** Commits the files as the version after `first`, or after whichever
      * snapshot a lost race re-resolves. */
    def commit(first: DeltaTable.Snapshot, txn: Option[(String, Long)]): Long = {
      // OPTIMISTIC COMMIT with bounded retry (the delta-spark shape): the
      // data files above are written ONCE; losing the put-if-absent version
      // claim to a concurrent writer re-resolves the snapshot and re-derives
      // the commit (schema re-merged — a conflicting writer's new columns
      // survive; an overwrite's remove set recomputed from the FRESH live
      // set, i.e. the overwrite serializes AFTER the other commit, which is
      // exactly what "replace table content" means). Unretriable drift — the
      // partitioning layout changed under us, or the table became
      // unwritable — still throws.
      var cur = first
      var attempts = 0
      while (true) {
        if (attempts > 0) cur = snap
        if (cur.version != s.version) {
          validateWritable(cur, overwrite)
          if (cur.partitionColumns != partCols)
            throw new java.util.ConcurrentModificationException(
              s"partition columns of $path changed concurrently " +
                s"(${partCols.mkString(",")} -> ${cur.partitionColumns.mkString(",")}) — " +
                "the written file layout no longer matches")
          // a mapped table whose schema moved under us may have consumed the
          // mapping ids this write assigned — never re-commit stale ids
          if (mapped && cur.schema.json != s.schema.json)
            throw new java.util.ConcurrentModificationException(
              s"schema of column-mapped table $path changed concurrently — " +
                "the assigned column-mapping ids may collide; re-run the write")
        }
        val mergedNow0 =
          if (overwrite || cur.version == s.version) merged
          else SchemaEvolution.merge(cur.schema, merged, drift)
        // the schema this commit's metaData would declare: the mapped path
        // carries the freshly-id-stamped outSchema; the identity high-water
        // mark (from the written files' stats) advances its field metadata
        val mergedNow = {
          val base = if (mapped) outSchema else mergedNow0
          (idSpec, newHwm) match {
            case (Some(is), Some(h)) =>
              ColumnPolicies.withHighWaterMark(base, is.name, h)
            case _ => base
          }
        }
        val configNow = cur.configuration ++ configDelta
        val now = System.currentTimeMillis()
        val v = cur.version + 1
        // typeWidening trail: stamp delta.typeChanges on every widened field
        // against the FRESH snapshot's schema (a retry re-diffs — a
        // concurrent writer may already have applied the same widen)
        val (mergedFinal, twChangesNow) =
          if (overwrite) (mergedNow, Nil)
          else TypeWidening.stamp(cur.schema, mergedNow,
            if (twPreviewOnly) Some(v) else None)
        // a concurrent retry of the SAME idempotent batch may have won the
        // race while we were losing it — re-check the watermark against the
        // re-resolved snapshot and bail as a no-op (staged files become
        // vacuum-reclaimable orphans, never duplicate rows)
        txn.foreach { case (appId, tv) =>
          if (cur.txns.get(appId).exists(_ >= tv)) return cur.version
        }
        // a widening commit on a table without the feature lists it first:
        // the owner's delta.enableTypeWidening=true (vetted above) IS the
        // opt-in delta-spark would have stamped the protocol with
        val curHasTw = cur.writerFeatures.contains(TypeWidening.Feature) ||
          cur.writerFeatures.contains(TypeWidening.PreviewFeature)
        val lines =
          Seq(commitInfoLine(cur, now, "WRITE",
            Seq("mode" -> (if (overwrite) "Overwrite" else "Append")))) ++
          // SetTransaction rides the same commit as its data (commitInfo stays
          // the FIRST line — the ICT fast-path reads only that far)
          txn.map { case (appId, tv) => DeltaActions.txn(appId, tv, now) } ++
          (if (twChangesNow.nonEmpty && !curHasTw)
            Seq(protocolUpgradeLine(cur, TypeWidening.Feature)) else Nil) ++
          (if (mergedFinal.json == cur.schema.json && configNow == cur.configuration) Nil
          else Seq(metaDataLine(cur, mergedFinal.json, partCols, configNow, now))) ++
          // Add.rawPath (and its deletion vector) is exactly what the foreign
          // log recorded — emitting the identical add key guarantees the
          // remove cancels its add for every reader, percent-encoding included
          (if (overwrite) cur.adds.map(DeltaActions.remove(_, now, dataChange = true))
          else Nil) ++
          freshAddLines(cur, v, w, dataChange = true)
        if (tryClaim(v, lines)) {
          committed = true
          postCommit(v)
          return v
        }
        attempts += 1
        if (attempts >= MaxCommitAttempts)
          throw new java.util.ConcurrentModificationException(
            s"lost the commit race on Delta table $path $attempts times — giving up")
      }
      -1L // unreachable
    }
  }

  private val MaxCommitAttempts = 20

  /** VACUUM for a foreign destination: physically delete (a) data files
    * whose remove tombstones have EXPIRED (deletionTimestamp older than
    * `delta.deletedFileRetentionDuration`, default one week — override
    * with `retentionMs` for tests/compaction flows), and (b) ORPHANS —
    * parquet files on disk that no log action references at all, once
    * older than the same retention (a writer that crashed between its
    * data write and its commit claim leaves an invisible uncommitted dir;
    * delta-spark's vacuum sweeps exactly this class). The retention
    * window is what makes orphan deletion writer-concurrent-safe: an
    * IN-FLIGHT commit's files are by definition younger than it.
    * Tombstones stay in the log — they age out of the next checkpoint
    * naturally. Returns the table-relative paths deleted (or, with
    * `dryRun`, the ones that WOULD be). Mirrors `VersionedTable.vacuum`
    * (reference gets this from delta-spark/delta-rs,
    * reader/spark_reader.py:307-324). */
  def vacuum(retentionMs: Option[Long] = None, dryRun: Boolean = false): Seq[String] = {
    val s = snap
    // the vacuumProtocolCheck contract (enforced here regardless of the
    // feature flag — it is the only safe behavior): an unrecognized WRITER
    // feature may make files this vacuum would classify dead actually
    // live, exactly as deletionVectors once did to pre-DV vacuums — refuse
    // rather than delete another writer's live data
    if (s.minWriterVersion >= 7) {
      val bad = s.writerFeatures.filterNot(BenignWriterFeatures)
      if (bad.nonEmpty) refuse(
        s"VACUUM protocol check failed: writer features ${bad.mkString(", ")} " +
          "are not understood by this vacuum and may govern file liveness")
    }
    val keepSince = System.currentTimeMillis() - retentionMs.getOrElse(
      ForeignDeltaTable.retentionMillis(
        s.configuration.get("delta.deletedFileRetentionDuration")))
    val root = new HPath(path)
    val rootUriPath = fsu.fs.makeQualified(root).toUri.getPath
    // table-relative path, or None for an absolute URI OUTSIDE the table
    // (a shallow clone's source files — never ours to delete)
    def relOf(raw: String): Option[String] = {
      val u = new java.net.URI(raw)
      if (!u.isAbsolute) Some(u.getPath)
      else if (u.getPath.startsWith(rootUriPath + "/"))
        Some(u.getPath.stripPrefix(rootUriPath + "/"))
      else None
    }
    val live = s.adds.flatMap(a => relOf(a.rawPath)).toSet
    val tombstoned = s.tombstones.flatMap { case (p, ts) => relOf(p).map(_ -> ts) }.toMap
    val expired = s.tombstones.collect {
      case (p, ts) if ts > 0L && ts < keepSince &&
        relOf(p).exists(r => !live.contains(r)) => relOf(p).get
    }
    // orphans: on-disk parquet under the table (the log dir aside) that no
    // add or unexpired tombstone references, older than retention
    def walk(p: HPath, prefix: String): Seq[(String, Long)] =
      fsu.fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n == "_delta_log" || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$prefix$n/")
        else if (n.endsWith(".parquet")) Seq((s"$prefix$n", st.getModificationTime))
        else Nil
      }
    val orphans = walk(root, "").collect {
      case (rel, mt) if mt < keepSince && !live.contains(rel) &&
        !tombstoned.contains(rel) => rel
    }
    // dead deletion-vector containers: `.bin` files no LIVE add's descriptor
    // references, older than retention (a later delete supersedes the old
    // container with a new one; delta-spark's vacuum sweeps these too)
    val liveDvs: Set[String] = s.adds.flatMap(_.dv).flatMap { d =>
      d.storageType match {
        case "u" => relOf(fsu.fs.makeQualified(
          DeletionVectors.uuidPath(root, d.pathOrInlineDv)).toUri.toString)
        case "p" => relOf(d.pathOrInlineDv)
        case _ => None // "i": inline, nothing on disk
      }
    }.toSet
    def walkBins(p: HPath, prefix: String): Seq[(String, Long)] =
      fsu.fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n == "_delta_log" || n.startsWith(".")) Nil
        else if (st.isDirectory) walkBins(st.getPath, s"$prefix$n/")
        else if (n.startsWith("deletion_vector_") && n.endsWith(".bin"))
          Seq((s"$prefix$n", st.getModificationTime))
        else Nil
      }
    val deadBins = walkBins(root, "").collect {
      case (rel, mt) if mt < keepSince && !liveDvs.contains(rel) => rel
    }
    val doomed = (expired ++ orphans ++ deadBins).distinct
    if (!dryRun) doomed.foreach { rel =>
      fsu.deleteIfExists(new HPath(root, rel)): Unit
    }
    doomed
  }

  /** Expired-LOG cleanup — the `delta.logRetentionDuration` contract
    * (default 30 days), delta-spark's metadata cleanup as an explicit
    * maintenance call like [[vacuum]]: picks the NEWEST checkpoint older
    * than the retention as the new history floor, then deletes every JSON
    * commit and checkpoint strictly BELOW the floor that is itself
    * expired. The floor checkpoint and the full JSON tail above it
    * survive, so the current snapshot and time travel at-or-above the
    * floor keep resolving; history below it is gone — exactly the trade
    * delta documents. V2 manifests' `_sidecars/` action files are removed
    * only when no SURVIVING manifest references them (the spec allows
    * sidecar sharing across checkpoints). Data files are [[vacuum]]'s
    * job; `_last_checkpoint` always points at-or-above the floor and is
    * never touched. Returns the deleted `_delta_log`-relative paths. */
  def cleanupMetadata(retentionMs: Option[Long] = None): Seq[String] = {
    val s = snap
    val cutoff = System.currentTimeMillis() - retentionMs.getOrElse(
      ForeignDeltaTable.retentionMillis(
        s.configuration.get("delta.logRetentionDuration"),
        defaultMs = 30L * 24 * 3600 * 1000))
    import DeltaTable.{Commit, Crc, LogFile, V2}
    val entries = DeltaTable.listLog(fsu, logDir)
    // commits and their crc sidecars expire like checkpoints but are never
    // a history floor
    def isCheckpoint(e: LogFile): Boolean = e.kind != Commit && e.kind != Crc
    def expired(e: LogFile): Boolean = e.st.getModificationTime < cutoff
    // a v2 manifest's sidecar refs; None when the manifest itself is
    // unreadable (a crashed partial write — never a usable floor)
    def sidecarRefsOf(e: LogFile): Option[Seq[String]] = scala.util.Try {
      val p = e.st.getPath
      (if (p.getName.endsWith(".json")) DeltaActions.read(fsu, p)
       else DeltaTable.checkpointFrame(spark, Seq(p)))
        .collect { case DeltaActions.Sidecar(ref) => ref }
    }.toOption
    def resolveSidecar(p: String): HPath =
      DeltaTable.resolvePath(new HPath(logDir, "_sidecars"), p)
    // the history floor must be a USABLE checkpoint — deleting every
    // commit below an unusable one (crashed partial multipart write, v2
    // manifest with missing sidecars) would leave no way to reconstruct
    // state at the floor. Complete ⟺ a complete classic part set (a
    // single file is one), OR a readable v2 manifest whose sidecars all
    // exist. Incomplete candidates fall back to the next older version.
    val completeClassic = DeltaTable.classicCheckpoints(entries).keySet
    def completeAt(v: Long): Boolean = completeClassic(v) ||
      entries.exists(e => e.kind == V2 && e.version == v &&
        sidecarRefsOf(e).exists(_.forall(p => fsu.exists(resolveSidecar(p)))))
    val floorOpt = entries.filter(e => isCheckpoint(e) && expired(e)).map(_.version)
      .distinct.sorted(Ordering[Long].reverse).find(completeAt)
    if (floorOpt.isEmpty) return Nil
    val floor = floorOpt.get
    val doomed = entries.filter(e => e.version < floor && expired(e))
    if (doomed.isEmpty) return Nil
    // checkpointProtection: commits below the protected version may only
    // be cleaned by a writer that truncates up to the boundary in ONE
    // operation while writing and VALIDATING a fresh checkpoint there
    // (the history may contain actions of since-removed features that an
    // existing checkpoint does not capture) — this writer reuses existing
    // checkpoints as floors, so the always-safe compliant behavior is to
    // refuse whenever the cleanup would delete a protected commit;
    // cleanup whose doomed set sits entirely at/above the boundary
    // proceeds normally
    if (s.writerFeatures.contains("checkpointProtection")) {
      val protectedBelow = s.configuration
        .get("delta.requireCheckpointProtectionBeforeVersion")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(0L)
      if (doomed.exists(_.version < protectedBelow)) refuse(
        s"metadata cleanup would delete commits below the " +
          s"checkpointProtection boundary $protectedBelow — cleaning that " +
          "history requires re-checkpointing and validating at the " +
          "boundary in one operation, which this writer does not do; " +
          "raise the retention or clean from a writer that supports " +
          "boundary checkpointing")
    }
    // sidecars: delete those referenced ONLY by doomed v2 manifests
    def sidecarRefs(fs: Seq[LogFile]): Set[String] =
      fs.filter(_.kind == V2).flatMap(e => sidecarRefsOf(e).getOrElse(Nil)).toSet
    val doomedRefs = sidecarRefs(doomed)
    val liveRefs =
      if (doomedRefs.isEmpty) Set.empty[String]
      else sidecarRefs(entries.filterNot(doomed.contains))
    val deadSidecars = (doomedRefs -- liveRefs).toSeq.sorted.map(resolveSidecar)
    val deleted = doomed.map(e => e.st.getPath) ++ deadSidecars
    deleted.foreach(p => fsu.deleteIfExists(p): Unit)
    deleted.map(_.getName)
  }

  /** Post-commit bookkeeping, after `v`'s JSON is durably claimed: the
    * version-checksum sidecar for EVERY commit (delta-spark writes one per
    * commit; [[VersionChecksum]]), and the classic checkpoint at the
    * owner's cadence. One snapshot reconstruction serves both — and since
    * it replays the just-written commit, it doubles as a read-back check
    * that the emitted actions parse. The crc is built FROM that replay, so
    * its embedded metadata/protocol can never drift from the log. The
    * cadence is the owner's `delta.checkpointInterval`, evaluated against
    * the committing snapshot's config like delta-spark does. */
  private def postCommit(v: Long): Unit = {
    val cur = DeltaTable.snapshot(spark, path, versionAsOf = Some(v))
    VersionChecksum.write(fsu, logDir, cur,
      DeltaTable.commitInfoIct(fsu, logPath(v)))
    if (v % DeltaLogMirror.checkpointEvery(cur.configuration) == 0)
      DeltaLogMirror.writeCheckpoint(spark, fsu, logDir, v, cur)
  }
}

object ForeignDeltaTable {
  /** `commitInfo.engineInfo` of every commit this writer publishes. */
  private val EngineInfo = "graft-foreign-delta-writer"

  /** SHALLOW CLONE (the delta-spark CLONE shape): creates a NEW table at
    * `destPath` whose v0 references the SOURCE's current data files by
    * fully-qualified absolute URI — zero data copied; the clone then
    * evolves independently (its own writes land under its own root, and
    * vacuum classifies outside-root paths as untouchable, so a clone can
    * never delete source data). Protocol, schema, partitioning,
    * configuration, per-file stats, row-tracking fields, and live domain
    * metadata (e.g. the rowIdHighWaterMark) carry verbatim; "u"-storage
    * deletion vectors re-emit as "p" (absolute container path)
    * descriptors, since relative DV resolution is root-relative and the
    * clone has a different root. SetTransaction watermarks do NOT carry —
    * they are per-destination stream state, and carrying them would make
    * an external stream silently skip its first batches against the
    * clone. Returns the clone's version (0).
    *
    * 100 TB: the clone is one driver-side metadata write — O(live files)
    * JSON, no data movement; subsequent reads prune through the carried
    * stats exactly like the source. */
  def shallowClone(
      spark: SparkSession, sourcePath: String, destPath: String): Long = {
    val s = DeltaTable.snapshot(spark, sourcePath)
    val destFsu = new Fs(spark, destPath)
    if (destFsu.exists(new HPath(destPath, "_delta_log")))
      throw new IllegalArgumentException(
        s"clone destination $destPath already has a _delta_log")
    val srcFsu = new Fs(spark, sourcePath)
    val srcRoot = new HPath(sourcePath)
    def qualify(p: HPath): String =
      srcFsu.fs.makeQualified(p).toUri.toASCIIString
    val now = System.currentTimeMillis()
    val lines =
      Seq(DeltaActions.commitInfo(now, None, "CLONE",
          Seq("source" -> sourcePath, "sourceVersion" -> s.version), EngineInfo),
        DeltaActions.protocol(s.minReaderVersion, s.minWriterVersion,
          s.readerFeatures, s.writerFeatures),
        // a clone is a NEW table
        DeltaActions.metaData(UUID.randomUUID().toString, s.schema.json,
          s.partitionColumns, s.configuration, now)) ++
      s.domainMetadata.toSeq.sortBy(_._1).map { case (domain, conf) =>
        DeltaActions.domainMetadata(domain, conf)
      } ++
      s.adds.map { a =>
        DeltaActions.add(a.copy(
          rawPath = qualify(DeltaTable.resolvePath(srcRoot, a.rawPath)),
          dv = a.dv.map(d =>
            if (d.storageType != "u") d
            else d.copy(storageType = "p", pathOrInlineDv =
              qualify(DeletionVectors.uuidPath(srcRoot, d.pathOrInlineDv))))),
          dataChange = true)
      }
    destFsu.mkdirs(new HPath(destPath, "_delta_log"))
    destFsu.writeStringAtomicNew(
      new HPath(new HPath(destPath, "_delta_log"), f"${0L}%020d.json"),
      lines.mkString("\n"))
    0L
  }

  /** Delta's bounded string statistics (delta-spark truncates at 32):
    * the min bound becomes a 32-code-point prefix — a prefix is always ≤
    * every string it prefixes. */
  private[store] def truncateMin(s: String, cap: Int = 32): String =
    if (s.codePointCount(0, s.length) <= cap) s
    else s.substring(0, s.offsetByCodePoints(0, cap))

  /** The max bound becomes the prefix-SUCCESSOR: truncate to `cap` code
    * points, then increment the last incrementable code point (skipping
    * the surrogate gap so the result stays a valid string), dropping any
    * trailing max-code-points first. Every string with that prefix orders
    * strictly below the successor, so it is a valid upper bound; None when
    * no successor exists (all U+10FFFF) — omitting a bound is always
    * sound. */
  private[store] def truncateMaxBound(s: String, cap: Int = 32): Option[String] = {
    if (s.codePointCount(0, s.length) <= cap) return Some(s)
    val cps = s.codePoints().toArray.take(cap)
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      // 0xD7FF + 1 lands in the surrogate range — unpaired surrogates are
      // not representable, so jump the gap to 0xE000 (still a successor)
      val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
      val kept = cps.take(i) :+ next
      Some(new String(kept, 0, kept.length))
    }
  }

  /** `delta.deletedFileRetentionDuration` ("interval N unit") → millis;
    * absent/unparseable → the protocol default of one week. */
  private[store] def retentionMillis(
      cfg: Option[String], defaultMs: Long = 7L * 24 * 3600 * 1000): Long = {
    val Default = defaultMs
    cfg.map(_.trim.toLowerCase) match {
      case Some(IntervalRe(n, unit)) =>
        val per = unit match {
          case u if u.startsWith("nanosecond") => return math.max(0L, n.toLong / 1000000L)
          case u if u.startsWith("microsecond") => return math.max(0L, n.toLong / 1000L)
          case u if u.startsWith("millisecond") => 1L
          case u if u.startsWith("second") => 1000L
          case u if u.startsWith("minute") => 60L * 1000
          case u if u.startsWith("hour") => 3600L * 1000
          case u if u.startsWith("day") => 24L * 3600 * 1000
          case u if u.startsWith("week") => 7L * 24 * 3600 * 1000
          case _ => return Default
        }
        n.toLong * per
      case _ => Default
    }
  }
  private val IntervalRe = """interval\s+(\d+)\s+(\w+)""".r
}
