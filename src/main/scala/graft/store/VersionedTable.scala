package graft.store

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SchemaDrift

/** A minimal versioned table format on parquet: an append-only commit log of
  * snapshot manifests, giving the engine the Delta-Lake-like semantics the
  * reference relies on (append / overwrite / time travel / restore / merge /
  * schema drift / vacuum — reference reader/reader.py:13-32,
  * reader/spark_reader.py:13-86) without a Delta dependency (none is on the
  * classpath in this environment).
  *
  * Layout:
  * {{{
  *   <path>/_graft_log/v0000000000.json   // one snapshot manifest per version
  *   <path>/data/v0000000000-<uuid>/      // parquet dir written by one commit
  * }}}
  *
  * Each manifest is a FULL snapshot: the list of live data dirs (each with the
  * schema it was written under) plus the merged logical schema. Reading
  * version V therefore touches exactly one manifest — O(1) resolution, no log
  * replay — and scans group dirs by physical schema so Catalyst still gets
  * one multi-path `FileScan` per schema generation (filter pushdown and
  * column pruning intact). At 100 TB the manifest lists directories, not
  * files; file listing stays inside Spark's parquet source which handles
  * large dirs in parallel.
  *
  * Single-writer by design (the engine serializes runs with a lock file,
  * reference db_to_delta.py:218-229); manifest writes are temp-file + atomic
  * rename so readers never observe a torn manifest.
  */
final class VersionedTable(spark: SparkSession, val path: String)
    extends HistoryTable {
  import VersionedTable._

  private val fsu = new Fs(spark, path)
  private val logDir: HPath = new HPath(path, "_graft_log")
  private val dataDir: HPath = new HPath(path, "data")
  /** Deletion-vector container files (one per delete/merge commit). */
  private val dvDir: HPath = new HPath(path, "deletion_vectors")
  /** Decoded-DV cache: DV blocks are immutable once written (each belongs to
    * exactly one commit), so decoded bitmaps are safe to reuse across reads
    * and versions within this table handle. */
  private val dvCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Array[Long]]
  private def dvIndexes(e: DvEntry): Array[Long] =
    dvCache.getOrElseUpdate((e.bin, e.offset), DeletionVectors.loadBin(
      fsu.fs, new HPath(dvDir, e.bin), e.offset, e.size, e.cardinality))
  /** Delta-protocol `_delta_log/` mirror: every manifest publish is also
    * emitted as a Delta commit so downstream Delta clients can open the
    * table directly (reference reader/spark_reader.py:307-324). */
  private val deltaMirror = new DeltaLogMirror(spark, path,
    v => if (fsu.exists(manifestPath(v))) Some(readManifest(v)) else None)

  // ---------------------------------------------------------------- versions

  def exists: Boolean = latestVersion.isDefined

  /** Latest committed version, if any. */
  def latestVersion: Option[Long] = {
    val vs = fsu.list(logDir)
      .map(_.getName)
      .collect { case ManifestName(v) => v.toLong }
    if (vs.isEmpty) None else Some(vs.max)
  }

  def requireVersion: Long = latestVersion.getOrElse(
    throw new IllegalStateException(s"table $path does not exist"))

  private def manifestPath(v: Long): HPath = new HPath(logDir, f"v$v%010d.json")

  private def readManifest(v: Long): Manifest = {
    val node = mapper.readTree(fsu.readString(manifestPath(v)))
    val dirs = node.get("dirs").elements().asScala.map { d =>
      val schemaJson = d.get("schema").asText()
      val dv = Option(d.get("dv")).map(_.elements().asScala.map { e =>
        DvEntry(e.get("file").asText(), e.get("bin").asText(),
          e.get("offset").asInt(), e.get("size").asInt(), e.get("card").asLong())
      }.toSeq).getOrElse(Nil)
      DataDir(d.get("dir").asText(), schemaJson,
        DirStats.read(d, DataType.fromJson(schemaJson).asInstanceOf[StructType]), dv)
    }.toSeq
    val props = Option(node.get("properties")).map { pn =>
      pn.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    Manifest(v, dirs, node.get("schema").asText(), props,
      Option(node.get("op")).map(_.asText()).getOrElse(""),
      Option(node.get("timestampMs")).map(_.asLong()).getOrElse(0L),
      Option(node.get("changeDir")).map(_.asText()))
  }

  private[store] def writeManifest(m: Manifest): Unit = {
    fsu.mkdirs(logDir)
    // Single-writer by design (the engine serializes runs via the lock
    // file), but a misconfigured second writer must fail loudly, not
    // silently overwrite a committed version: the slot check is a cheap
    // fast-path, and the publish itself is a no-overwrite rename
    // (FileContext Rename.NONE), so the second of two RACING writers fails
    // AT the rename — no exists-then-publish TOCTOU window (best-effort on
    // S3A, exact wherever rename is atomic — the put-if-absent Delta's
    // commit protocol relies on).
    if (fsu.exists(manifestPath(m.version)))
      throw new java.util.ConcurrentModificationException(
        s"version ${m.version} of $path was committed by another writer")
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("schema", m.schemaJson)
    root.put("timestampMs", System.currentTimeMillis())
    if (m.op.nonEmpty) root.put("op", m.op)
    m.changeDir.foreach(root.put("changeDir", _))
    val arr = root.putArray("dirs")
    m.dirs.foreach { d =>
      val o = arr.addObject(); o.put("dir", d.dir); o.put("schema", d.schemaJson)
      d.stats.foreach(DirStats.write(o, _))
      if (d.dv.nonEmpty) {
        val dvArr = o.putArray("dv")
        d.dv.foreach { e =>
          val eo = dvArr.addObject()
          eo.put("file", e.file); eo.put("bin", e.bin)
          eo.put("offset", e.offset); eo.put("size", e.size)
          eo.put("card", e.cardinality)
        }
      }
    }
    if (m.properties.nonEmpty) {
      val pn = root.putObject("properties")
      m.properties.foreach { case (k, v) => pn.put(k, v) }
    }
    try fsu.writeStringAtomicNew(manifestPath(m.version), mapper.writeValueAsString(root))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"version ${m.version} of $path was committed by another writer")
    }
    // the manifest above IS the commit; the Delta mirror is a convenience
    // view and self-healing (it re-emits any missing versions on the next
    // sync), so a mirror-only IO failure must not make an already-committed
    // write surface as failed — rollback/retry paths upstream would then
    // double-apply an append that actually landed
    try deltaMirror.sync(m)
    catch {
      case scala.util.control.NonFatal(e) =>
        VersionedTable.log.warn(
          s"delta-log mirror failed for $path v${m.version} (will heal on next commit)", e)
    }
  }

  // ------------------------------------------------------------------ reads

  def schema: StructType = schemaAt(requireVersion)

  def schemaAt(version: Long): StructType =
    DataType.fromJson(readManifest(version).schemaJson).asInstanceOf[StructType]

  /** Current snapshot as a DataFrame. */
  def read(): DataFrame = readVersion(requireVersion)

  /** Time travel (reference spark_reader.py:123-133 versionAsOf). */
  def readVersion(version: Long): DataFrame = {
    val m = readManifest(version)
    scanDirs(m.dirs, DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
  }

  /** `(COUNT(*), MAX(column))` of the current version answered from the
    * manifest's per-dir stats, with no Spark job, the max boxed as the
    * aggregate's `Row` returns it (honouring
    * `spark.sql.datetime.java8API.enabled`). None — run the aggregate —
    * unless every live dir has stats and no deletion vector, and the column
    * is integral or a timestamp of the same type in every dir. Timestamp
    * maxima before the epoch also answer None: the row-side conversion
    * rebases ancient calendars, which the normalized stat does not undo. */
  private[graft] def countMaxFromStats(column: String): Option[(Long, Any)] = {
    val m = readManifest(requireVersion)
    val dt = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      .find(_.name == column).map(_.dataType)
      .filter(Seq(ByteType, ShortType, IntegerType, LongType, TimestampType).contains)
      .getOrElse(return None)
    val perDir = m.dirs.map { d =>
      for {
        st <- d.stats if d.dv.isEmpty
        f <- DataType.fromJson(d.schemaJson).asInstanceOf[StructType].find(_.name == column)
        if f.dataType == dt
        cs <- st.cols.get(column) if cs.max.isDefined || cs.nullCount == st.rows
      } yield (st.rows, cs.max.map(_.asInstanceOf[Long]))
    }
    if (perDir.exists(_.isEmpty)) return None
    val boxed: Option[Any] = (dt, perDir.flatten.flatMap(_._2).maxOption) match {
      case (_, None) => Some(null)
      case (ByteType, Some(v)) => Some(java.lang.Byte.valueOf(v.toByte))
      case (ShortType, Some(v)) => Some(java.lang.Short.valueOf(v.toShort))
      case (IntegerType, Some(v)) => Some(java.lang.Integer.valueOf(v.toInt))
      case (LongType, Some(v)) => Some(java.lang.Long.valueOf(v))
      case (_, Some(v)) if v >= 0 => // TimestampType, micros since the epoch
        Some(if (spark.conf.get("spark.sql.datetime.java8API.enabled", "false").toBoolean)
          DateTimeUtils.microsToInstant(v) else DateTimeUtils.toJavaTimestamp(v))
      case _ => None
    }
    boxed.map(perDir.flatten.map(_._1).sum -> _)
  }

  /** Time travel by wall clock (Delta's `timestampAsOf`): the newest still-
    * present version committed at or before `timestampMs`. Driver-side walk
    * over the (tiny) manifest list — newest first, so the common "recent
    * timestamp" case touches one or two manifests. */
  def readAsOf(timestampMs: Long): DataFrame = {
    val vs = fsu.list(logDir).map(_.getName)
      .collect { case ManifestName(v) => v.toLong }.sorted.reverse
    val hit = vs.iterator.map(readManifest).find(_.tsMs <= timestampMs)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $path committed at or before $timestampMs " +
          s"(earliest surviving: ${vs.lastOption.map(readManifest(_).tsMs)})"))
    scanDirs(hit.dirs, DataType.fromJson(hit.schemaJson).asInstanceOf[StructType])
  }

  /** Commit history, newest first (Delta's DESCRIBE HISTORY): version,
    * commit timestamp, operation, dir/row/byte counts. Row/byte counts come
    * from the per-dir stats and are null for pre-stats manifests. */
  def history(): DataFrame = {
    import spark.implicits._
    fsu.list(logDir).map(_.getName)
      .collect { case ManifestName(v) => v.toLong }.sorted.reverse
      .map(readManifest)
      .map { m =>
        // stats row counts are physical; DV'd rows are logically gone
        val rows = m.dirs.flatMap(d =>
          d.stats.map(_.rows - d.dv.map(_.cardinality).sum))
        val bytes = m.dirs.flatMap(_.stats.map(_.bytes))
        (m.version, new java.sql.Timestamp(m.tsMs),
          if (m.op.nonEmpty) m.op else null,
          m.dirs.size.toLong,
          if (rows.size == m.dirs.size) java.lang.Long.valueOf(rows.sum)
          else (null: java.lang.Long),
          if (bytes.size == m.dirs.size && bytes.forall(_ > 0))
            java.lang.Long.valueOf(bytes.sum)
          else (null: java.lang.Long))
      }
      .toDF("version", "timestamp", "operation", "num_dirs", "num_rows", "num_bytes")
  }

  /** Current snapshot restricted by `cond`, with manifest-level data
    * skipping: data dirs whose recorded min/max/nullCount stats refute the
    * predicate are dropped BEFORE Spark lists a single file — at 100 TB a
    * watermark query (`__timestamp > X`) over years of commits touches only
    * the trailing dirs instead of listing the whole table. Since every scan
    * is backed by [[org.apache.spark.sql.graft.GraftFileIndex]], this is
    * just `read().filter(cond)` — the pushed dataFilters reach the index at
    * planning time and pruning happens there, so ANY filtered read skips,
    * not only this entry point. The predicate still applies in full on the
    * surviving scan (pruning is an optimization, never a semantic filter),
    * and row-group pruning inside surviving dirs stays with the parquet
    * footer stats. */
  def readWhere(cond: org.apache.spark.sql.Column): DataFrame =
    read().filter(cond)

  private def pruneDirs(m: Manifest, cond: org.apache.spark.sql.Column): Seq[DataDir] = {
    val cs = DirStats.conjunctsOf(spark,
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType], cond)
    if (cs.isEmpty) m.dirs else m.dirs.filter(d => DirStats.maybeMatches(d.stats, cs))
  }

  /** Dirs [[readWhere]] would scan for `cond` — exposed for tests and plan
    * diagnostics. */
  private[graft] def scannedDirCount(cond: org.apache.spark.sql.Column): Int =
    pruneDirs(readManifest(requireVersion), cond).size

  private[graft] def dirCount: Int = readManifest(requireVersion).dirs.size

  /** Change feed: rows ADDED by each commit in [fromVersion, toVersion],
    * tagged `__commit_version` — the version-addressed equivalent of Delta's
    * CDF for append-only tables (the SCD2 history is one; downstream
    * consumers read it incrementally instead of diffing snapshots). One
    * scan, not one job per version: every data dir carries its commit
    * version in the name prefix, so the slice is a driver-side dir filter
    * plus a metadata-column projection. Dirs REWRITTEN after `toVersion`
    * (merge/overwrite/optimize) no longer surface their adds — exact for
    * append-only histories, by-design approximate otherwise. */
  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"bad change range [$fromVersion, $toVersion]")
    val m = readManifest(toVersion)
    val inRange = m.dirs.filter { d =>
      val v = dirVersion(d.dir); v >= fromVersion && v <= toVersion
    }
    scanDirs(inRange, DataType.fromJson(m.schemaJson).asInstanceOf[StructType],
        withDirCol = true)
      .withColumn(VersionCol, substring(col(DirCol), 2, 10).cast("long"))
      .drop(DirCol)
  }

  /** Row-level change feed with `_change_type` provenance (Delta's
    * `table_changes`): one row per change in [fromVersion, toVersion],
    * tagged insert / update_preimage / update_postimage, plus
    * `__commit_version` and `_commit_timestamp`. Appends surface their
    * added dirs as inserts (no change files exist or are needed — Delta
    * derives them the same way); a CDF-enabled merge surfaces the exact
    * pre/post pairs its commit materialized under `_change_data/`; a merge
    * committed WITHOUT the [[CdfProp]] property falls back to its added
    * dir as inserts (the [[readChanges]] approximation, documented there).
    * Content-neutral commits (optimize, setProperties, restore) emit
    * nothing. Overwrite emits the new snapshot as inserts (the preimage of
    * what it replaced is not retained as rows). */
  def readChangeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"bad change range [$fromVersion, $toVersion]")
    val logical = schemaAt(toVersion)
    val outSchema = StructType(logical.fields ++ Seq(
      StructField(ChangeTypeCol, StringType),
      StructField(VersionCol, LongType),
      StructField(CommitTsCol, TimestampType)))
    val parts = (fromVersion to toVersion).iterator.flatMap { v =>
      if (!fsu.exists(manifestPath(v))) None // vacuumed below the range
      else {
        val m = readManifest(v)
        val stamp = (df: DataFrame) => df
          .withColumn(VersionCol, lit(v))
          .withColumn(CommitTsCol, timestamp_millis(lit(m.tsMs)))
        m.changeDir match {
          case Some(cd) =>
            val phys = StructType(
              DataType.fromJson(m.schemaJson).asInstanceOf[StructType].fields :+
                StructField(ChangeTypeCol, StringType))
            val df = spark.read.schema(phys).parquet(s"$path/_change_data/$cd")
            Some(stamp(df.select(alignCols(df, logical) :+ col(ChangeTypeCol): _*)))
          case None if m.op == "optimize" || m.op == "setProperties" ||
              m.op == "restore" => None
          case None =>
            val prefix = f"v$v%010d-"
            val added = m.dirs.filter(_.dir.startsWith(prefix))
            if (added.isEmpty) None
            else Some(stamp(scanDirs(added, logical)
              .withColumn(ChangeTypeCol, lit("insert"))))
        }
      }
    }.toSeq
    if (parts.isEmpty) emptyDf(outSchema)
    else parts.map(_.select(outSchema.fieldNames.map(col): _*)).reduce(_.unionByName(_))
  }

  /** Commit version a data dir was written by (encoded in its name). */
  private def dirVersion(dir: String): Long = dir.substring(1, 11).toLong

  /** Only the rows ADDED by commit `version` (its own data dirs) — cheap
    * post-commit row accounting without rescanning the whole table. */
  def readCommit(version: Long): DataFrame = {
    val m = readManifest(version)
    val prefix = f"v$version%010d-"
    scanDirs(m.dirs.filter(_.dir.startsWith(prefix)),
      DataType.fromJson(m.schemaJson).asInstanceOf[StructType])
  }

  /** (version, op) of every still-present manifest in [from, to] — the
    * streaming source's commit classifier. A version inside the range with
    * NO manifest was vacuumed (its data may be gone too): surfaced as op
    * "(vacuumed)" so the caller can fail loudly instead of silently
    * skipping rows. */
  def commitOps(from: Long, to: Long): Seq[(Long, String)] =
    (from to to).map { v =>
      if (fsu.exists(manifestPath(v))) v -> readManifest(v).op
      else v -> "(vacuumed)"
    }

  /** Rows ADDED by exactly the given commits (their own data dirs), ONE
    * scan, no `__commit_version` column — the streaming source's
    * micro-batch body. Resolution is against the newest requested
    * version's manifest, so dirs rewritten after it don't resurface. */
  def readCommits(versions: Seq[Long]): DataFrame = {
    val logical = schemaAt(requireVersion)
    if (versions.isEmpty) return emptyDf(logical)
    val m = readManifest(versions.max)
    val want = versions.toSet
    // dirs resolve from the NEWEST requested manifest (replay-stable), rows
    // align to the CURRENT logical schema (later drift reads as nulls)
    scanDirs(m.dirs.filter(d => want(dirVersion(d.dir))), logical)
  }

  private def scanDirs(
      dirs: Seq[DataDir], logical: StructType,
      withDirCol: Boolean = false, withFilePos: Boolean = false): DataFrame = {
    if (dirs.isEmpty) {
      var s = logical
      if (withDirCol) s = StructType(s.fields :+ StructField(DirCol, StringType))
      if (withFilePos) s = StructType(s.fields ++
        Seq(StructField(FileKeyCol, StringType), StructField(RowIdxCol, LongType)))
      return emptyDf(s)
    }
    // One FileScan per distinct physical schema generation; columns added by
    // later drift read as NULL for older generations, then align + union.
    // Scans go through the manifest-backed GraftFileIndex: Catalyst hands
    // the pushed dataFilters to the index at planning time, so per-dir
    // stats skipping applies TRANSPARENTLY to any filter on any read —
    // pruned dirs are never even listed (the delta-spark architecture).
    val scans = dirs.groupBy(_.schemaJson).map { case (schemaJson, ds) =>
      val phys = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val scanned = org.apache.spark.sql.graft.GraftFileIndex.scan(
        spark, path, ds.map(d => d.dir -> d.stats), phys)
      // merge-on-read: rows marked deleted by this version's deletion
      // vectors are dropped via the parquet reader's own _metadata.row_index
      // and a codegen'd probe over the (driver-decoded, broadcast-sized)
      // bitmaps — the delta-spark DV read shape. Stats pruning above stays
      // sound: a DV'd dir's min/max/nullCount describe a SUPERSET of its
      // live rows, so pruning only ever keeps extra dirs, never drops rows.
      val dvMap: Map[String, Array[Long]] = ds.iterator.flatMap(d =>
        d.dv.map(e => s"${d.dir}/${e.file}" -> dvIndexes(e))).toMap
      val df =
        if (dvMap.isEmpty) scanned
        else scanned.filter(!org.apache.spark.sql.graft.Bridge.column(DvRowDeleted(
          org.apache.spark.sql.graft.Bridge.expression(col("_metadata.file_path")),
          org.apache.spark.sql.graft.Bridge.expression(col("_metadata.row_index")),
          dvMap)))
      val cols = alignCols(df, logical) ++ (if (withDirCol)
        // originating data dir from the file-source metadata column — no
        // extra scan, prunes away when unused
        Seq(regexp_extract(col("_metadata.file_path"),
          "/data/([^/]+)/[^/]*$", 1).as(DirCol)) else Nil) ++ (if (withFilePos)
        // row provenance for deletion-vector writes: "<dir>/<file>" key +
        // physical row index within the file
        Seq(regexp_extract(col("_metadata.file_path"),
            "/data/([^/]+/[^/]+)$", 1).as(FileKeyCol),
          col("_metadata.row_index").as(RowIdxCol)) else Nil)
      df.select(cols: _*)
    }.toSeq
    scans.reduce(_.unionByName(_))
  }

  /** An empty LocalRelation, not an RDD scan: Catalyst sees it is empty and
    * prunes the joins and union branches that read it. An Observation on
    * it still fires (CollectMetrics is never pruned). */
  private def emptyDf(s: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)

  /** Project/cast df onto `target` schema; missing columns become NULL
    * (delete tombstones and drift both need this; nullability always relaxed,
    * reference delta_rs.py:13-19). */
  private def align(df: DataFrame, target: StructType): DataFrame =
    df.select(alignCols(df, target): _*)

  private def alignCols(df: DataFrame, target: StructType): Seq[org.apache.spark.sql.Column] = {
    val have = df.columns.map(c => c.toLowerCase -> c).toMap
    target.fields.toSeq.map { f =>
      have.get(f.name.toLowerCase) match {
        case Some(c) if df.schema(c).dataType == f.dataType => col(c).as(f.name)
        case Some(c) => col(c).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
  }

  // ----------------------------------------------------------------- writes

  /** Append rows. Schema drift per policy (reference spark_reader.py:284-305):
    * NewOnly adds brand-new columns, keeps existing types; Full also widens. */
  def append(df: DataFrame, drift: SchemaDrift = SchemaDrift.NewOnly): Long =
    commit(df, overwrite = false, drift)

  def overwrite(df: DataFrame, drift: SchemaDrift = SchemaDrift.Full): Long =
    commit(df, overwrite = true, drift)

  private def commit(df: DataFrame, overwrite: Boolean, drift: SchemaDrift,
      extraProps: Map[String, String] = Map.empty): Long = {
    val prev = latestVersion.map(readManifest)
    val nextV = prev.map(_.version + 1).getOrElse(0L)
    val merged = mergedSchema(prev, df.schema, overwrite, drift)
    val newDir = writeDataDir(align(df, merged), merged,
      f"v$nextV%010d-${UUID.randomUUID().toString.take(8)}")
    commitDir(prev, newDir, merged, overwrite, extraProps)
  }

  /** The logical schema a write of `incoming` commits over `prev`. */
  private def mergedSchema(prev: Option[Manifest], incoming: StructType,
      overwrite: Boolean, drift: SchemaDrift): StructType = prev match {
    case Some(m) if !overwrite =>
      SchemaEvolution.merge(
        DataType.fromJson(m.schemaJson).asInstanceOf[StructType],
        SchemaEvolution.relaxNullable(incoming), drift)
    case _ => SchemaEvolution.relaxNullable(incoming)
  }

  /** Publishes `newDir` as the version after `prev`, beside or instead of
    * its live dirs. */
  private def commitDir(prev: Option[Manifest], newDir: DataDir, schema: StructType,
      overwrite: Boolean, extraProps: Map[String, String]): Long = {
    val nextV = prev.map(_.version + 1).getOrElse(0L)
    val dirs = if (overwrite) Seq(newDir)
      else prev.map(_.dirs).getOrElse(Nil) :+ newDir
    writeManifest(Manifest(nextV, dirs, schema.json,
      prev.map(_.properties).getOrElse(Map.empty) ++ extraProps,
      op = if (overwrite) "overwrite" else "append"))
    nextV
  }

  /** The data dir is written under `data/.stage-<id>`, a name no manifest
    * lists; publishing renames it to `v<next>-<id>` — a data dir's name
    * carries its committing version, which [[readCommit]] and the change
    * feeds read — and commits it like [[append]] / [[overwrite]] against
    * the manifest current at publish time. */
  private[graft] def stage(df: DataFrame, drift: SchemaDrift, overwrite: Boolean): StagedWrite = {
    val merged = mergedSchema(latestVersion.map(readManifest), df.schema, overwrite, drift)
    val id = UUID.randomUUID().toString.take(8)
    val staged = writeDataDir(align(df, merged), merged, s"$StagePrefix$id")
    new StagedWrite {
      /** Where the uncommitted files are; None once committed or deleted. */
      private var at: Option[HPath] = Some(new HPath(dataDir, staged.dir))
      def publish(): Long = synchronized {
        val from = at.getOrElse(throw new IllegalStateException(
          s"staged write ${staged.dir} of $path was already published or discarded"))
        val prev = latestVersion.map(readManifest)
        val dir = f"v${prev.map(_.version + 1).getOrElse(0L)}%010d-$id"
        val to = new HPath(dataDir, dir)
        if (!fsu.fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
        at = Some(to)
        val v = commitDir(prev, staged.copy(dir = dir),
          mergedSchema(prev, merged, overwrite, drift), overwrite, Map.empty)
        at = None
        v
      }
      def discard(): Unit = synchronized {
        at.foreach(fsu.delete(_, recursive = true))
        at = None
      }
    }
  }

  /** Exactly-once append for at-least-once callers (foreachBatch retries,
    * replayed micro-batches — Delta's txnAppId/txnVersion pattern): the
    * manifest records the highest `batchVersion` applied per `appId`, and a
    * batch at or below it is a NO-OP returning the current version. The
    * watermark rides the SAME manifest commit as the data, so there is no
    * window where the rows landed but the watermark didn't. */
  def appendIdempotent(
      df: DataFrame, appId: String, batchVersion: Long,
      drift: SchemaDrift = SchemaDrift.NewOnly): Long = {
    val key = s"graft.txn.$appId"
    val applied = properties.get(key).map(_.toLong)
    if (applied.exists(_ >= batchVersion)) return requireVersion
    commit(df, overwrite = false, drift,
      extraProps = Map(key -> batchVersion.toString))
  }

  /** True when the (appId, batchVersion) watermark says this batch was
    * already applied — for foreachBatch folders whose FOLD ITSELF must be
    * skipped on replay, not just the commit: re-folding an applied batch
    * against the post-fold state trips the fold's own late-data refusal
    * BEFORE `appendIdempotent`/`overwriteIdempotent` could no-op it. */
  def txnApplied(appId: String, batchVersion: Long): Boolean =
    properties.get(s"graft.txn.$appId").map(_.toLong).exists(_ >= batchVersion)

  /** Exactly-once OVERWRITE for at-least-once callers — the
    * [[appendIdempotent]] txn pattern for STATE tables a micro-batch
    * replaces wholesale (a funnel/retention fold rewrites its whole
    * |keys|-sized state): a replayed batch at or below the recorded
    * watermark is a NO-OP, which matters doubly here because re-FOLDING
    * an already-folded batch would trip the fold's own late-data refusal.
    * Properties (and with them the `graft.txn.*` watermarks) carry across
    * overwrite commits, so the guard survives the rewrite it guards. */
  def overwriteIdempotent(
      df: DataFrame, appId: String, batchVersion: Long,
      drift: SchemaDrift = SchemaDrift.Full): Long = {
    val key = s"graft.txn.$appId"
    val applied = properties.get(key).map(_.toLong)
    if (applied.exists(_ >= batchVersion)) return requireVersion
    commit(df, overwrite = true, drift,
      extraProps = Map(key -> batchVersion.toString))
  }

  /** Append an empty frame carrying only schema (drift pre-pass, reference
    * spark_reader.py:284-305 / K2). */
  def widenSchema(newSchema: StructType, drift: SchemaDrift): Long =
    commit(emptyDf(newSchema), overwrite = false, drift)

  /** Overwrite with an EMPTY snapshot carrying only a schema. No Spark job
    * runs — the manifest simply lists no data dirs (the engine clears its
    * delta_2 staging table on most runs; a parquet write of zero rows would
    * cost a full job's fixed latency each time). */
  def overwriteEmpty(schema: StructType): Long = {
    val prev = latestVersion.map(readManifest)
    val nextV = prev.map(_.version + 1).getOrElse(0L)
    writeManifest(Manifest(nextV, Nil, SchemaEvolution.relaxNullable(schema).json,
      prev.map(_.properties).getOrElse(Map.empty), op = "overwrite"))
    nextV
  }

  // ------------------------------------------------------------- properties

  /** Table properties (reference TBLPROPERTIES, reader.py:26-28,
    * spark_reader.py:46-66): persisted in the manifest, carried across
    * commits; setting writes a new (data-unchanged) version. */
  def properties: Map[String, String] =
    latestVersion.map(readManifest(_).properties).getOrElse(Map.empty)

  def setProperties(props: Map[String, String]): Long = {
    val m = readManifest(requireVersion)
    val nextV = m.version + 1
    writeManifest(m.copy(version = nextV, properties = m.properties ++ props,
      op = "setProperties", changeDir = None))
    nextV
  }

  /** Remove the table entirely (log, data, Delta mirror). The rollback
    * counterpart of [[restore]] for a table that did NOT exist before the
    * failed run: there is no prior version to restore to, and leaving the
    * partial table behind would hand later reads (e.g. the sync engine's
    * watermark probe) state the failed run never finished earning. */
  def dropTable(): Unit =
    fsu.delete(new HPath(path), recursive = true)

  /** Restore the table to an earlier version as a NEW commit (reference
    * reader.py:24, spark_reader.py:40-44 — rollback of latest_pk_version).
    * `graft.txn.*` idempotency watermarks are carried FORWARD (max of both
    * sides), the way Delta preserves SetTransaction app versions across
    * RESTORE — rolling them back would re-apply an already-applied
    * micro-batch and double its rows. */
  def restore(toVersion: Long): Long = {
    val target = readManifest(toVersion)
    val cur = readManifest(requireVersion)
    val nextV = cur.version + 1
    val txn = (cur.properties.keySet ++ target.properties.keySet)
      .filter(_.startsWith("graft.txn.")).map { k =>
        k -> Seq(cur.properties.get(k), target.properties.get(k))
          .flatten.map(_.toLong).max.toString
      }.toMap
    writeManifest(target.copy(version = nextV, op = "restore",
      properties = target.properties ++ txn, changeDir = None))
    nextV
  }

  /** Upsert on pk equality — whenMatchedUpdateAll / whenNotMatchedInsertAll
    * (reference spark_reader.py:329-350 / K3), as a FILE-PRUNED copy-on-write
    * (the Delta MERGE shape): one pk-only probe job discovers which data dirs
    * contain matched keys (pk columns + the file-path metadata column — all
    * payload columns prune away), then ONLY those dirs are rewritten
    * (their unmatched rows + all source rows into one new dir); untouched
    * dirs carry over by reference, their files never read or copied. A merge
    * touching 1% of keys rewrites ~1% of a 100 TB table instead of all of it.
    */
  def merge(src: DataFrame, pkCols: Seq[String],
      drift: SchemaDrift = SchemaDrift.NewOnly,
      useDeletionVectors: Boolean = false): Long = {
    if (!exists) return overwrite(src)
    val m = readManifest(requireVersion)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val srcPks = src.select(pkCols.map(col): _*).dropDuplicates(pkCols)
    // stats pre-prune: dirs whose leading-pk range cannot intersect the
    // source batch's [min, max] can't contain matched keys, so the probe
    // job never reads them — with a monotonic identity pk (the common CDC
    // shape) an incremental merge probes the table's tail, not 100 TB
    val candidates = try {
      val r = src.agg(min(col(pkCols.head)), max(col(pkCols.head))).head()
      if (r.isNullAt(0)) m.dirs
      else pruneDirs(m, col(pkCols.head) >= lit(r.get(0)) &&
        col(pkCols.head) <= lit(r.get(1)))
    } catch {
      // a pk type `lit`/analysis can't express (binary, struct) falls back
      // to probing everything — pruning is only ever an optimization
      case scala.util.control.NonFatal(_) => m.dirs
    }
    val hit = scanDirs(candidates, logical, withDirCol = true)
      .select((pkCols.map(col) :+ col(DirCol)): _*)
      .join(srcPks, pkCols, "left_semi")
      .select(DirCol).distinct().collect().map(_.getString(0)).toSet
    val (touched, untouched) = m.dirs.partition(d => hit(d.dir))
    val merged = SchemaEvolution.merge(logical,
      SchemaEvolution.relaxNullable(src.schema), drift)
    val nextV = m.version + 1
    val dirName = f"v$nextV%010d-${UUID.randomUUID().toString.take(8)}"
    // Change-data feed (Delta's delta.enableChangeDataFeed): when the table
    // property is set, the merge also materializes its row-level changes —
    // matched rows as update_preimage/update_postimage pairs, unmatched
    // source rows as inserts — under _change_data/, version-stamped like a
    // data dir. Cost is one extra pass over the TOUCHED dirs only (the same
    // file-pruned subset the rewrite reads), never the whole table; appends
    // stay change-file-free (the feed derives their inserts from the added
    // dirs), exactly Delta's CDC write strategy.
    val changeDir = if (!m.properties.get(CdfProp).contains("true")) None else {
      val touchedDf = scanDirs(touched, logical)
      val touchedPks = touchedDf.select(pkCols.map(col): _*).dropDuplicates(pkCols)
      val srcAligned = align(src, merged)
      val changes = align(touchedDf, merged).join(srcPks, pkCols, "left_semi")
        .withColumn(ChangeTypeCol, lit("update_preimage"))
        .unionByName(srcAligned.join(touchedPks, pkCols, "left_semi")
          .withColumn(ChangeTypeCol, lit("update_postimage")))
        .unionByName(srcAligned.join(touchedPks, pkCols, "left_anti")
          .withColumn(ChangeTypeCol, lit("insert")))
      changes.write.mode("overwrite").parquet(s"$path/_change_data/$dirName")
      Some(dirName)
    }
    val dirsOut =
      if (useDeletionVectors) {
        // merge-on-read (Delta's DV merge): matched rows are marked in
        // per-file deletion vectors instead of rewriting the touched dirs —
        // the write cost is the source batch plus small bitmap files,
        // independent of how many table files the matches land in. The
        // read-side cost is the codegen'd DV probe until the next
        // optimize() rewrites the dirs clean.
        val marked = scanDirs(touched, logical, withFilePos = true)
          .join(srcPks, pkCols, "left_semi")
          .select(col(FileKeyCol), col(RowIdxCol))
        dvDeletes(m.dirs, marked, nextV).getOrElse(m.dirs) :+
          writeDataDir(align(src, merged), merged, dirName)
      } else {
        val kept = scanDirs(touched, logical).join(srcPks, pkCols, "left_anti")
        val out = align(kept, merged).unionByName(align(src, merged))
        untouched :+ writeDataDir(out, merged, dirName)
      }
    writeManifest(Manifest(nextV, dirsOut, merged.json, m.properties,
      op = "merge", changeDir = changeDir))
    nextV
  }

  /** Row-level DELETE WHERE as merge-on-read (the Delta deletion-vector
    * DELETE; beyond the reference, which delegates deletes to delta-rs
    * copy-on-write): rows matching `cond` are marked in per-file roaring
    * bitmaps and NO data file is rewritten — a delete touching 0.1% of rows
    * spread over every file of a 100 TB table writes kilobytes of bitmaps,
    * not 100 TB of parquet. Dir-stats pruning bounds the scan to dirs that
    * can contain matches; subsequent reads drop marked rows via the
    * codegen'd [[DvRowDeleted]] probe; [[optimize]] rewrites dirs clean
    * (rows physically gone, DVs dropped). With [[CdfProp]] set, the deleted
    * rows are also materialized as `_change_type = "delete"` change rows.
    * Returns the new version, or the CURRENT version (no commit) when
    * nothing matched. */
  def delete(cond: org.apache.spark.sql.Column): Long = {
    val m = readManifest(requireVersion)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val candidates = pruneDirs(m, cond)
    val marked = scanDirs(candidates, logical, withFilePos = true)
      .filter(cond).select(col(FileKeyCol), col(RowIdxCol))
    val nextV = m.version + 1
    dvDeletes(m.dirs, marked, nextV) match {
      case None => m.version // nothing matched: no-op, no commit
      case Some(newDirs) =>
        val changeDir = if (!m.properties.get(CdfProp).contains("true")) None else {
          val cd = f"v$nextV%010d-${UUID.randomUUID().toString.take(8)}"
          // one extra pass over the candidate dirs only (pre-commit state,
          // so the DV filter still shows the rows being deleted)
          scanDirs(candidates, logical).filter(cond)
            .withColumn(ChangeTypeCol, lit("delete"))
            .write.mode("overwrite").parquet(s"$path/_change_data/$cd")
          Some(cd)
        }
        writeManifest(Manifest(nextV, newDirs, m.schemaJson, m.properties,
          op = "delete", changeDir = changeDir))
        nextV
    }
  }

  /** Encode + publish deletion vectors for `marked` (file key, row index)
    * rows: per-file bitmaps are built and roaring-encoded ON EXECUTORS (the
    * driver only ever sees the compressed bytes — bounded by design, DVs
    * are small or the caller should rewrite instead), unioned with any
    * existing DV of the same file (scans filter DV'd rows, so new indexes
    * are disjoint from old by construction), and written into ONE container
    * file for the whole commit. Returns the full dir list with updated
    * entries, or None when `marked` is empty. */
  private def dvDeletes(
      dirs: Seq[DataDir], marked: DataFrame, nextV: Long): Option[Seq[DataDir]] = {
    import spark.implicits._
    val existing: Map[String, Array[Long]] = dirs.iterator.flatMap(d =>
      d.dv.map(e => s"${d.dir}/${e.file}" -> dvIndexes(e))).toMap
    val bc = spark.sparkContext.broadcast(existing)
    val perFile: Array[(String, Array[Byte], Long)] = marked
      .groupBy(col(FileKeyCol)).agg(
        sort_array(collect_list(col(RowIdxCol))).as("idxs"))
      .as[(String, Seq[Long])]
      .map { case (key, idxs) =>
        val all = DeletionVectors.union(
          bc.value.getOrElse(key, Array.emptyLongArray), idxs.toArray)
        (key, DeletionVectors.encode(all), all.length.toLong)
      }.collect().sortBy(_._1)
    if (perFile.isEmpty) return None
    val binName = f"v$nextV%010d-${UUID.randomUUID().toString.take(8)}.bin"
    fsu.mkdirs(dvDir)
    val offs = DeletionVectors.writeBin(
      fsu.fs, new HPath(dvDir, binName), perFile.map(_._2).toSeq)
    val byDir: Map[String, Seq[DvEntry]] = perFile.zip(offs).map {
      case ((key, _, card), (off, size)) =>
        val slash = key.indexOf('/')
        (key.substring(0, slash),
          DvEntry(key.substring(slash + 1), binName, off, size, card))
    }.groupBy(_._1).map { case (d, es) => d -> es.map(_._2).toSeq }
    Some(dirs.map { d =>
      byDir.get(d.dir) match {
        case None => d
        case Some(mine) =>
          val replaced = mine.map(_.file).toSet
          d.copy(dv = d.dv.filterNot(e => replaced(e.file)) ++ mine)
      }
    })
  }

  /** Write one data dir, collecting per-column min/max/nullCount stats on an
    * Observation riding the write itself (no second scan); the stats land in
    * the manifest and drive [[readWhere]] dir pruning. */
  private def writeDataDir(df: DataFrame, schema: StructType, dirName: String): DataDir = {
    val fields = DirStats.eligibleFields(schema)
    val aggs = DirStats.aggColumns(fields)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(s"$path/data/$dirName")
    DataDir(dirName, schema.json,
      Some(DirStats.fromMetrics(obs.get, fields).copy(bytes = dirBytes(dirName))))
  }

  /** Total parquet bytes of one data dir (one listStatus RPC post-write) —
    * feeds the planner's sizeInBytes estimate. */
  private def dirBytes(dirName: String): Long =
    fsu.list(new HPath(dataDir, dirName))
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".") &&
        !p.getName.startsWith("_"))
      .map(p => fsu.fs.getFileStatus(p).getLen).sum

  /** Compact the table into `targetDirs` data dirs, optionally clustering
    * rows so the per-dir stats become tight and [[readWhere]] pruning bites
    * (the Delta OPTIMIZE / ZORDER BY shape; the reference gets OPTIMIZE from
    * delta-rs/delta-spark for free). A year of hourly syncs leaves ~9k tiny
    * dirs whose stats all span the full key range — after optimize, each of
    * the `targetDirs` dirs covers a disjoint slice, so a point or range
    * query scans ~1/targetDirs of the table, and small-file overhead is
    * gone. Also unifies schema generations: every row is rewritten under
    * the current logical schema, collapsing the per-generation scans.
    *
    * Clustering strategies:
    *   - `clusterBy` empty: plain bin-packing (round-robin repartition).
    *   - `zorder=false`: range-partition + sort by `clusterBy` — ideal for
    *     one column, lexicographic for several (leading column prunes best).
    *   - `zorder=true`: interleaved-bit z-values over up to 4 numeric /
    *     date / timestamp columns (16 bits each, uniform buckets between
    *     the observed global min/max), then range-partition + sort by the
    *     z-value — every clustered column gets usable stats locality, not
    *     just the leading one.
    *
    * One Spark job writes all dirs (`partitionBy` on a chunk id that is
    * constant per range partition; the explicit sort ends with the
    * partition column so the writer inserts no order-destroying re-sort),
    * then per-dir stats are recomputed from the written files. Runs as a
    * normal commit: time travel to the pre-optimize version still works,
    * and `vacuum` eventually reclaims the small dirs. */
  def optimize(clusterBy: Seq[String] = Nil, targetDirs: Int = 1,
      zorder: Boolean = false, bloomFilterFor: Seq[String] = Nil): Long = {
    require(targetDirs >= 1, s"targetDirs must be >= 1, got $targetDirs")
    val m = readManifest(requireVersion)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    if (m.dirs.isEmpty) return m.version
    val df = scanDirs(m.dirs, logical)
    val nextV = m.version + 1
    val base = f"v$nextV%010d-${UUID.randomUUID().toString.take(8)}"

    val chunked =
      if (clusterBy.isEmpty)
        df.repartition(targetDirs).withColumn(ChunkCol, spark_partition_id())
      else if (!zorder)
        // ChunkCol leads the sort (it is constant per range partition, so
        // this is free) — the file writer's required ordering is exactly the
        // partition column, a satisfied prefix, so no re-sort is inserted
        // and the clusterBy order inside each written file survives
        df.repartitionByRange(targetDirs, clusterBy.map(col): _*)
          .withColumn(ChunkCol, spark_partition_id())
          .sortWithinPartitions((ChunkCol +: clusterBy).map(col): _*)
      else {
        // global [min,max] per column (one tiny agg job) → uniform bucket
        // ids → bit-interleaved z-value, all codegen'd (shared with the
        // foreign writer's clustered OPTIMIZE — [[ZOrder]])
        ZOrder.requireZOrderable(logical, clusterBy)
        val withZ = df.withColumn(ZCol, ZOrder.zValue(df, clusterBy))
        // chunk boundaries from a DETERMINISTIC full-pass quantile sketch
        // over z, not sampled range partitioning: RangePartitioner seeds
        // its reservoir sample from the RDD id, so two optimize runs over
        // identical data could cut different chunks — reproducible layout
        // matters (debuggability, stable tests, idempotent re-optimize).
        // The boundary count is targetDirs-1 (tiny); assignment is a
        // codegen'd aggregate over the boundary array literal, O(targetDirs)
        // integer ops per row with O(1) plan size (not a when-chain)
        val chunkCol =
          if (targetDirs == 1) lit(0)
          else {
            val probs = (1 until targetDirs).map(_.toDouble / targetDirs).toArray
            val qs = withZ.select(col(ZCol).cast("double").as("zd"))
              .stat.approxQuantile("zd", probs, 1.0 / math.max(100, 10 * targetDirs))
            aggregate(lit(qs), lit(0),
              (acc, b) => acc + when(col(ZCol).cast("double") > b, 1).otherwise(0))
          }
        // range- (not hash-) repartition on the chunk id: hash collisions
        // over ≤ targetDirs distinct ids would stack 2-3 chunks on one
        // write task and leave others empty; range gives ~one chunk per
        // task, and its sampled boundaries cannot affect LAYOUT (the
        // partitionBy writer splits by chunk VALUE regardless)
        withZ.withColumn(ChunkCol, chunkCol)
          .repartitionByRange(targetDirs, col(ChunkCol))
          .sortWithinPartitions(col(ChunkCol), col(ZCol))
          .drop(ZCol)
      }

    val staging = new HPath(dataDir, s".opt-$base")
    // parquet-level bloom filters for the requested columns: min/max stats
    // can't prune EQUALITY probes on high-cardinality unclustered columns
    // (a uuid pk spans the full range in every dir) — a row-group bloom
    // answers them inside the scan with no manifest growth
    val writer = bloomFilterFor.foldLeft(
        chunked.write.partitionBy(ChunkCol).mode("overwrite")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.parquet(staging.toString)
    // recompute per-chunk stats from the written files in ONE grouped agg job
    // (parquet aggregate pushdown answers min/max/count from footers where
    // supported) instead of one small job per chunk dir — at targetDirs in
    // the hundreds the per-job fixed latency dominates the loop
    val fields = DirStats.eligibleFields(logical)
    val aggs = DirStats.aggColumns(fields)
    val statSchema = StructType(logical.fields :+ StructField(ChunkCol, IntegerType))
    val statRows = spark.read.schema(statSchema).parquet(staging.toString)
      .groupBy(col(ChunkCol)).agg(aggs.head, aggs.tail: _*).collect()
    val statsByChunk = statRows.map { row =>
      val metrics = row.schema.fieldNames.zipWithIndex
        .collect { case (n, i) if n != ChunkCol => n -> row.get(i) }.toMap
      row.getInt(row.fieldIndex(ChunkCol)) -> DirStats.fromMetrics(metrics, fields)
    }.toMap
    val newDirs = fsu.list(staging)
      .filter(_.getName.startsWith(s"$ChunkCol="))
      .sortBy(_.getName.stripPrefix(s"$ChunkCol=").toInt)
      .map { sub =>
        val chunk = sub.getName.stripPrefix(s"$ChunkCol=").toInt
        val dirName = s"$base-c$chunk"
        val dest = new HPath(dataDir, dirName)
        if (!fsu.fs.rename(sub, dest))
          throw new java.io.IOException(s"rename $sub -> $dest failed")
        DataDir(dirName, logical.json,
          Some(statsByChunk(chunk).copy(bytes = dirBytes(dirName))))
      }
    fsu.delete(staging, recursive = true)
    writeManifest(Manifest(nextV, newDirs, logical.json, m.properties, op = "optimize"))
    nextV
  }

  /** Drop data dirs no longer referenced by the last `keepVersions` manifests
    * (reference vacuums aux tables each run, db_to_delta.py:262-267). */
  def vacuum(keepVersions: Int = 3): Unit = {
    val latest = latestVersion.getOrElse(return)
    vacuumFrom(math.max(0L, latest - keepVersions + 1), latest)
  }

  /** Age-based retention (the reference's `vacuum(retention_hours)` —
    * reader/reader.py:18, read_utils/delta_rs.py:130-131): every version
    * committed within the window stays time-travelable; the latest version
    * survives regardless of age. Version-count retention on an hourly sync
    * is NOT wall-clock retention on an ad-hoc one — this is the contract a
    * compliance window ("keep 7 days") actually wants. Commit timestamps
    * come from the manifests' strictly-monotonic `timestampMs`, so the
    * boundary is a single scan for the oldest in-window version. */
  def vacuum(retentionHours: Double): Unit = {
    val latest = latestVersion.getOrElse(return)
    val cutoff = System.currentTimeMillis() - (retentionHours * 3600 * 1000).toLong
    val inWindow = fsu.list(logDir).map(_.getName)
      .collect { case ManifestName(v) => v.toLong }
      .filter(v => readManifest(v).tsMs >= cutoff)
    vacuumFrom(math.min(inWindow.minOption.getOrElse(latest), latest), latest)
  }

  private def vacuumFrom(keepFrom: Long, latest: Long): Unit = {
    val kept = (keepFrom to latest).flatMap { v =>
      val p = manifestPath(v)
      if (fsu.exists(p)) Some(readManifest(v)) else None
    }
    val live: Set[String] = kept.flatMap(_.dirs.map(_.dir)).toSet
    fsu.list(dataDir).foreach { d =>
      if (!live(d.getName)) fsu.delete(d, recursive = true)
    }
    // deletion-vector container files referenced by no kept manifest go too
    val liveBins: Set[String] = kept.flatMap(_.dirs.flatMap(_.dv.map(_.bin))).toSet
    if (fsu.exists(dvDir)) fsu.list(dvDir).foreach { f =>
      if (!liveBins(f.getName)) fsu.deleteIfExists(f)
    }
    // change-data dirs of vacuumed commits go with them
    val liveChanges: Set[String] = kept.flatMap(_.changeDir).toSet
    val cdDir = new HPath(path, "_change_data")
    if (fsu.exists(cdDir)) fsu.list(cdDir).foreach { d =>
      if (!liveChanges(d.getName)) fsu.delete(d, recursive = true)
    }
    // old manifests referencing dropped dirs are no longer readable → drop them
    fsu.list(logDir).foreach { f =>
      f.getName match {
        case ManifestName(v) if v.toLong < keepFrom => fsu.deleteIfExists(f)
        case _ => ()
      }
    }
  }
}

object VersionedTable {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[VersionedTable])
  private val ManifestName = """v(\d{10})\.json""".r
  /** Name prefix of a data dir written by [[VersionedTable.stage]] and not
    * yet published. */
  private val StagePrefix = ".stage-"
  /** Internal column carrying a row's originating data dir in pruning scans. */
  private val DirCol = "__graft_dir"
  /** Internal columns carrying row provenance for deletion-vector writes. */
  private val FileKeyCol = "__graft_file"
  private val RowIdxCol = "__graft_row_idx"
  /** Internal columns used only inside [[VersionedTable.optimize]]. */
  private val ChunkCol = "__gchunk"
  private val ZCol = "__gz"
  /** Output column of [[VersionedTable.readChanges]]. */
  val VersionCol = "__commit_version"
  /** Change-type column of [[VersionedTable.readChangeFeed]] (Delta CDF name). */
  val ChangeTypeCol = "_change_type"
  /** Commit-timestamp column of [[VersionedTable.readChangeFeed]]. */
  val CommitTsCol = "_commit_timestamp"
  /** Table property enabling change-data capture on merge commits. */
  val CdfProp = "graft.enableChangeDataFeed"
  private[store] val mapper = new ObjectMapper()

  /** One parquet file's deletion vector inside a data dir: `file` is the
    * parquet file name, `bin` the DV container file under
    * `deletion_vectors/`, and (offset, size, cardinality) locate + describe
    * the bitmap exactly as a Delta add-action descriptor would. */
  private[store] final case class DvEntry(
      file: String, bin: String, offset: Int, size: Int, cardinality: Long)
  private[store] final case class DataDir(
      dir: String, schemaJson: String, stats: Option[DirStats.Stats] = None,
      dv: Seq[DvEntry] = Nil)
  private[store] final case class Manifest(
      version: Long, dirs: Seq[DataDir], schemaJson: String,
      properties: Map[String, String] = Map.empty,
      op: String = "", tsMs: Long = 0L,
      /** Change-data dir written by THIS commit (CDF-enabled merge). */
      changeDir: Option[String] = None)
}

/** Schema drift rules (reference spark_reader.py:154-162,284-305;
  * tests/test_11_schema_drift.py). */
object SchemaEvolution {
  /** Relax nullability DEEPLY — parquet cannot record non-nullable array
    * elements or struct fields, so a round-trip turns them nullable anyway;
    * manifests must store the relaxed form or later aligns attempt
    * unresolvable nullable→non-nullable casts. */
  def relaxNullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = relaxDeep(f.dataType), nullable = true)))

  def relaxDeep(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(relaxDeep(e), containsNull = true)
    case MapType(k, v, _) => MapType(relaxDeep(k), relaxDeep(v), valueContainsNull = true)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = relaxDeep(f.dataType), nullable = true)))
    case other => other
  }

  /** Merge incoming schema into existing per drift policy. New columns append
    * (NewOnly/Full); type changes widen only under Full and only if a lossless
    * widening exists (decimal(15)→(20) ok; decimal→string raises — reference
    * test_11_schema_drift.py:89-102). */
  def merge(existing: StructType, incoming: StructType, drift: graft.SchemaDrift): StructType = {
    // drift compares SHAPES: nested nullability and nested field metadata
    // are declarations (the table's contract survives the write and is
    // value-enforced separately), not type changes
    def comparable(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(comparable(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(comparable(k), comparable(v), valueContainsNull = true)
      case st: StructType => StructType(st.fields.map(f => StructField(
        f.name, comparable(f.dataType), nullable = true)))
      case other => other
    }
    val byLower = incoming.fields.map(f => f.name.toLowerCase -> f).toMap
    val updated = existing.fields.map { old =>
      byLower.get(old.name.toLowerCase) match {
        case Some(nw) if comparable(nw.dataType) == comparable(old.dataType) =>
          old.copy(nullable = true)
        case Some(nw) =>
          drift match {
            case graft.SchemaDrift.Full =>
              old.copy(dataType = widen(old.dataType, nw.dataType), nullable = true)
            case _ => throw new IllegalArgumentException(
              s"schema drift: column ${old.name} changed ${old.dataType.simpleString} → " +
                s"${nw.dataType.simpleString} (drift policy $drift)")
          }
        case None => old.copy(nullable = true)
      }
    }
    val existingLower = existing.fields.map(_.name.toLowerCase).toSet
    val added = incoming.fields.filterNot(f => existingLower(f.name.toLowerCase))
    drift match {
      case graft.SchemaDrift.None if added.nonEmpty => throw new IllegalArgumentException(
        s"schema drift disabled but new columns: ${added.map(_.name).mkString(",")}")
      case _ => StructType(updated ++ added.map(_.copy(nullable = true)))
    }
  }

  /** Lossless widening lattice; recurses into arrays, maps, and structs.
    * Nested struct widening requires an IDENTICAL, identically-ordered
    * field-name sequence (Spark struct casts need matching arity/order);
    * adding, removing, or reordering nested fields raises — only top-level
    * columns participate in drift. */
  def widen(from: DataType, to: DataType): DataType = (from, to) match {
    case (a, b) if a == b => a
    case (ByteType, ShortType | IntegerType | LongType) => to
    case (ShortType, IntegerType | LongType) => to
    case (IntegerType, LongType) => to
    case (FloatType, DoubleType) => DoubleType
    case (ByteType | ShortType | IntegerType, DoubleType) => DoubleType
    case (a: DecimalType, b: DecimalType)
        if b.precision >= a.precision && b.scale >= a.scale &&
          b.precision - b.scale >= a.precision - a.scale => b
    case (DateType, TimestampType) => TimestampType
    case (ArrayType(a, n1), ArrayType(b, n2)) => ArrayType(widen(a, b), n1 || n2)
    case (MapType(ka, va, n1), MapType(kb, vb, n2)) =>
      MapType(widen(ka, kb), widen(va, vb), n1 || n2)
    // nested structs widen field-wise over the SAME field set — adding or
    // removing nested fields is not expressible as a Spark cast (struct
    // casts require identical arity), so it stays an incompatible change
    case (a: StructType, b: StructType)
        if a.fields.map(_.name.toLowerCase).toSeq == b.fields.map(_.name.toLowerCase).toSeq =>
      StructType(a.fields.zip(b.fields).map { case (f, nf) =>
        f.copy(dataType = widen(f.dataType, nf.dataType), nullable = true)
      })
    case _ => throw new IllegalArgumentException(
      s"incompatible type change ${from.simpleString} → ${to.simpleString}")
  }
}
