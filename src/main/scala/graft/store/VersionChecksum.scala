package graft.store

import org.apache.hadoop.fs.{Path => HPath}

/** Delta version-checksum sidecars — `_delta_log/%020d.crc`, the
  * per-commit table-state summary delta-spark writes next to every commit
  * (one JSON object per file; the OSS `VersionChecksum` shape). The file
  * is ADVISORY — not part of the protocol's correctness contract — but an
  * engine that finds one uses it to (a) validate a freshly reconstructed
  * snapshot against the writer's accounting and (b) short-circuit parts of
  * state reconstruction. Writing it makes graft-written logs first-class
  * under delta-spark's checksum validation; verifying it on read turns a
  * truncated or hand-mangled log into a loud refusal instead of a query
  * that silently drops files.
  *
  * Fidelity rule: the `metadata` / `protocol` bodies embedded in the crc
  * are REPLAYED FROM THE LOG ITSELF (the caller hands in a state that was
  * reconstructed from the emitted actions), never rebuilt from a parallel
  * code path — so they cannot drift from what the commits actually say.
  */
private[graft] object VersionChecksum {

  private[store] val CrcRe = """(\d{20})\.crc""".r
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[store] def crcPath(logDir: HPath, v: Long): HPath =
    new HPath(logDir, f"$v%020d.crc")

  /** The crc JSON for a reconstructed snapshot (version = the snapshot's).
    * Counts come from the live file set; `metadata`/`protocol` are the
    * snapshot's replayed values. DV accounting rides along when any live
    * file carries a deletion vector (delta-spark's
    * numDeletedRecordsOpt/numDeletionVectorsOpt). */
  private[store] def json(s: DeltaTable.Snapshot, ict: Option[Long]): String = {
    val o = mapper.createObjectNode()
    o.put("txnId", java.util.UUID.randomUUID().toString)
    o.put("tableSizeBytes", s.numBytes)
    o.put("numFiles", s.numFiles.toLong)
    o.put("numMetadata", 1L)
    o.put("numProtocol", 1L)
    ict.foreach(t => o.put("inCommitTimestampOpt", t): Unit)
    val dvs = s.adds.flatMap(_.dv)
    if (dvs.nonEmpty) {
      o.put("numDeletedRecordsOpt", dvs.map(_.cardinality).sum)
      o.put("numDeletionVectorsOpt", dvs.size.toLong): Unit
    }
    if (s.txns.nonEmpty) {
      val arr = o.putArray("setTransactions")
      s.txns.toSeq.sortBy(_._1).foreach { case (appId, tv) =>
        val t = arr.addObject(); t.put("appId", appId); t.put("version", tv): Unit
      }
    }
    if (s.domainMetadata.nonEmpty) {
      val arr = o.putArray("domainMetadata")
      s.domainMetadata.toSeq.sortBy(_._1).foreach { case (d, cfg) =>
        val m = arr.addObject()
        m.put("domain", d); m.put("configuration", cfg); m.put("removed", false): Unit
      }
    }
    DeltaActions.fillMetadata(o.putObject("metadata"), s.tableId, s.schema.json,
      s.partitionColumns, s.configuration)
    DeltaActions.putProtocol(o, s.minReaderVersion, s.minWriterVersion,
      s.readerFeatures, s.writerFeatures)
    mapper.writeValueAsString(o)
  }

  /** Write the crc for a just-committed version from its reconstructed
    * snapshot. Best effort by design: a racing writer's crc for the same
    * version describes the same committed state, so first-writer-wins and
    * losing the race is not an error. */
  private[store] def write(
      fsu: Fs, logDir: HPath, s: DeltaTable.Snapshot, ict: Option[Long]): Unit =
    try fsu.writeStringAtomicNew(crcPath(logDir, s.version), json(s, ict))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => ()
    }

  /** Cross-check a reconstructed snapshot against the crc at its version.
    * Only the two universal accounting fields are compared (live-file
    * count, live-file bytes — identical definitions across engines); a
    * mismatch means the log this snapshot replayed is NOT the log the
    * committing writer saw (truncated copy, manually deleted commit,
    * doctored add) and reading on would silently serve wrong data. An
    * unparseable crc is ignored — the sidecar is advisory, and refusing a
    * healthy table over another tool's junk file would be worse than the
    * corruption it failed to describe. */
  private[store] def verify(fsu: Fs, crcFile: HPath, s: DeltaTable.Snapshot): Unit = {
    // unreadable (listed-then-vacuumed race, local-fs checksum shadow gone
    // stale) or unparseable content is advisory-ignored; a crc that READS
    // and PARSES is held to its word below
    val node =
      try mapper.readTree(fsu.readString(crcFile))
      catch { case scala.util.control.NonFatal(_) => return }
    def lng(name: String): Option[Long] =
      Option(node.get(name)).filter(_.isNumber).map(_.asLong())
    lng("numFiles").filter(_ != s.numFiles.toLong).foreach { n =>
      throw new IllegalStateException(
        s"Delta version checksum mismatch at ${crcFile.getName}: crc records " +
          s"$n live files, log replay found ${s.numFiles} — the log is " +
          "corrupt (truncated copy or deleted commit); refusing to read")
    }
    lng("tableSizeBytes").filter(_ != s.numBytes).foreach { b =>
      throw new IllegalStateException(
        s"Delta version checksum mismatch at ${crcFile.getName}: crc records " +
          s"$b table bytes, log replay found ${s.numBytes} — the log is " +
          "corrupt (truncated copy or doctored add); refusing to read")
    }
  }
}
