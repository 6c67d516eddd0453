package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.StructType

import graft.SchemaDrift

/** The destination-table surface the SCD2 engine needs from its history
  * table — exactly the operations [[graft.scd2.Synchronizer]] performs.
  * Two implementations: [[VersionedTable]] (graft's native manifest
  * format, used for graft-created destinations) and [[ForeignDeltaTable]]
  * (continue a destination some OTHER Delta writer created — delta-spark,
  * delta-rs, the reference deployment being migrated — by committing real
  * `_delta_log` entries; reference reader/spark_reader.py:307-324 writes
  * native Delta, so a migrating user's existing `dest/delta` IS such a
  * table). */
trait HistoryTable {
  def exists: Boolean
  def schema: StructType
  /** Current snapshot. */
  def read(): DataFrame
  /** Current snapshot with file-level pruning for `cond` where the format
    * supports it (manifest stats / Delta add stats). */
  def readWhere(cond: Column): DataFrame
  /** ONLY the rows written by commit `version` (not the snapshot at it). */
  def readCommit(version: Long): DataFrame
  /** Returns the committed version. */
  def append(df: DataFrame, drift: SchemaDrift = SchemaDrift.NewOnly): Long
  def overwrite(df: DataFrame, drift: SchemaDrift = SchemaDrift.Full): Long
  /** Writes `df`'s files as an append (or, with `overwrite`, a
    * replacement) WITHOUT committing them: no reader sees them until
    * [[StagedWrite.publish]] makes them the table's next version — the
    * commit `append`/`overwrite` would have made, resolved against the
    * table as it is at publish time. [[StagedWrite.discard]] deletes
    * them instead. */
  private[graft] def stage(df: DataFrame, drift: SchemaDrift, overwrite: Boolean): StagedWrite
}

/** Files written by [[HistoryTable.stage]], not yet part of any version. */
private[graft] trait StagedWrite {
  /** Commits the staged files as the table's next version; returns it. */
  def publish(): Long
  /** Deletes the staged files. A no-op once [[publish]] has committed
    * them, so a caller may discard unconditionally on its way out. */
  def discard(): Unit
}
