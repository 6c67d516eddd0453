package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ColInfo

/** Source-state probe result: (MAX(delta_col), COUNT(*)) — the change
  * detection pair (reference load_infos.py:44-70). deltaMax is the raw value
  * (Long / Timestamp / …) or null when the table is empty. */
final case class SourceState(deltaMax: Any, count: Long) {
  def sameAs(other: SourceState): Boolean =
    count == other.count && deltaMax == other.deltaMax
}

/** A readable source relation — the engine's one seam to the outside world
  * (reference reader/reader.py:35-123 DataSourceReader). Implementations:
  * parquet tables (this harness), JDBC tables/queries (live DBs), or any
  * DataFrame (query-as-source, reference write_init.py:115).
  */
trait Source {
  /** Raw source rows, no projection applied. */
  def read(spark: SparkSession): DataFrame

  /** Discovered column metadata (reference metadata.py:180-199). */
  def columns(spark: SparkSession): Seq[ColInfo]

  /** Declared/discovered primary key columns (source names). */
  def primaryKeys(spark: SparkSession): Seq[String]

  /** (MAX(deltaCol), COUNT(*)) against the source — pushed down where the
    * source supports it; on parquet/JDBC this is one aggregate scan
    * (reference load_infos.py:44-70 / A2). */
  def state(spark: SparkSession, deltaCol: Column): SourceState =
    Resolution.stateOf(read(spark), deltaCol)

  /** This source resolved for one sync run. By default its columns come
    * from [[columns]], its state from [[state]] and its load read from
    * one [[read]] made on first use. A source whose columns ARE its
    * relation's schema resolves through [[Resolution.of]] instead,
    * so column discovery, the state probe and the loads share one
    * resolved relation (a file source infers its schema once per run). */
  private[graft] def resolve(spark: SparkSession): Resolution =
    new Resolution(columns(spark), state(spark, _), () => read(spark))
}

/** A [[Source]] as resolved for one sync run: its column metadata, its
  * (MAX(deltaCol), COUNT(*)) probe and its load read. */
private[graft] final class Resolution(
    val columns: Seq[ColInfo],
    probe: Column => SourceState,
    relation: () => DataFrame) {
  def state(deltaCol: Column): SourceState = probe(deltaCol)
  lazy val read: DataFrame = relation()
}

private[graft] object Resolution {
  /** (MAX(deltaCol), COUNT(*)) over `df` in one aggregate. */
  def stateOf(df: DataFrame, deltaCol: Column): SourceState = {
    val row = df.agg(max(deltaCol).as("m"), count(lit(1)).as("c")).head()
    SourceState(row.get(0), row.getLong(1))
  }

  /** A resolution whose columns, state probe and loads all come from `df`. */
  def of(df: DataFrame): Resolution =
    new Resolution(ColInfo.fromSchema(df.schema), stateOf(df, _), () => df)
}

/** Sources that can run the P1 cast/trim/cap projection INSIDE the source
  * system (reference db_to_delta.py:54-164 generates dialect SQL for the
  * same purpose): a live sync then ships trimmed/capped bytes over the
  * wire, not raw varchar(max). Contract: the returned source yields the
  * SAME column names and semantically converted values; the engine still
  * applies the Spark-side projection afterwards (idempotent), so this is
  * purely a bandwidth/pushdown optimization. */
trait ProjectionPushdown { self: Source =>
  /** A projected variant plus the lower-cased names of columns whose
    * conversion ran ENTIRELY source-side (the engine aliases those
    * instead of re-converting — re-applying trim/cap is not idempotent
    * when a cap lands on whitespace), or None when nothing pushes. */
  def pushedProjection(
      cols: Seq[graft.ColInfo], cfg: graft.WriteConfig): Option[(Source, Set[String])]
}

/** Sources that can restrict a read to an explicit set of primary-key
  * tuples INSIDE the source system (reference db_to_delta.py:907-992 ships
  * the ≤1000 strange pks into the source query via OPENJSON/JSON_TABLE so
  * the DB returns only those rows). Without this, a live-JDBC strange-
  * update fetch pulls the WHOLE source table through the JDBC scan just to
  * probe ≤1000 pks — the one remaining scale-killer on the core CDC
  * algorithm at 100 TB. Parquet/file sources don't implement it: their
  * broadcast join already prunes at the Spark scan. */
trait PkPushdown { self: Source =>
  /** A read restricted to the given pk tuples, executed source-side where
    * possible, or None when any value/conversion has no portable SQL
    * rendering — the caller then falls back to the full-read broadcast
    * join. `pkCols` are SOURCE column infos; `tuples` carry TARGET-
    * converted values in the same column order; `alreadyConverted` names
    * pk columns whose P1 conversion already ran inside this source (a
    * pushed-projection wrapper), so the filter must compare the raw
    * column, not re-render the chain. The returned rows are a SUPERSET
    * contract: the caller re-applies the exact tuple-match join Spark-
    * side, so this is bandwidth pruning, never the correctness filter. */
  def readForPks(
      spark: SparkSession,
      pkCols: Seq[ColInfo],
      cfg: graft.WriteConfig,
      alreadyConverted: Set[String],
      tuples: Seq[org.apache.spark.sql.Row]): Option[DataFrame]
}

/** Parquet-backed source table for the test harness — plays the role of the
  * RDBMS table; pk/delta-col are declared since parquet has no catalog
  * (reference S7 becomes `df.schema` + declared pks, SURVEY.md §2.1). */
final class ParquetSource(
    path: String,
    pks: Seq[String] = Nil,
    val transformationHook: DataFrame => DataFrame = identity) extends Source {
  def read(spark: SparkSession): DataFrame = transformationHook(spark.read.parquet(path))
  def columns(spark: SparkSession): Seq[ColInfo] = ColInfo.fromSchema(read(spark).schema)
  def primaryKeys(spark: SparkSession): Seq[String] = pks
  override private[graft] def resolve(spark: SparkSession): Resolution =
    Resolution.of(read(spark))
}

/** Any Spark file format as a source — parquet/csv/json/orc share one
  * shape (the reference only reads ODBC; file drops land in the same SCD2
  * engine here). CSV/JSON usually want an explicit `schema` — inference
  * reads the data twice and can flip types between runs, which would
  * break delta-column comparisons. */
final class FileSource(
    path: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty,
    schema: Option[org.apache.spark.sql.types.StructType] = None,
    pks: Seq[String] = Nil,
    val transformationHook: DataFrame => DataFrame = identity) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val base = spark.read.format(format).options(options)
    val withSchema = schema.fold(base)(base.schema)
    transformationHook(withSchema.load(path))
  }
  def columns(spark: SparkSession): Seq[ColInfo] = ColInfo.fromSchema(read(spark).schema)
  def primaryKeys(spark: SparkSession): Seq[String] = pks
  override private[graft] def resolve(spark: SparkSession): Resolution =
    Resolution.of(read(spark))
}

/** An EXTERNAL Delta table as a source (reference reader/spark_reader.py:123-133
  * registers any Delta path as a versioned view) — lets a sync ingest from
  * an existing lakehouse table or chain two graft deployments through a
  * Delta table. Reads ride [[graft.store.DeltaTable]]'s log-backed file
  * index, so source-side delta/pk filters prune files from the table's own
  * `add.stats` before any task launches. */
final class DeltaTableSource(
    path: String,
    pks: Seq[String] = Nil,
    versionAsOf: Option[Long] = None,
    timestampAsOf: Option[Long] = None,
    val transformationHook: DataFrame => DataFrame = identity) extends Source {
  def read(spark: SparkSession): DataFrame =
    transformationHook(graft.store.DeltaTable.read(spark, path, versionAsOf, timestampAsOf))
  def columns(spark: SparkSession): Seq[ColInfo] = ColInfo.fromSchema(read(spark).schema)
  def primaryKeys(spark: SparkSession): Seq[String] = pks
  override private[graft] def resolve(spark: SparkSession): Resolution =
    Resolution.of(read(spark))
}

/** Any DataFrame as a source — the query-as-source path
  * (reference write_init.py:115,138-141: arbitrary sqlglot query wrapped as a
  * subquery; here the "subquery" is just the DataFrame itself and Catalyst
  * composes filters through it). */
final class DataFrameSource(df: DataFrame, pks: Seq[String] = Nil) extends Source {
  def read(spark: SparkSession): DataFrame = df
  def columns(spark: SparkSession): Seq[ColInfo] = ColInfo.fromSchema(df.schema)
  def primaryKeys(spark: SparkSession): Seq[String] = pks
  override private[graft] def resolve(spark: SparkSession): Resolution = Resolution.of(df)
}
