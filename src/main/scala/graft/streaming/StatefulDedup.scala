package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.TextFunctions

/** Streaming exact-dedup with custom state: first occurrence of each
  * content fingerprint passes, later duplicates are dropped — across
  * micro-batches, via `flatMapGroupsWithState` (the stateful-operator API;
  * the batch engine's Dedup.exact is its one-shot equivalent).
  *
  * State is keyed BY FINGERPRINT, so state volume is one boolean per
  * distinct document — at 100 TB the state store shards across executors
  * with the shuffle on the fingerprint key, and a processing-time timeout
  * bounds unbounded growth for long-running streams (expired fingerprints
  * may readmit a duplicate — the standard dedup-window tradeoff). */
object StatefulDedup {

  final case class DocIn(doc_id: Long, fp: String, text: String)
  final case class DocOut(doc_id: Long, fp: String)

  /** First-seen-wins per fingerprint.
    *
    * @param stateTimeout None (default) keeps fingerprints forever — right
    *   for AvailableNow re-runs (a ProcessingTimeTimeout would make
    *   AvailableNow loop endless timeout-check batches after the data is
    *   exhausted — observed batch id 50+ on a 2-file source). Some(d) sets
    *   a processing-time expiry for CONTINUOUS streams where state must be
    *   bounded; expired fingerprints may readmit a duplicate.
    */
  def firstSeen(
      batchOrStream: DataFrame,
      idCol: String,
      textCol: String,
      stateTimeout: Option[String] = None): Dataset[DocOut] = {
    implicit val inEnc = Encoders.product[DocIn]
    implicit val outEnc = Encoders.product[DocOut]
    implicit val strEnc = Encoders.STRING
    implicit val boolEnc = Encoders.scalaBoolean
    val docs = batchOrStream.select(
      col(idCol).cast("long").as("doc_id"),
      TextFunctions.fingerprint(col(textCol)).as("fp"),
      col(textCol).as("text")).as[DocIn]
    val timeoutConf = if (stateTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, DocOut](OutputMode.Append(), timeoutConf) {
        (fp: String, rows: Iterator[DocIn], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            rows.foreach(_ => ()) // drain: all duplicates
            Iterator.empty
          } else {
            state.update(true)
            stateTimeout.foreach(state.setTimeoutDuration)
            // first row of the first batch for this fingerprint wins;
            // within a batch, the lowest id for determinism
            val first = rows.minBy(_.doc_id)
            Iterator.single(DocOut(first.doc_id, fp))
          }
      }
  }

  /** Run the stateful dedup over a file stream with AvailableNow into a
    * parquet sink (file sinks support checkpoint recovery — the memory sink
    * does not); re-running with the same checkpoint continues the state, so
    * duplicates are suppressed ACROSS runs. */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      idCol: String,
      textCol: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    val in = spark.readStream.schema(schema).parquet(sourceDir)
    StreamingIngest.drain(firstSeen(in, idCol, textCol).writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir))
  }
}
