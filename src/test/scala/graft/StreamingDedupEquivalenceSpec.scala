package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.store.VersionedTable
import graft.streaming.StreamingIngest

/** `StreamingIngest.dedupIngestBatch` (one materialization, one probe)
  * against the formulation it replaced, recomputed here: within-batch
  * window winners, then `Dedup.exactIncremental(..., strategy = "probe")`
  * against the fingerprint store, then both idempotent appends with the
  * fingerprints computed again from the text. Randomized batches mix exact
  * and case/whitespace copies inside one batch, copies of earlier batches
  * and null-text rows; every round must keep the same ids and leave the
  * same destination rows and fingerprint set, and a replayed batchId must
  * be a no-op on both sinks. */
class StreamingDedupEquivalenceSpec extends SparkSuite {

  private val appId = "dedupIngest-equivalence"
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def referenceBatch(batch: DataFrame, batchId: Long, dest: String, fp: String): Unit = {
    val winners = batch
      .withColumn("__fp", TextFunctions.fingerprint(col("text")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__fp").orderBy(col("doc_id").asc)))
      .filter(col("__rn") === 1).drop("__rn", "__fp")
    val fpTable = new VersionedTable(spark, fp)
    val survivors =
      if (fpTable.exists)
        Dedup.exactIncremental(winners, "doc_id", "text", fpTable.read(), strategy = "probe")
      else winners
    val out = survivors.localCheckpoint(true)
    new VersionedTable(spark, dest).appendIdempotent(out, appId, batchId)
    fpTable.appendIdempotent(
      out.select(TextFunctions.fingerprint(col("text")).as("fp")), appId, batchId)
  }

  private def destRows(dir: String): Seq[String] =
    new VersionedTable(spark, dir).read().toJSON.collect().toSeq.sorted

  private def fpsOf(dir: String): Seq[Option[String]] =
    new VersionedTable(spark, dir).read().select("fp").collect()
      .map(r => Option(r.getString(0))).toSeq.sortBy(_.getOrElse(""))

  private def idsOf(dir: String): Set[Long] =
    new VersionedTable(spark, dir).read().select("doc_id").collect().map(_.getLong(0)).toSet

  private def version(dir: String): Long = new VersionedTable(spark, dir).requireVersion

  /** A case/whitespace variant with the same fingerprint. */
  private def variant(t: String, rnd: scala.util.Random): String = {
    val cased = t.map(c => if (rnd.nextBoolean()) c.toUpper else c)
    (if (rnd.nextBoolean()) "  " else "") + cased.replace(" ", if (rnd.nextBoolean()) "   " else " \t ")
  }

  test("randomized batches: same kept ids, destination rows and fingerprints as the probe formulation") {
    val rnd = new scala.util.Random(20261019L)
    val words = Seq("alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "rho")
    def fresh(): String = Seq.fill(2 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
    val dest = tmpDir("sde-dest"); val fp = tmpDir("sde-fp")
    val refDest = tmpDir("sde-ref-dest"); val refFp = tmpDir("sde-ref-fp")
    var earlier = Vector.empty[String]
    var nextId = 1000L
    var keptTotal = Set.empty[Long]

    (0L until 6L).foreach { batchId =>
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 12 + rnd.nextInt(10)).foreach { _ =>
        val pick = rnd.nextInt(10)
        texts += (
          if (pick < 3 || texts.isEmpty && earlier.isEmpty) fresh()
          else if (pick < 5 && texts.nonEmpty) texts(rnd.nextInt(texts.size)) // exact copy
          else if (pick < 7 && texts.nonEmpty) variant(texts(rnd.nextInt(texts.size)), rnd)
          else if (earlier.nonEmpty) {
            val t = earlier(rnd.nextInt(earlier.size))
            if (rnd.nextBoolean()) t else variant(t, rnd)
          }
          else fresh())
      }
      // at least one null-text row per batch; two in odd batches
      val withNulls = texts.toSeq.map(Option(_)) ++ Seq.fill(1 + (batchId % 2).toInt)(None)
      // ids shuffled so the within-batch winner is not always the first copy
      val ids = rnd.shuffle((0 until withNulls.size).map(nextId + _))
      nextId += withNulls.size
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(withNulls.zip(ids).map { case (t, id) => Row(id, t.orNull) }: _*),
        schema)

      StreamingIngest.dedupIngestBatch(batch, batchId, "doc_id", "text", dest, fp, appId)
      referenceBatch(batch, batchId, refDest, refFp)

      val kept = idsOf(dest) -- keptTotal
      assert(kept == idsOf(refDest) -- keptTotal, s"batch $batchId kept ids")
      assert(destRows(dest) == destRows(refDest), s"batch $batchId destination rows")
      assert(fpsOf(fp) == fpsOf(refFp), s"batch $batchId fingerprint set")
      // exactly one null-text row survives per batch
      assert(new VersionedTable(spark, dest).read()
        .filter(col("doc_id").isin(kept.toSeq: _*) && col("text").isNull).count() == 1)
      keptTotal = idsOf(dest)

      // a replayed batchId is a no-op on both sinks
      val (dv, fv) = (version(dest), version(fp))
      val (dRows, fRows) = (destRows(dest), fpsOf(fp))
      StreamingIngest.dedupIngestBatch(batch, batchId, "doc_id", "text", dest, fp, appId)
      assert(version(dest) == dv && version(fp) == fv, s"batch $batchId replay committed")
      assert(destRows(dest) == dRows && fpsOf(fp) == fRows, s"batch $batchId replay changed rows")

      earlier ++= texts
    }
    assert(keptTotal.nonEmpty && fpsOf(fp).flatten.distinct.size == fpsOf(fp).flatten.size)
  }
}
