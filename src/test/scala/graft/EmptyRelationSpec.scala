package graft

import scala.collection.mutable

import org.apache.spark.graftreplay.Settle
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.scd2.Synchronizer
import graft.sources.{DataFrameSource, ParquetSource}
import graft.store.VersionedTable

/** An empty graft table reads as an empty LocalRelation, which Catalyst
  * prunes: a strange-free delta sync leaves delta_2 empty, and neither the
  * step-4 write nor the delete probe may read it. Observations riding a
  * write of an empty relation must still fire — a pruned CollectMetrics
  * would leave `Observation.get` waiting forever. */
class EmptyRelationSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = WriteConfig(deltaCol = Some("ver"))

  /** The physical plans of the SQL executions `body` starts, keyed by
    * their description (the engine's `scd2 <step>` label). */
  private def plansOf(body: => Any): Seq[(String, SparkPlanInfo)] = {
    val sc = spark.sparkContext
    val plans = mutable.ArrayBuffer.empty[(String, SparkPlanInfo)]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.synchronized(plans += (s.description -> s.sparkPlanInfo))
        case _ =>
      }
    }
    Settle(sc)
    sc.addSparkListener(l)
    try {
      body
      Settle(sc)
      plans.synchronized(plans.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** Fails instead of hanging when an Observation never fires. */
  private def bounded[A](body: => A): A = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    Await.result(Future(body)(ExecutionContext.global), scala.concurrent.duration.Duration(120, "s"))
  }

  test("a strange-free delta sync: the step-4 and delete-probe plans read no delta_2") {
    val src = tmpDir("graft-empty-src")
    val dest = tmpDir("graft-empty-dest")
    (1L to 10L).map(i => (i, s"n$i", i)).toDF("id", "name", "ver")
      .write.mode("overwrite").parquet(src)
    new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg).execute()
    // id 1 updated forward, id 11 inserted, id 10 deleted — nothing strange
    ((1L to 9L).map {
      case 1L => (1L, "n1u", 11L)
      case i => (i, s"n$i", i)
    } :+ ((11L, "n11", 12L))).toDF("id", "name", "ver").write.mode("overwrite").parquet(src)
    val s = new Synchronizer(spark, new ParquetSource(src, Seq("id")), dest, cfg)
    var result: LoadResult = null
    val plans = plansOf { result = s.execute() }
    assert(result == LoadResult.DeltaLoad(2, 0, 1, dirty = false))
    assert(s.dest.delta2.read().isEmpty)

    Seq("scd2 step4: latest_pk write", "scd2 step3.5: delete probe").foreach { step =>
      val mine = plans.filter(_._1 == step).flatMap(p => nodes(p._2))
      assert(mine.nonEmpty, s"no plan labelled '$step' in ${plans.map(_._1).distinct}")
      // the plan is complete: the snapshot it reads is there as a file scan
      assert(mine.exists(_.simpleString.contains("primary_keys_ts")), s"$step: no snapshot scan")
      val emptyLeaves = mine.filter(n => n.children.isEmpty &&
        (n.nodeName.contains("ExistingRDD") || n.nodeName == "LocalTableScan")).map(_.nodeName)
      assert(emptyLeaves.isEmpty, s"$step reads an empty relation: $emptyLeaves")
      assert(!mine.exists(_.simpleString.contains("delta_2")), s"$step scans delta_2")
    }
    assert(s.checkConsistency().isEmpty)
  }

  test("Observations on writes of empty relations still fire") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val t = new VersionedTable(spark, tmpDir("graft-empty-widen"))
    t.overwrite(Seq((1L, "a")).toDF("id", "name"))

    // widenSchema appends an empty frame carrying only the new schema
    val wide = StructType(schema.fields :+ StructField("extra", StringType))
    val v1 = bounded(t.widenSchema(wide, SchemaDrift.Full))
    assert(v1 == 1L && t.schema.fieldNames.toSeq == Seq("id", "name", "extra"))
    assert(t.read().count() == 1)

    // overwrite with an empty DataFrame: the read of an empty table
    val empty = new VersionedTable(spark, tmpDir("graft-empty-src-table"))
    empty.overwriteEmpty(schema)
    assert(empty.read().isEmpty)
    val v2 = bounded(t.overwrite(empty.read()))
    assert(v2 == 2L && t.read().isEmpty)
    assert(bounded(t.overwrite(spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema))) == 3L)

    // a full load of an empty source counts its rows on an Observation
    val src = new DataFrameSource(spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(schema.fields :+ StructField("ver", LongType))), Seq("id"))
    val dest = tmpDir("graft-empty-full")
    assert(bounded(new Synchronizer(spark, src, dest, cfg).execute()) == LoadResult.FullLoad(0))
    assert(new Synchronizer(spark, src, dest, cfg).dest.delta.read().isEmpty)
  }
}
