package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.store.VersionedTable

/** The Delta-log mirror of a table handle that starts cold: its first
  * commit must mirror exactly what a warm handle would, although the state
  * it replays from the log carries the translated CDF config key. */
class DeltaLogMirrorColdSpec extends SparkSuite {
  import spark.implicits._

  /** Action names of one mirrored commit, in line order. */
  private def actions(root: String, v: Long): Seq[String] = {
    val mapper = new ObjectMapper()
    val f = new java.io.File(s"$root/_delta_log/${"%020d".format(v)}.json")
    val src = scala.io.Source.fromFile(f)
    try src.getLines().filter(_.nonEmpty).map(l => mapper.readTree(l).fieldNames().next()).toSeq
    finally src.close()
  }

  test("a fresh handle's first append on a CDF table mirrors no metaData") {
    val root = tmpDir("dlm-cold-cdf")
    val t = new VersionedTable(spark, root)
    t.append(Seq((1, "a")).toDF("id", "s")) // v0
    t.setProperties(Map(VersionedTable.CdfProp -> "true")) // v1
    t.append(Seq((2, "b")).toDF("id", "s")) // v2
    assert(actions(root, 2) == Seq("commitInfo", "add"))

    new VersionedTable(spark, root).append(Seq((3, "c")).toDF("id", "s")) // v3
    assert(actions(root, 3) == Seq("commitInfo", "add"))
  }

  /** Inputs whose effect a cold replay must rebuild exactly: a deletion
    * vector on a live file, a widened column's `delta.typeChanges` trail,
    * and a `graft.txn.*` watermark. */
  private val inputs: Seq[(String, VersionedTable => Long)] = Seq(
    "a DV delete" -> (_.delete(col("id") === 1)),
    "a Full-drift type widening" -> (_.append(
      Seq((3L, "c")).toDF("id", "s"), SchemaDrift.Full)),
    "a graft.txn.* watermarked append" -> (_.appendIdempotent(
      Seq((3, "c")).toDF("id", "s"), "appA", 4L)))

  inputs.foreach { case (name, input) =>
    test(s"after $name, a fresh handle's first commit mirrors what a warm handle's does") {
      val root = tmpDir("dlm-cold-parity")
      val t = new VersionedTable(spark, root)
      t.append(Seq((1, "a"), (2, "b")).toDF("id", "s").coalesce(1)) // v0
      input(t) // v1
      def next(i: Int): DataFrame = Seq((i, "n")).toDF("id", "s")
        .select(col("id").cast(t.schema("id").dataType).as("id"), col("s"))
      val warm = t.append(next(10))
      val cold = new VersionedTable(spark, root).append(next(11))
      assert(cold == warm + 1)
      assert(actions(root, cold) == actions(root, warm))
    }
  }
}
