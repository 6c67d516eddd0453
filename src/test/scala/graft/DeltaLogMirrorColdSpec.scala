package graft

import com.fasterxml.jackson.databind.ObjectMapper

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
}
