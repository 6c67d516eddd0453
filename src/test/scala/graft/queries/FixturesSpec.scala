package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkSuite

/** `Fixtures.pq` caches inferred fixture schemas; a path rewritten with a
  * different schema must be inferred again, not served the cached one. */
class FixturesSpec extends SparkSuite {
  import spark.implicits._

  /** Write `df` as ONE parquet file at `dest` (replacing what is there). */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dest: File): Unit = {
    val staging = tmpDir("fixtures-stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("pq re-infers the schema of a path rewritten in the same JVM") {
    val f = new File(tmpDir("fixtures-pq"), "t.parquet")
    writeFile(Seq((1L, "a")).toDF("id", "name"), f)
    assert(Fixtures.pq(spark, f.getPath).columns.toSeq == Seq("id", "name"))
    writeFile(Seq((1L, 2.5d, true)).toDF("id", "score", "flag"), f)
    val df = Fixtures.pq(spark, f.getPath)
    assert(df.columns.toSeq == Seq("id", "score", "flag"))
    assert(df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))) ==
      Seq((1L, 2.5d, true)))
  }
}
