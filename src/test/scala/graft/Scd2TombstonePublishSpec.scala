package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.scd2.Synchronizer
import graft.sources.{DataFrameSource, ParquetSource}
import graft.store.{DeltaTable, ForeignDeltaTable, VersionedTable}

/** The delta load's last group: the tombstones are written beside step 4
  * as staged history files and published as the history's last version
  * only when there are any. Also the source resolved once per run, the
  * duplicate-pk guard on the inline path, and the staged restore of a
  * missing latest_pk_version. */
class Scd2TombstonePublishSpec extends SparkSuite {
  import spark.implicits._

  private val pk = Seq("id")
  private val cfg = WriteConfig(deltaCol = Some("ver"))

  private def rows(rs: (Long, String, Long)*): DataFrame = rs.toDF("id", "name", "ver")

  private def sync(dest: String, df: DataFrame): Synchronizer =
    new Synchronizer(spark, new DataFrameSource(df, pk), dest, cfg)

  private def history(s: Synchronizer): VersionedTable = s.dest.delta.asInstanceOf[VersionedTable]

  /** Entries of a table's data dir that no committed version names. */
  private def stagedLeftovers(tableRoot: String): Seq[String] =
    Option(new File(s"$tableRoot/data").list()).toSeq.flatten.filter(_.startsWith(".stage-"))

  private def deletedIds(s: Synchronizer): Set[Long] =
    s.dest.delta.read().filter(col(SystemCols.isDeleted)).select("id").as[Long].collect().toSet

  test("a crash after the tombstones are staged leaves no staged files and no history version") {
    val dest = tmpDir("graft-tomb-crash")
    sync(dest, rows((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))).execute()
    // a delete only: no delta_1 or strange append, so the tombstones are
    // the run's one history commit
    val sFail = sync(dest, rows((1L, "a", 1L), (2L, "b", 1L)))
    val before = history(sFail).requireVersion
    sFail.failpoint = p => if (p == "after_step4") throw new RuntimeException("boom")
    intercept[RuntimeException](sFail.execute())
    assert(history(sFail).requireVersion == before, "a tombstone version was published")
    assert(stagedLeftovers(s"$dest/delta").isEmpty)
    assert(deletedIds(sFail).isEmpty)

    val retry = sync(dest, rows((1L, "a", 1L), (2L, "b", 1L)))
    assert(retry.execute() == LoadResult.DeltaLoad(0, 0, 1, dirty = false))
    assert(history(retry).requireVersion == before + 1)
    assert(deletedIds(retry) == Set(3L))
    assert(stagedLeftovers(s"$dest/delta").isEmpty)
    assert(retry.checkConsistency().isEmpty)
  }

  test("a sync without deletes publishes no tombstone version and keeps no staged files") {
    val dest = tmpDir("graft-tomb-none")
    sync(dest, rows((1L, "a", 1L), (2L, "b", 1L))).execute()
    val s = sync(dest, rows((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 2L)))
    val before = history(s).requireVersion
    assert(s.execute() == LoadResult.DeltaLoad(2, 0, 0, dirty = false))
    assert(history(s).requireVersion == before + 1) // the delta_1 append only
    assert(stagedLeftovers(s"$dest/delta").isEmpty)
    assert(new File(s"$dest/delta/data").list().length == history(s).dirCount)
    assert(deletedIds(s).isEmpty)
  }

  test("a delete on a foreign destination lands in the last _delta_log commit") {
    val root = tmpDir("graft-tomb-foreign")
    val cfgF = WriteConfig(deltaCol = Some("modified"))
    def src(rs: (Long, String, Long)*) =
      new DataFrameSource(rs.toDF("id", "name", "modified"), pks = pk)
    Graft.sync(spark, src((1L, "ann", 10L), (2L, "bob", 10L), (3L, "cara", 10L)), root, cfgF)
    // strip to a pure Delta table: the mirror _delta_log alone
    Seq("delta/_graft_log", "delta_load", "meta", "log").foreach(p => rmTree(new File(s"$root/$p")))
    assert(DeltaTable.isDeltaTable(spark, s"$root/delta"))

    // update bob, delete cara
    val w = Graft.writer(spark, src((1L, "ann", 10L), (2L, "bob2", 20L)), root, cfgF)
    val hist = w.dest.delta.asInstanceOf[ForeignDeltaTable]
    val before = DeltaTable.snapshot(spark, s"$root/delta").version
    assert(w.execute() == LoadResult.DeltaLoad(1, 0, 1, dirty = false))
    val last = DeltaTable.snapshot(spark, s"$root/delta").version
    assert(last == before + 2)
    def commit(v: Long) = hist.readCommit(v).select("id", SystemCols.isDeleted)
      .as[(Long, Boolean)].collect().toSet
    assert(commit(before + 1) == Set(2L -> false))
    assert(commit(last) == Set(3L -> true))

    // a sync without deletes leaves no uncommitted files behind
    val w2 = Graft.writer(spark, src((1L, "ann2", 30L), (2L, "bob2", 20L)), root, cfgF)
    assert(w2.execute() == LoadResult.DeltaLoad(1, 0, 0, dirty = false))
    assert(DeltaTable.snapshot(spark, s"$root/delta").version == last + 1)
    val logged = new File(s"$root/delta/_delta_log").listFiles().toSeq
      .filter(_.getName.endsWith(".json"))
      .map(f => scala.io.Source.fromFile(f)).flatMap(s => try s.mkString finally s.close())
      .mkString
    val dirs = Option(new File(s"$root/delta/graft_data").list()).toSeq.flatten
    assert(dirs.nonEmpty && dirs.forall(d => logged.contains(s"graft_data/$d/")),
      s"unreferenced graft_data dirs among $dirs")
  }

  test("execute() twice on one Synchronizer loads the rewritten source") {
    val src = tmpDir("graft-fresh-src")
    val dest = tmpDir("graft-fresh-dest")
    rows((1L, "a", 1L), (2L, "b", 1L)).write.mode("overwrite").parquet(src)
    val s = new Synchronizer(spark, new ParquetSource(src, pk), dest, cfg)
    assert(s.execute() == LoadResult.FullLoad(2))
    rows((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 2L)).write.mode("overwrite").parquet(src)
    assert(s.execute() == LoadResult.DeltaLoad(2, 0, 0, dirty = false))
    assert(s.currentState().select("id", "name").as[(Long, String)].collect().toSet ==
      Set(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(s.execute() == LoadResult.NoLoad)
  }

  /** The source of the failing run and the guard's error it must raise. */
  private val duplicated = Seq(
    // (3, 5) twice: a strange (pk, ver) tuple the probe collects twice
    "repeated strange pk" -> rows((1L, "a", 10L), (2L, "b", 20L), (3L, "x", 5L),
      (3L, "y", 5L), (4L, "d", 40L)),
    // (3, 30) is already in latest_pk_version; (3, 5) is strange, so pk 3
    // is probed once but fetched twice
    "source rows for 1 strange pk" -> rows((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (3L, "x", 5L), (4L, "d", 40L)))

  duplicated.foreach { case (error, df) =>
    test(s"a duplicated pk on the inline path fails the sync and rolls back: $error") {
      val dest = tmpDir("graft-dup-pk")
      val base = rows((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      sync(dest, base).execute()
      // a clean delta run first, so primary_keys_ts has content to restore
      assert(sync(dest, base.union(rows((4L, "d", 40L)))).execute() ==
        LoadResult.DeltaLoad(1, 0, 0, dirty = false))
      val s = sync(dest, df)
      val pkBefore = rowsOf(s.dest.latestPkVersion.read()).toSet
      val tsBefore = rowsOf(s.dest.primaryKeysTs.read()).toSet
      val e = intercept[IllegalStateException](s.execute())
      assert(e.getMessage.contains("primary-key contract") && e.getMessage.contains(error),
        e.getMessage)
      val after = sync(dest, df)
      assert(rowsOf(after.dest.latestPkVersion.read()).toSet == pkBefore)
      assert(rowsOf(after.dest.primaryKeysTs.read()).toSet == tsBefore)
    }
  }

  test("restoreLastPk creates latest_pk_version only when the restore has rows") {
    val dest = tmpDir("graft-restore-empty")
    sync(dest, rows((1L, "a", 1L), (2L, "b", 1L))).execute()
    val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      rows((0L, "", 0L)).schema)
    assert(sync(dest, empty).execute() == LoadResult.DeltaLoad(0, 0, 2, dirty = false))
    rmTree(new File(s"$dest/delta_load/latest_pk_version"))

    val s = sync(dest, empty)
    assert(!s.restoreLastPk()) // every row is deleted
    assert(!s.dest.latestPkVersion.exists)
    assert(stagedLeftovers(s"$dest/delta_load/latest_pk_version").isEmpty)

    // rows again: the restore publishes v0
    val s2 = sync(dest, rows((5L, "e", 2L)))
    assert(s2.execute() == LoadResult.FullLoad(1)) // no snapshot to restore → full load
    rmTree(new File(s"$dest/delta_load/latest_pk_version"))
    assert(s2.restoreLastPk())
    assert(s2.dest.latestPkVersion.requireVersion == 0L)
    assert(rowsOf(s2.dest.latestPkVersion.read()) == Seq(Seq(5L, 2L)))
  }

  private def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }
}
