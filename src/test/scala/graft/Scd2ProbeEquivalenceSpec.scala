package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.scd2.Synchronizer
import graft.sources.DataFrameSource

/** The delta load's probes against their definitions, in the style of
  * Scd2PropertySpec: randomized rounds mixing updates, inserts, deletes
  * and backward restores, plus one null-pk row, under the inline path,
  * the fallback re-scan (`inlineJoinThreshold = 0`) and
  * `noComplexEntriesLoad`. Each round recomputes, from the run's persisted
  * versions,
  *
  *   strange = ((S ∖ L) ∖ D1).pk   and   deletes = L.pk ∖ L'.pk (null-safe)
  *
  * with S = primary_keys_ts, L / L' = latest_pk_version before / after the
  * run and D1 = the run's step-2 delta_1, and checks the LoadResult
  * against them. */
class Scd2ProbeEquivalenceSpec extends SparkSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("payload", StringType),
    StructField("ver", LongType)))

  private type Model = Map[Option[Long], (String, Long)]

  private def toDf(model: Model): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      model.toSeq.map { case (id, (p, v)) => Row(id.orNull, p, v) }, 4), schema)

  /** (pk, ver) tuples of a pk snapshot, null pk as None. */
  private def tuples(df: DataFrame): Set[(Option[Long], Long)] =
    df.select("id", "ver").collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toSet

  private val configs = Seq(
    "inline" -> WriteConfig(deltaCol = Some("ver")),
    "inlineJoinThreshold = 0" -> WriteConfig(deltaCol = Some("ver"), inlineJoinThreshold = 0L),
    "noComplexEntriesLoad" -> WriteConfig(deltaCol = Some("ver"), noComplexEntriesLoad = true))

  configs.foreach { case (name, cfg) =>
    test(s"strange and delete probes equal their definitions per round: $name") {
      val rnd = new Random(0x5EED + name.length)
      // the null-pk row never changes: a pk null-safe joins keep, and
      // using-column joins would not match
      var model: Model = (0L until 120L).map(id => Option(id) -> (s"p$id", 1L + id % 5)).toMap +
        (scala.None -> ("null-pk", 1L))
      var nextId = 120L
      val dest = tmpDir("graft-probe-eq")
      def sync() = new Synchronizer(spark, new DataFrameSource(toDf(model), Seq("id")), dest, cfg)
      sync().execute()

      (1 to 4).foreach { round =>
        val ver = 10L * round + 10L
        val keyed = model.keys.flatten.toSeq.sorted
        val deleted = keyed.filter(_ => rnd.nextDouble() < 0.05).toSet
        val touched = keyed.filterNot(deleted).filter(_ => rnd.nextDouble() < 0.15)
        model = model -- deleted.map(Option(_))
        touched.foreach { id =>
          val (p, v) = model(Some(id))
          model += Some(id) -> (
            // backward restore: payload changes, ver drops below its last value
            if (v > 1 && rnd.nextBoolean()) (s"$p-r$round", 1L + rnd.nextInt((v - 1).toInt))
            else (s"$p-u$round", ver))
        }
        (0 until 6).foreach { _ => model += Some(nextId) -> (s"n$nextId", ver); nextId += 1 }

        val s = sync()
        val lBefore = s.dest.latestPkVersion.requireVersion
        val d1Step2 = s.dest.delta1.latestVersion.map(_ + 1).getOrElse(0L)
        val r = s.execute() match {
          case d: LoadResult.DeltaLoad => d
          case other => fail(s"round $round: $other")
        }

        val sSnap = tuples(s.dest.primaryKeysTs.read())
        val l = tuples(s.dest.latestPkVersion.readVersion(lBefore))
        val lNext = tuples(s.dest.latestPkVersion.read()).map(_._1)
        val d1 = tuples(s.dest.delta1.readVersion(d1Step2)).map(_._1)
        val strange = (sSnap -- l).map(_._1) -- d1
        assert(r.strange == strange.size, s"round $round: strange")
        assert(r.deletes == (l.map(_._1) -- lNext).size, s"round $round: deletes")
        assert(r.deletes == deleted.size, s"round $round: deletes vs model")

        val cur = s.currentState().select("id", "payload", "ver").collect()
          .map(x => Option(x.get(0)).map(_.asInstanceOf[Long]) -> (x.getString(1), x.getLong(2))).toMap
        assert(cur == model, s"round $round: currentState != model " +
          s"(missing=${(model.keySet -- cur.keySet).take(5)}, extra=${(cur.keySet -- model.keySet).take(5)})")
        assert(s.checkConsistency().isEmpty, s"round $round: snapshot drift")
      }
    }
  }
}
