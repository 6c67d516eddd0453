package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input generator. Every value is a pure function of
  * (seed, round, key), so one seed always yields the same files. Shapes
  * follow the TPC-H-style fixture tables `customer` and `orders`, with a
  * bigint `ver` delta column and primary keys unique by construction, plus
  * `events` slices and the document corpus. `scale` multiplies every row
  * count (1.0 = the sf0.1 fixture sizes). */
final class Gen(spark: SparkSession, seed: Long, scale: Double) {
  def n(full: Long): Long = math.max(1L, math.round(full * scale))

  private def h(salt: String, key: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: key): _*)
  private def u(salt: String, mod: Long, key: Column*): Column = pmod(h(salt, key: _*), lit(mod))
  private def pick(values: Seq[String], salt: String, key: Column*): Column =
    element_at(typedLit(values), (u(salt, values.size.toLong, key: _*) + 1).cast("int"))
  private def money(salt: String, key: Column*): Column = u(salt, 10000000L, key: _*) / 100.0
  private def ts(salt: String, key: Column*): Column =
    timestamp_seconds(lit(1704067200L) + u(salt, 31536000L, key: _*))
  /** Initial delta-column values: in [1, 1e9). Round r writes ver ≥ r·1e9. */
  private def ver0(key: Column): Column = u("ver", 999999999L, key) + 1

  private def keys(count: Long): DataFrame = spark.range(1, count + 1).withColumnRenamed("id", "k")

  val fullRows: Map[String, Long] = Map("customer" -> 15000L, "orders" -> 150000L, "documents" -> 5000L)

  def rows(table: String): Long = n(fullRows(table))

  /** The initial rows of `customer` or `orders`, with `ver`. */
  def table(name: String): DataFrame = name match {
    case "customer" => customerRows(keys(rows("customer")), lit(0)).withColumn("ver", ver0(col("c_custkey")))
    case "orders" => orders(keys(rows("orders")), lit(0)).withColumn("ver", ver0(col("o_orderkey")))
  }

  private def customerRows(keys: DataFrame, round: Column): DataFrame = {
    val k = col("k")
    keys.select(k.as("c_custkey"),
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
      u("cn", 25, k).cast("int").as("c_nationkey"), money("ca", k, round).as("c_acctbal"),
      pick(Gen.segments, "cm", k).as("c_mktsegment"))
  }

  /** Orders rows for keys `k` with payload drawn at `round`. */
  private def orders(keys: DataFrame, round: Column): DataFrame = {
    val k = col("k")
    val p = orderPayload(k, round).toMap
    keys.select(k.as("o_orderkey"), (u("oc", rows("customer"), k) + 1).as("o_custkey"),
      p("o_orderstatus").as("o_orderstatus"), p("o_totalprice").as("o_totalprice"),
      ts("od", k).as("o_orderdate"), p("o_orderpriority").as("o_orderpriority"))
  }

  /** The order columns a change round rewrites, drawn at `round`. */
  private def orderPayload(k: Column, round: Column): Seq[(String, Column)] = Seq(
    "o_orderstatus" -> pick(Seq("F", "O", "P"), "os", k, round),
    "o_totalprice" -> money("ot", k, round),
    "o_orderpriority" -> pick(Gen.priorities, "op", k, round))

  def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** Writes `df` as exactly one parquet file at `file` (stream drops must
    * land as one file each), via a staging dir next to it. */
  def writeOneFile(df: DataFrame, staging: String, file: Path): Unit = {
    write(df.coalesce(1), staging)
    val part = Disk.children(Paths.get(staging)).find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(file.getParent)
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Disk.deleteTree(Paths.get(staging))
  }

  // ------------------------------------------------------------ CDC rounds

  /** Planned change counts of one round. */
  final case class Plan(updates: Long, inserts: Long, deletes: Long, strange: Long, changedBytes: Long)

  /** Round `r`'s source snapshot of `orders`: `prev` with ~1% updates
    * (ver advances), ~0.2% deletes, ~0.2% inserts from `nextKey`, and,
    * when `restore`, ~50 rows restored "from backup" (payload changes, ver
    * moves back by one). Unchanged rounds are the caller's: they reuse the
    * previous snapshot. */
  def ordersRound(prev: String, r: Int, restore: Boolean, nextKey: Long, out: String,
      changes: Option[String]): Plan =
    changeRound(prev, "o_orderkey", orderPayload, orders, r, restore, nextKey, n(300), out, changes)

  /** Drop `r` of the `customer` stream: ~1% updates, ~0.2% inserts and
    * deletes. */
  def customerRound(prev: String, r: Int, nextKey: Long, out: String): Plan =
    changeRound(prev, "c_custkey", (k, round) => Seq("c_acctbal" -> money("ca", k, round)),
      (keys, round) => customerRows(keys, round), r, restore = false, nextKey, n(30), out, None)

  /** Writes `out` = `prev` with the round's changes; with `changes`, also
    * the changed rows alone (their bytes are write_amp's denominator). */
  private def changeRound(prev: String, pkName: String, payload: (Column, Column) => Seq[(String, Column)],
      insertRows: (DataFrame, Column) => DataFrame, r: Int, restore: Boolean, nextKey: Long,
      inserts: Long, out: String, changes: Option[String]): Plan = {
    val pk = col(pkName)
    val bucket = u("chg", 30000L, pk, lit(r))
    val kind = when(bucket < 60, "d").when(bucket < 360, "u")
      .when(lit(restore) && bucket < 370, "s").otherwise("k")
    val moved = col("__kind").isin("u", "s")
    val obs = org.apache.spark.sql.Observation()
    val kept = payload(pk, lit(r)).foldLeft(spark.read.parquet(prev).withColumn("__kind", kind)) {
      case (df, (c, v)) => df.withColumn(c, when(moved, v).otherwise(col(c)))
    }.withColumn("ver", when(col("__kind") === "u", lit(r * 1000000000L) + u("uv", 999999999L, pk))
        .when(col("__kind") === "s", col("ver") - 1).otherwise(col("ver")))
      .observe(obs, count(when(col("__kind") === "u", 1)).as("u"),
        count(when(col("__kind") === "s", 1)).as("s"), count(when(col("__kind") === "d", 1)).as("d"))
      .filter(col("__kind") =!= "d")
    val inserted = insertRows(spark.range(nextKey, nextKey + inserts).withColumnRenamed("id", "k"), lit(r))
      .withColumn("ver", lit(r * 1000000000L) + u("iv", 999999999L, pk))
      .withColumn("__kind", lit("i"))
    val all = kept.unionByName(inserted)
    write(all.drop("__kind"), out)
    val o = obs.get
    val bytes = changes.map { c =>
      write(all.filter(col("__kind") =!= "k").drop("__kind"), c)
      Disk.bytes(Paths.get(c))
    }.getOrElse(0L)
    Plan(o("u").asInstanceOf[Long], inserts, o("d").asInstanceOf[Long], o("s").asInstanceOf[Long], bytes)
  }

  /** Slice `i` (0-based) of `events`, `count` rows, with the 60-bit user
    * hash `h` the HLL maintainer sketches. */
  def eventsSlice(i: Int, count: Long): DataFrame = {
    val k = col("k")
    spark.range(i * count + 1, (i + 1) * count + 1).withColumnRenamed("id", "k")
      .select(k.as("event_id"), u("eu", 1500, k).as("user_id"), pick(Gen.eventTypes, "ey", k).as("event_type"))
      .withColumn("h", expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
  }
}

object Gen {
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val eventTypes = Seq("view", "click", "signup", "purchase", "error")
}

/** Seeded text corpus: base documents over a 4000-word letters-only
  * vocabulary, plus exact copies (case and whitespace variants of an
  * earlier document), near copies (one token replaced) and excerpts (the
  * first 92%). Copies sit far above every similarity threshold
  * the dedup operators use, unrelated documents far below. */
object Corpus {
  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val langs = Seq("en", "de", "fr", "es", "zh")

  def vocab(seed: Long): IndexedSeq[String] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 4000)
      words += Seq.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString
    words.toIndexedSeq
  }

  /** Normalized text, as the engine's fingerprint sees it. */
  def normalize(s: String): String = s.replaceAll("\\s+", " ").trim.toLowerCase

  /** Documents with ids from `firstId`; `earlier` are base token lists that
    * copies may draw from (besides the ones generated here). Returns the
    * documents and the base token lists generated. */
  def batch(seed: Long, salt: Long, count: Int, firstId: Long,
      earlier: IndexedSeq[IndexedSeq[String]]): (Seq[Doc], IndexedSeq[IndexedSeq[String]]) = {
    val words = vocab(seed)
    val rng = new java.util.SplittableRandom(seed * 1000003L + salt)
    val bases = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val docs = (0 until count).map { i =>
      val pool = earlier.size + bases.size
      val kind = if (pool < 20) 0 else rng.nextInt(100)
      def source(): IndexedSeq[String] = {
        val j = rng.nextInt(pool)
        if (j < earlier.size) earlier(j) else bases(j - earlier.size)
      }
      val text =
        if (kind < 62) {
          val toks = IndexedSeq.fill(100 + rng.nextInt(40))(words(rng.nextInt(words.size)))
          bases += toks
          toks.mkString(" ")
        } else if (kind < 74) {
          val toks = source()
          (toks.head.capitalize +: toks.tail).mkString(if (rng.nextBoolean()) "  " else " ") + " "
        } else if (kind < 88) {
          val toks = source()
          val at = rng.nextInt(toks.size)
          var w = toks(at)
          while (w == toks(at)) w = words(rng.nextInt(words.size))
          toks.updated(at, w).mkString(" ")
        } else {
          val toks = source()
          toks.take((toks.size * 0.92).toInt).mkString(" ")
        }
      Doc(firstId + i, text, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}")
    }
    (docs, bases.toIndexedSeq)
  }

  def generate(seed: Long, count: Int): Seq[Doc] = batch(seed, 0L, count, 1L, IndexedSeq.empty)._1
}
