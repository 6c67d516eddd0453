package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining — item co-occurrence with
  * integer-exact support and lift, the recommendation/affinity shape a
  * retail-scale pipeline runs over billions of baskets.
  *
  * The scale hazard here is the per-basket pair fan-out: a basket of n
  * items contributes n·(n−1)/2 pairs, so one pathological basket (a
  * crawler cart, a batch-import order) can quadratically swamp an
  * executor. The house rule applies: a hard `maxBasketSize` budget whose
  * violation refuses loudly IN the pair projection rather than OOMing —
  * the intervalJoin/gapFill explode-cap discipline. */
object Baskets {

  /** Item-pair co-occurrence over (basket, item) rows: for each unordered
    * pair `item_a < item_b` seen together in at least `minPairCount`
    * baskets —
    *
    *  - `pair_cnt`: baskets containing both
    *  - `cnt_a`, `cnt_b`: baskets containing each item
    *  - `support_permille` = pair_cnt·1000 DIV n_baskets
    *  - `lift_permille` = pair_cnt·n_baskets·1000 DIV (cnt_a·cnt_b) —
    *    1000 = independence, >1000 = affinity; evaluated in
    *    DECIMAL(38,0) so the triple product cannot overflow a BIGINT at
    *    any realistic scale
    *
    * Shape at scale: duplicates collapse in ONE map-side-combinable
    * distinct of (basket, item); pairs come from a self-equi-join keyed
    * by basket (shuffle on the basket key, never a cartesian — AQE handles
    * basket-count skew); item counts and the basket total are combinable
    * aggregates, and the per-item counts join back BROADCAST (the item
    * dimension is vocabulary-sized, not corpus-sized). Baskets larger
    * than `maxBasketSize` refuse loudly before the pair join can fan
    * out. */
  def cooccurrence(
      df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L, maxBasketSize: Int = 256,
      packPairKeys: Boolean = false): DataFrame = {
    val (pairs, items, totals) =
      cooccurrenceState(df, basketCol, itemCol, maxBasketSize, packPairKeys)
    cooccurrenceOf(pairs, items, totals, minPairCount)
  }

  /** The PERSISTED form of [[cooccurrence]]: three relations that together
    * are the exact sufficient statistic for the support/lift report —
    * pairs (item_a, item_b, cnt), items (item, cnt), totals (n_baskets,
    * one row). All three are ADDITIVE (fold = [[cooccurrenceFold]]):
    * commutative and order-free, but NOT idempotent — the count-min/
    * quantile-histogram replay class, so replay protection is the
    * ingest's `txnApplied` job. CONTRACT: each batch must consist of
    * WHOLE, NEW baskets — a basket split across batches would undercount
    * its cross-batch pairs, and the state (deliberately) does not retain
    * basket ids to check against; feed it from a basket-complete CDC
    * stream. */
  /** `packPairKeys` — an EXPLICIT int32-ids contract flag (guide §2.3,
    * narrower shuffle keys): when the caller can promise every item id
    * is a non-negative signed 32-bit value (0 ≤ id < 2³¹), the basket self-join
    * carries the item as an INT instead of a LONG and the pair aggregate
    * shuffles ONE packed long key (item_a·2³² | item_b) instead of two
    * long columns — about a third off the pair-agg shuffle bytes, the
    * engine's largest shuffle per input byte. The contract is enforced
    * IN-PLAN: an id outside [0, 2³¹) refuses loudly (raise_error) before
    * any pair forms — never silent corruption. Output is bit-identical to
    * the unpacked path (the packing is a bijection on in-contract pairs;
    * unpacked values cast back to the item column's type). Default OFF:
    * arbitrary (negative, 64-bit, non-integral) ids take the general
    * path. */
  def cooccurrenceState(
      df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int = 256,
      packPairKeys: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    require(maxBasketSize >= 2 && maxBasketSize <= 65536,
      s"maxBasketSize must be in [2, 65536], got $maxBasketSize")
    require(!df.columns.exists(_.startsWith("__")),
      "cooccurrence reserves __-prefixed column names")
    val bi = df.filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    // the fan-out budget rides the basket-size aggregate: a basket past
    // the cap refuses before the self-join replicates it quadratically
    val sized = bi
      .withColumn("__bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("__b")))
      .withColumn("__i",
        when(col("__bsz") > maxBasketSize,
          raise_error(concat(lit("graft baskets: basket "),
            col("__b").cast("string"), lit(" has "),
            col("__bsz").cast("string"),
            lit(s" distinct items (cap $maxBasketSize) — a pathological " +
              "basket would fan out quadratically; filter it upstream or " +
              "raise maxBasketSize"))))
          .otherwise(col("__i")))
      .select("__b", "__i")
    val totals = bi.select(col("__b")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val items = bi.groupBy(col("__i").as("item")).agg(count(lit(1)).as("cnt"))
    val pairs = if (!packPairKeys) {
      val a = sized.select(col("__b"), col("__i").as("item_a"))
      val b = sized.select(col("__b"), col("__i").as("item_b"))
      a.join(b, Seq("__b"))
        .filter(col("item_a") < col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("cnt"))
    } else {
      val itemType = sized.schema("__i").dataType
      require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(itemType),
        s"packPairKeys requires an integral item column, got ${itemType.simpleString}")
      // in-plan contract guard: never a silent wrong pair — an id outside
      // unsigned int32 refuses before the join can fan it out
      val g = when(col("__i").cast("long") < 0L ||
          col("__i").cast("long") >= (1L << 31),
        raise_error(concat(
          lit("graft baskets: packPairKeys requires item ids in [0, 2^31); got "),
          col("__i").cast("string"))))
        .otherwise(col("__i").cast("int"))
      val packed = sized.select(col("__b"), g.as("__ii"))
      val a = packed.select(col("__b"), col("__ii").as("ia"))
      val b = packed.select(col("__b"), col("__ii").as("ib"))
      a.join(b, Seq("__b"))
        .filter(col("ia") < col("ib"))
        .select(shiftleft(col("ia").cast("long"), 32)
          .bitwiseOR(col("ib").cast("long")).as("__pk"))
        .groupBy("__pk").agg(count(lit(1)).as("cnt"))
        .select(shiftright(col("__pk"), 32).cast(itemType).as("item_a"),
          col("__pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(itemType).as("item_b"),
          col("cnt"))
    }
    (pairs, items, totals)
  }

  private def requireCoState(
      pairs: DataFrame, items: DataFrame, totals: DataFrame, op: String): Unit = {
    require(pairs.columns.toSeq == Seq("item_a", "item_b", "cnt"),
      s"$op expects pairs (item_a, item_b, cnt), got ${pairs.columns.mkString(", ")}")
    require(items.columns.toSeq == Seq("item", "cnt"),
      s"$op expects items (item, cnt), got ${items.columns.mkString(", ")}")
    require(totals.columns.toSeq == Seq("n_baskets"),
      s"$op expects totals (n_baskets), got ${totals.columns.mkString(", ")}")
  }

  /** Fold a batch's state into a persisted one: counts ADD per key in all
    * three relations — tiny aggregates over the pair/item vocabularies,
    * never the basket corpus. Same contract and replay class as
    * [[cooccurrenceState]]. */
  def cooccurrenceFold(
      pairs: DataFrame, items: DataFrame, totals: DataFrame,
      batchPairs: DataFrame, batchItems: DataFrame, batchTotals: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    requireCoState(pairs, items, totals, "cooccurrenceFold")
    requireCoState(batchPairs, batchItems, batchTotals, "cooccurrenceFold (batch)")
    (pairs.unionByName(batchPairs)
        .groupBy("item_a", "item_b").agg(sum("cnt").as("cnt")),
      items.unionByName(batchItems)
        .groupBy("item").agg(sum("cnt").as("cnt")),
      totals.unionByName(batchTotals)
        .agg(sum("n_baskets").as("n_baskets")))
  }

  /** Serve the support/lift report from a persisted state — the
    * [[cooccurrence]] output with no re-scan of any basket. */
  def cooccurrenceOf(
      pairs: DataFrame, items: DataFrame, totals: DataFrame,
      minPairCount: Long = 2L): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    requireCoState(pairs, items, totals, "cooccurrenceOf")
    pairs.filter(col("cnt") >= minPairCount)
      .withColumnRenamed("cnt", "pair_cnt")
      .join(broadcast(items.select(col("item").as("item_a"), col("cnt").as("cnt_a"))),
        Seq("item_a"))
      .join(broadcast(items.select(col("item").as("item_b"), col("cnt").as("cnt_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(totals.select(col("n_baskets").as("__nb"))))
      .withColumn("support_permille", expr("pair_cnt * 1000 DIV __nb"))
      .withColumn("lift_permille",
        expr("CAST((CAST(pair_cnt AS DECIMAL(38,0)) * __nb * 1000) " +
          "DIV (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)"))
      .select(col("item_a"), col("item_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"), col("support_permille"),
        col("lift_permille"))
  }
}
