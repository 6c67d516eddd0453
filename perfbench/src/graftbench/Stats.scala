package graftbench

/** Order statistics over timing samples. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  val tailLevels: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest level in [[tailLevels]] with at least 10 samples beyond it;
    * the maximum (level 100) when there are too few samples for any of
    * them. Returns (level, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val level = tailLevels.find(p => xs.size * (1 - p / 100.0) >= 10).getOrElse(100.0)
    (level, percentile(xs, level))
  }
}

/** Metric name → (value, unit), in insertion order. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, value: Double): Unit = m(name) = (value, unit)
  def add(name: String, unit: String, value: Double): Unit =
    m(name) = (m.get(name).map(_._1).getOrElse(0.0) + value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_._1)
}

/** Order-independent digest of a relation: (rows, and two independent
  * sums of 64-bit row hashes). Equal digests mean equal multisets of rows
  * up to a hash collision; one aggregate per side instead of two EXCEPTs. */
object Digest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  def of(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(col)
    df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("h1"),
      sum(xxhash64(lit(1) +: cols: _*).cast("decimal(38,0)")).as("h2"))
  }

  def apply(df: DataFrame): Seq[Any] = of(df).collect().head.toSeq
}
