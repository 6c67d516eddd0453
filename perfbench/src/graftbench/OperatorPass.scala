package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The per-layer measurement of `graft.operators.Dedup`, made by traced
  * `stream_drops` runs after their drops: one pass of the six dedup
  * operators, one call each, over a seeded corpus salted into 4 copies.
  * Every token of copy c gets the suffix `_c` and every id the offset
  * c × [[stride]], so duplicates never form across copies and each
  * operator's output is the same output 4 times over, once per copy. */
object OperatorPass {
  val copies = 4
  val stride = 10000000L
  /** Documents relative to the sf0.1 fixture's 5,000 (copies × this). */
  val relScale = 0.05
  private val idCols = Set("keep_id", "id_a", "id_b", "id", "doc_id", "cluster_id", "root")

  private def operators(docs: DataFrame, minhash: => DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "exact" -> (() => Dedup.exact(docs, "doc_id", "text").drop("fp")),
    "minhash_lsh" -> (() => Dedup.minhashLshPairs(docs, "doc_id", "text")),
    "ngram_jaccard" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
    "tfidf_cosine" -> (() => Dedup.tfidfCosinePairs(docs, "doc_id", "text")),
    "containment" -> (() => Dedup.containmentPairs(docs, "doc_id", "text")),
    "clusters" -> (() => Dedup.duplicateClusters(minhash)))

  /** True when `out` is one output repeated per copy: every row's ids lie
    * in one copy, and each distinct row (ids taken modulo the stride)
    * occurs equally often in every copy. */
  private def perCopyIdentical(out: DataFrame): Boolean = {
    val ids = out.columns.filter(idCols).toSeq
    val rest = out.columns.filterNot(idCols).toSeq
    val copyOf = ids.map(c => floor(col(c) / stride))
    val crossCopy = out.filter(copyOf.map(_ =!= copyOf.head).reduceOption(_ || _).getOrElse(lit(false)))
    val norm = out.select(ids.map(c => pmod(col(c), lit(stride)).as(c)) ++ rest.map(col) :+ copyOf.head.as("__copy"): _*)
    val keys = (ids ++ rest).map(col)
    val uneven = norm.groupBy(keys :+ col("__copy"): _*).count()
      .groupBy(keys: _*).agg(countDistinct("__copy").as("copies"), min("count").as("lo"), max("count").as("hi"))
      .filter(col("copies") =!= copies || col("lo") =!= col("hi"))
    crossCopy.isEmpty && uneven.isEmpty
  }

  /** Runs the pass and adds `operators.<o>.{wall_s,jobs,shuffle_bytes,rows_out}`
    * to `m`. Each operator call materializes its output; its checks run
    * after the call. Stops at the first failed call. */
  def apply(ctx: Ctx, m: Metrics): Unit = {
    val spark = ctx.spark
    val gen = new Gen(spark, ctx.seed, ctx.scale * relScale)
    val n = gen.rows("documents").toInt
    val corpus = Corpus.generate(ctx.seed, n)
    val distinctTexts = corpus.map(d => Corpus.normalize(d.text)).distinct.size
    val single = spark.createDataFrame(corpus.map(d => (d.id, d.text))).toDF("doc_id", "text")
    val salted = ctx.dir("salted")
    gen.write((0 until copies).map { c =>
      single.select((col("doc_id") + c * stride).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_" + c).as("text"))
    }.reduce(_ unionByName _), salted)
    val docs = spark.read.parquet(salted)

    var minhash: DataFrame = null
    var ok = true
    operators(docs, minhash).foreach { case (name, op) =>
      if (ok) {
        val (res, jobs) = ctx.jobsOf(ctx.call(name) {
          val out = op().localCheckpoint(true)
          (out, out.count())
        })
        res match {
          case None => ok = false
          case Some(((out, rows), secs)) =>
            if (name == "minhash_lsh") minhash = out
            ctx.check(rows > 0 && rows % copies == 0 && perCopyIdentical(out),
              s"$name over the salted corpus is not one output repeated per copy ($rows rows)")
            if (name == "exact")
              ctx.check(rows == copies.toLong * distinctTexts,
                s"exact found $rows distinct texts, planned ${copies * distinctTexts}")
            val a = JobAgg(jobs)
            m(s"operators.$name.wall_s", "s") = secs
            m(s"operators.$name.jobs", "count") = a.count
            m(s"operators.$name.shuffle_bytes", "bytes") = a.shuffleWrite
            m(s"operators.$name.rows_out", "count") = rows
        }
      }
    }
    Dedup.releaseIntermediates()
    println(s"# operators: ${copies * n} docs, one pass")
  }
}
