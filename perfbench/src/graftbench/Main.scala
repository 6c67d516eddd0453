package graftbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload pass: set-up, a closed loop of timed calls for the pass's
  * time budget, output checks outside the timed sections. */
trait Workload {
  def run(ctx: Ctx): Result
}

/** What a pass reports: end-to-end metrics (every name in [[Main.endToEnd]])
  * and, when traced, per-layer metrics (names from [[Layers.all]]). */
final case class Result(e2e: Metrics, layers: Metrics)

/** Per-pass context: the session, the seeded inputs' scale, the time budget,
  * the call/failure ledger and (when traced) the listener and spans. */
final class Ctx(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val scale: Double,
    val traced: Boolean,
    val work: Path,
    val cores: Int) {
  val listener: Option[JobListener] =
    if (traced) Some(new JobListener(spark)) else None
  val spans = new Spans(s"$workload-seed$seed-${if (traced) "traced" else "untraced"}")
  private var attempted = 0L
  private val failedCalls = mutable.LinkedHashMap.empty[Long, String]
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole process (every thread) spent in the latest
    * successful call: its cost, which other load on the host barely moves. */
  var lastCpuS = 0.0

  def attempts: Long = attempted
  def failures: Long = failedCalls.size.toLong

  def dir(name: String): String = work.resolve(name).toString

  /** Runs one timed call: counts it as attempted and marks it failed when it
    * throws. Returns the value and wall seconds, or None on failure. */
  def call[A](name: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try {
      val v = spans(name)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      lastCpuS = (os.getProcessCpuTime - c0) / 1e9
      System.err.println(f"[graftbench] call #$attempted $name: $secs%.3f s, $lastCpuS%.3f cpu-s")
      Some((v, secs))
    } catch {
      case NonFatal(e) =>
        fail(s"$name threw: $e")
        e.printStackTrace()
        None
    }
  }

  /** An output check on the latest call; a false check fails that call. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def fail(what: String): Unit = {
    System.err.println(s"[graftbench] FAILED call #$attempted: $what")
    failedCalls.getOrElseUpdate(attempted, what)
  }

  /** Listener jobs started while `body` ran (empty when untraced). */
  def jobsOf[A](body: => A): (A, Seq[JobRec]) = listener match {
    case Some(l) =>
      val m = l.mark()
      val v = body
      (v, l.since(m))
    case None => (body, Nil)
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Main {
  /** End-to-end metric names and units; every workload reports each. The
    * tail (`call_s.tail`) is reported per layer: a run has too few calls for
    * a tail steady enough to gate on. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "call_s.p50" -> "s", "call_cpu_s.p50" -> "s")

  val workloads: Map[String, Workload] = Map("cdc_hourly" -> CdcHourly, "stream_drops" -> StreamDrops)

  private def usage(): Nothing = {
    System.err.println("usage: graftbench.Main --workload <" + workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> [--scale <f>] [--work <dir>] [--out <dir>] [--baseline <file>]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    val name = a.getOrElse("workload", usage())
    val wl = workloads.getOrElse(name, usage())
    val seed = a.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = a.get("seconds").map(_.toDouble).getOrElse(usage())
    val traced = a.getOrElse("trace", "0") == "1"
    val scale = a.get("scale").map(_.toDouble).getOrElse(1.0)
    val root = Paths.get(a.getOrElse("work", ".bench_work")).toAbsolutePath
    val out = Paths.get(a.getOrElse("out", ".bench_out")).toAbsolutePath
    // an untraced run appends its call_s.p50 to the baseline file; a traced
    // run divides its own by the median of those records. Without records
    // the ratio reads 0: a second, untraced run inside a traced one would not
    // fit the time limit of a run.
    val baseline = a.get("baseline").map(Paths.get(_).toAbsolutePath)
    val recorded = baseline.filter(Files.exists(_)).toSeq
      .flatMap(f => Files.readAllLines(f).asScala.map(_.trim.toDouble))
    val work = root.resolve(s"$name-seed$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    val probeBefore = HostProbe()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, name, seed, seconds, scale, traced, work.resolve("pass"), cores)
    ctx.listener.foreach(spark.sparkContext.addSparkListener)
    val r =
      try wl.run(ctx)
      finally {
        ctx.listener.foreach(spark.sparkContext.removeSparkListener)
        if (traced) {
          val f = out.resolve(s"spans-$name-seed$seed.json")
          ctx.spans.write(f)
          println(s"# spans written to $f")
        }
        spark.stop()
      }
    val probeAfter = HostProbe()
    println(f"# host.probe_s before=$probeBefore%.4f after=$probeAfter%.4f")
    Disk.deleteTree(work)

    val metrics =
      if (!traced) {
        r.e2e("setup_s", "s") = sessionS + r.e2e.get("setup_s").get
        if (ctx.failures == 0) baseline.foreach { f =>
          Files.createDirectories(f.getParent)
          Files.writeString(f, s"${r.e2e.get("call_s.p50").get}\n", StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
        r.e2e
      } else {
        val m = r.layers
        m("call_s.tail", "s") = r.e2e.get("call_s.tail").get
        m("trace.overhead_ratio", "ratio") =
          if (recorded.isEmpty) 0.0 else r.e2e.get("call_s.p50").get / Stats.median(recorded)
        println(s"# trace.overhead_ratio over ${recorded.size} untraced runs")
        m("host.probe_s", "s") = (probeBefore + probeAfter) / 2
        m
      }
    val attempted = ctx.attempts
    val failed = ctx.failures
    val names = if (traced) Layers.all else endToEnd
    // a layer the workload bypasses reads 0; every end-to-end metric is required
    names.filterNot { case (n, _) => metrics.get(n).isDefined }.foreach { case (n, u) =>
      require(traced, s"end-to-end metric $n was not measured")
      metrics(n, u) = 0.0
    }
    val body = names.map { case (n, u) =>
      s""""${Json.esc(n)}": {"value": ${Json.num(metrics.get(n).get)}, "unit": "${Json.esc(u)}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(attempted, 1L)}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(0)
  }
}
