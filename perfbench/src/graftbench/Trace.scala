package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job as seen by [[JobListener]]: its label, interval and the
  * summed metrics of the tasks of the stages it submitted. */
final class JobRec(val id: Int, val desc: String, val tag: String, val start: Long) {
  var end: Long = start
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var spill = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
}

/** Benchmark-side listener: records every job with the
  * `spark.job.description` the engine set and the benchmark's own
  * [[JobListener.TagKey]] local property. Reads only what Spark already
  * reports; the program under test is not touched. */
final class JobListener(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
    val r = new JobRec(e.jobId, prop("spark.job.description"), prop(JobListener.TagKey), e.time)
    jobs += r
    byId(e.jobId) = r
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRows += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Position after every job delivered so far. */
  def mark(): Int = { org.apache.spark.graftbench.Settle(spark.sparkContext); synchronized(jobs.size) }

  /** Jobs started after `mark`, once all their events have arrived. */
  def since(mark: Int): Seq[JobRec] = {
    org.apache.spark.graftbench.Settle(spark.sparkContext)
    synchronized(jobs.slice(mark, jobs.size).toList)
  }
}

object JobListener {
  /** Local property the benchmark sets to tag jobs with the table they
    * belong to (per-table attribution inside `Graft.syncAll`). */
  val TagKey = "graftbench.tag"
}

/** Sums over a set of jobs. */
final case class JobAgg(jobs: Seq[JobRec]) {
  def count: Int = jobs.size
  def tasks: Long = jobs.map(_.tasks).sum
  def taskS: Double = jobs.map(_.taskMs).sum / 1e3
  def gcS: Double = jobs.map(_.gcMs).sum / 1e3
  def spill: Long = jobs.map(_.spill).sum
  def shuffleWrite: Long = jobs.map(_.shuffleWrite).sum
  def inputBytes: Long = jobs.map(_.inputBytes).sum
  def inputRows: Long = jobs.map(_.inputRows).sum
  def outputBytes: Long = jobs.map(_.outputBytes).sum
  /** Sum of job intervals, in seconds. */
  def sumS: Double = jobs.map(j => j.end - j.start).sum / 1e3
  /** Length of the union of job intervals, in seconds. */
  def unionS: Double = {
    val iv = jobs.map(j => (j.start, j.end)).sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total / 1e3
  }

  /** The spark.* per-layer metrics of these jobs. */
  def report(m: Metrics): Unit = {
    m("spark.jobs", "count") = count
    m("spark.tasks", "count") = tasks
    m("spark.task_s", "s") = taskS
    m("spark.gc_s", "s") = gcS
    m("spark.spill_bytes", "bytes") = spill
    m("spark.shuffle_write_bytes", "bytes") = shuffleWrite
    m("spark.input_bytes", "bytes") = inputBytes
    m("spark.output_bytes", "bytes") = outputBytes
  }
}

/** In-memory spans around the benchmark's calls into graft; written as one
  * JSON file at exit. */
final class Spans(runId: String) {
  private final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  def write(path: Path): Unit = {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val rows = spans.map { s =>
      val dur = s.end - s.start
      f"""{"id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},"run":"${Json.esc(runId)}",""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${(dur - childS.getOrElse(s.id, 0L)) / 1e9}%.6f}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Hadoop FileSystem storage statistics, summed over every scheme. */
final case class FsSnap(bytesWritten: Long, writeOps: Long, readOps: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(bytesWritten - o.bytesWritten, writeOps - o.writeOps, readOps - o.readOps)
}

object FsSnap {
  def now(): FsSnap = {
    val all = org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE.iterator().asScala.toList
    def sum(key: String) = all.map(s => Option(s.getLong(key)).map(_.longValue).getOrElse(0L)).sum
    FsSnap(sum("bytesWritten"), sum("writeOps"), sum("readOps") + sum("largeReadOps"))
  }
}

/** On-disk accounting of a directory tree. */
object Disk {
  private def files(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def bytes(p: Path): Long = files(p).map(Files.size).sum
  def fileCount(p: Path): Long = files(p).size.toLong
  def filesNewerThan(p: Path, epochMs: Long): Long =
    files(p).count(f => Files.getLastModifiedTime(f).toMillis >= epochMs).toLong
  def children(p: Path): List[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}

/** Constant-work single-thread CPU probe: the same work on a quiet host
  * takes the same time, so a slow reading marks a contended run. */
object HostProbe {
  def apply(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) System.err.println("probe degenerate")
    (System.nanoTime() - t0) / 1e9
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
