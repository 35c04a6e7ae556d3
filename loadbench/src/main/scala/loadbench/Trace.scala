package loadbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.graftshim.GraftScheduler
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.exec.LoadListener

/** Small statistics and file-system helpers shared by the workloads. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Fs {
  /** Every regular file under `dir` (path relative to `dir` -> bytes).
    * Files that vanish mid-walk (Spark's cleaner removing shuffle files)
    * are skipped rather than failing the walk. */
  def files(dir: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    val base = dir.getAbsolutePath.length + 1
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory) walk(k)
        else { val n = k.length(); if (k.exists()) out(k.getAbsolutePath.substring(base)) = n }
      }
    }
    if (dir.isDirectory) walk(dir)
    out.toMap
  }
  def bytes(dir: File): Long = files(dir).values.sum
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
}

/** Records every Loader event with the moment it fired. The hook sees
  * `uploadedManifest` while the staged files still exist. */
final class EventLog(onManifest: (String, EventLog) => Unit) extends LoadListener {
  private val buf = mutable.ArrayBuffer.empty[(Long, String, Map[String, String])]
  override def onProgress(task: String, info: Map[String, String]): Unit = {
    buf.synchronized { buf += ((System.nanoTime(), task, info)) }
    if (task == "uploadedManifest") onManifest(info("path"), this)
  }
  def events: Seq[(Long, String, Map[String, String])] = buf.synchronized(buf.toList)
}

/** Per-layer tracing, built only for `--trace 1` runs. Spans are kept in
  * memory. Spark jobs are attributed to the open span by the job tag the
  * span sets (jobs started on other threads, such as a stream's, fall back
  * to the span that is open when their start event arrives); tasks follow
  * their job through the stage ids. Scans come from a
  * QueryExecutionListener. The listener bus is drained at both ends of a
  * span, so every event lands in the span it belongs to. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Acc {
    var jobs = 0; var tasks = 0L; var cpuNs = 0L; var shuffle = 0L; var spill = 0L
    val jobIv = mutable.ArrayBuffer.empty[(Long, Long)]
    var scans = 0; var scanFiles = 0L; var scanBytes = 0L
  }
  final case class Span(name: String, t0Ms: Long, t1Ms: Long, wallS: Double, acc: Acc)

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()
  @volatile private var openTag: String = null
  private val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(',').find(_.startsWith("lb:")))
      .getOrElse(openTag)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      if (tag != null) {
        val a = accs.get(tag)
        if (a != null) a.synchronized { a.jobs += 1 }
        jobTag.put(e.jobId, (tag, e.time))
        e.stageIds.foreach(stageTag.put(_, tag))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTag.remove(e.jobId)).foreach { case (tag, t0) =>
        Option(accs.get(tag)).foreach(a => a.synchronized { a.jobIv += ((t0, e.time)) })
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).flatMap(t => Option(accs.get(t))).foreach { a =>
        a.synchronized {
          a.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.shuffle += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  // The QueryExecutionListener only queues each execution; its plan is
  // walked on the benchmark's thread when the span closes, so the listener
  // bus (which the Loader itself drains after every body) stays light.
  private object Plans extends AdaptiveSparkPlanHelper
  private val queued = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val tag = openTag
      if (tag != null) queued.add((tag, qe))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private def foldScans(): Unit = {
    var next = queued.poll()
    while (next != null) {
      val (tag, qe) = next
      val a = accs.get(tag)
      a.scans += 1
      Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        a.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        a.scanBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }
      next = queued.poll()
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def span[A](name: String)(body: => A): A = {
    val tag = s"lb:$name:$next"
    next += 1
    GraftScheduler.drainListenerBus(sc)
    accs.put(tag, new Acc)
    openTag = tag
    sc.addJobTag(tag)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally {
      val wall = Stats.secs(n0); val t1 = System.currentTimeMillis()
      sc.removeJobTag(tag)
      GraftScheduler.drainListenerBus(sc)
      openTag = null
      foldScans()
      done += Span(name, t0, t1, wall, accs.get(tag))
    }
  }

  private def spans(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** Seconds of the span during which no Spark job of it was running. */
  private def driverS(s: Span): Double = {
    val iv = s.acc.jobIv.map { case (a, b) => (math.max(a, s.t0Ms), math.min(b, s.t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, s.wallS - covered / 1000.0)
  }

  /** The six per-span metrics, per occurrence of the span (medians for
    * times, means for counts). Zero when the workload never opens it. */
  def spanMetrics(name: String): Seq[(String, Double, String)] = {
    val ss = spans(name)
    Seq(
      (s"$name.jobs", Stats.mean(ss.map(_.acc.jobs.toDouble)), "count/op"),
      (s"$name.tasks", Stats.mean(ss.map(_.acc.tasks.toDouble)), "count/op"),
      (s"$name.executor_cpu_s", Stats.median(ss.map(_.acc.cpuNs / 1e9)), "s"),
      (s"$name.driver_s", Stats.median(ss.map(driverS)), "s"),
      (s"$name.shuffle_bytes", Stats.mean(ss.map(_.acc.shuffle.toDouble)), "bytes/op"),
      (s"$name.spill_bytes", Stats.mean(ss.map(_.acc.spill.toDouble)), "bytes/op"))
  }

  /** Files and bytes one read query scanned, averaged over the queries of
    * every `io.read` span. */
  def readScans: (Double, Double) = {
    val ss = spans("io.read")
    val q = ss.map(_.acc.scans).sum
    if (q == 0) (0.0, 0.0)
    else (ss.map(_.acc.scanFiles).sum.toDouble / q, ss.map(_.acc.scanBytes).sum.toDouble / q)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Runs `body` inside a span when tracing, bare otherwise, and returns
    * its wall seconds. The clock runs inside the span, so the listener-bus
    * drains at its ends are not counted. */
  def timed(t: Option[Tracer], name: String)(body: => Any): Double = {
    def run() = { val t0 = System.nanoTime(); body; Stats.secs(t0) }
    t.fold(run())(_.span(name)(run()))
  }
}
