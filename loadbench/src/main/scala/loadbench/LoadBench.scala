package loadbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, its private work directory,
  * the workload seed and, for traced runs, the tracer. */
final case class Ctx(spark: SparkSession, work: File, seed: Long, cores: Int,
    tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  def log(msg: String): Unit = System.err.println(s"[loadbench] $msg")
}

/** One round of a closed loop: a load job (or AvailableNow run) and the
  * reader block issued after it. */
final case class Round(jobS: Double, readS: Double, rows: Long, inputBytes: Long,
    violations: Seq[String])

trait Workload {
  /** Rounds run before the timed phase: timed like the others but
    * reported on stderr only. */
  def warmup: Int
  /** Builds the seeded state under `dir`. Called several times in fresh
    * directories; the last state is the one the rounds run against. */
  def seed(dir: File): Unit
  def round(i: Int): Round
  /** Checks that run once after the timed phase. */
  def finish(): Seq[String]
  /** Bytes under the warehouse root / bytes of the live versions. */
  def spaceAmp: Double
  /** This workload's per-layer metrics (traced runs), over the timed
    * rounds `from` until the end. */
  def layers(from: Int): Seq[(String, Double, String)]
}

/** The load benchmark. One process per run: it builds a seeded state,
  * drives one workload as a closed loop of one client (warm-up rounds
  * first, then rounds for `--seconds`), checks every result, and prints
  * one JSON line as the last line of stdout.
  *
  *   loadbench.LoadBench --workload upsert_large|append_scan|curation_stream
  *     --seed N --seconds S --trace 0|1 --work DIR [--setup-reps K]
  */
object LoadBench {

  val Workloads = Seq("upsert_large", "append_scan", "curation_stream")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "input_mb_per_s" -> "MB/s",
    "job_p50_s" -> "s", "read_p50_s" -> "s", "space_amp" -> "ratio")

  val Spans = Seq("exec.add_body", "exec.load", "io.read", "streaming.run")

  /** The per-layer metrics of BENCHMARK.json, in order: the ones an
    * optimisation of the load path, the operators or the streaming run is
    * most likely to move. A traced run prints these on its result line,
    * which must fit a 2,000-character tail; every other layer metric it
    * gathers goes to stderr. A layer the workload never reaches reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "exec.add_body_s" -> "s", "exec.manifest_s" -> "s", "exec.cleanup_s" -> "s",
    "io.warehouse_load_s" -> "s", "io.staged_bytes" -> "bytes/job",
    "io.bytes_written" -> "bytes/job", "io.write_amp" -> "ratio", "io.live_files" -> "count",
    "io.versions_retained" -> "count", "io.read_files_scanned" -> "count/read",
    "io.read_bytes_scanned" -> "bytes/read",
    "operators.merge_s" -> "s", "operators.canonicalize_url_s" -> "s",
    "operators.boilerplate_scrub_s" -> "s", "operators.quality_gate_s" -> "s",
    "operators.decontam_s" -> "s", "operators.minhash_sig_s" -> "s",
    "operators.lsh_vs_store_s" -> "s", "operators.lsh_within_s" -> "s",
    "operators.lsh_candidates" -> "count/batch", "operators.lsh_useful_ratio" -> "ratio",
    "streaming.start_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "exec.load.jobs" -> "count/op", "exec.load.executor_cpu_s" -> "s",
    "exec.load.driver_s" -> "s", "io.read.jobs" -> "count/op",
    "streaming.run.jobs" -> "count/op", "streaming.run.executor_cpu_s" -> "s",
    "streaming.run.driver_s" -> "s", "trace.job_p50_s" -> "s")

  def round6(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = arg(args, "--workload").getOrElse("")
    if (!Workloads.contains(name)) {
      System.err.println(s"unknown workload '$name' (one of ${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val reps = arg(args, "--setup-reps").map(_.toInt).getOrElse(3)
    val work = new File(arg(args, "--work").getOrElse("loadbench-work")).getAbsoluteFile
    work.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, work, seed, cores, tracer)
    val wl: Workload = name match {
      case "upsert_large"    => new KeyedLoad(ctx, upsert = true)
      case "append_scan"     => new KeyedLoad(ctx, upsert = false)
      case "curation_stream" => new CurationStream(ctx)
    }

    var peakDisk = 0L
    def sampleDisk(): Unit = peakDisk = math.max(peakDisk, Fs.bytes(work))

    // Set-up, repeated in fresh directories; the median is reported.
    val seedS = (1 to reps).map { k =>
      val dir = new File(work, s"state-$k")
      val t0 = System.nanoTime()
      wl.seed(dir)
      val s = Stats.secs(t0)
      sampleDisk()
      if (k > 1) Fs.rm(new File(work, s"state-${k - 1}"))
      ctx.log(f"$name set-up $k: $s%.3f s")
      s
    }
    val setupS = sessionS + Stats.median(seedS)

    val violations = Seq.newBuilder[String]
    var failed = 0
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
    def attempt(i: Int): Boolean =
      try {
        val r = wl.round(i)
        rounds += r
        violations ++= r.violations.map(v => s"round $i: $v")
        sampleDisk()
        ctx.log(f"$name round $i${if (i < wl.warmup) " (warm-up)" else ""}: " +
          f"job ${r.jobS}%.3f s, read ${r.readS}%.3f s, ${r.rows} rows" +
          (if (r.violations.isEmpty) "" else s" VIOLATIONS ${r.violations.mkString("; ")}"))
        true
      } catch {
        case NonFatal(e) =>
          failed += 1
          ctx.log(s"$name round $i failed: $e")
          e.printStackTrace()
          false
      }

    var ok = (0 until wl.warmup).forall(attempt)
    val timed0 = rounds.size
    val phase0 = System.nanoTime()
    var i = wl.warmup
    var timedAttempts = 0
    while (ok && Stats.secs(phase0) < seconds) {
      timedAttempts += 1
      ok = attempt(i)
      i += 1
    }
    val timed = rounds.drop(timed0).toSeq
    if (ok) {
      try violations ++= wl.finish()
      catch { case NonFatal(e) => failed += 1; ctx.log(s"$name final checks failed: $e") }
    }
    sampleDisk()
    val spaceAmp = wl.spaceAmp
    val v = violations.result()
    v.foreach(x => ctx.log(s"VIOLATION $x"))

    val jobSum = timed.map(_.jobS).sum
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val e2e = Map(
          "setup_s" -> setupS,
          "rows_per_s" -> (if (jobSum > 0) timed.map(_.rows).sum / jobSum else 0.0),
          "input_mb_per_s" -> (if (jobSum > 0) timed.map(_.inputBytes).sum / 1e6 / jobSum else 0.0),
          "job_p50_s" -> Stats.median(timed.map(_.jobS)),
          "read_p50_s" -> Stats.median(timed.map(_.readS)),
          "space_amp" -> spaceAmp)
        EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      } else {
        val t = tracer.get
        val all = wl.layers(timed0) ++ Spans.flatMap(t.spanMetrics) ++ Seq(
          ("io.read_files_scanned", t.readScans._1, "count/read"),
          ("io.read_bytes_scanned", t.readScans._2, "bytes/read"),
          ("io.peak_disk_bytes", peakDisk.toDouble, "bytes"),
          ("trace.job_p50_s", Stats.median(timed.map(_.jobS)), "s"),
          ("trace.read_p50_s", Stats.median(timed.map(_.readS)), "s"))
        ctx.log("all layer metrics: " + all.map { case (k, x, u) => s"$k=${round6(x)} $u" }
          .mkString(", "))
        val got = all.map(m => m._1 -> m._2).toMap
        PerLayer.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
      }
    ctx.log(f"$name: ${timed.size} timed rounds, setup ${setupS}%.3f s " +
      f"(session $sessionS%.3f s), peak disk ${peakDisk / 1e6}%.1f MB")
    tracer.foreach(_.close())
    spark.stop()
    Fs.rm(work)

    // End-to-end values keep every digit; per-layer values keep six
    // significant digits, so the traced line fits the tail.
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0"
      else if (traced) round6(d)
      else java.lang.Double.toString(d)
    val ms = metrics.map { case (k, value, unit) =>
      s""""$k":{"value":${num(value)},"unit":"$unit"}""" }.mkString(",")
    val correct = v.isEmpty && timed.nonEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, timedAttempts)},""" +
      s""""failed":$failed,"metrics":{$ms}}""")
  }
}
