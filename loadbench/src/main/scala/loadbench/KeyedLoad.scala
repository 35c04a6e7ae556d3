package loadbench

import java.io.File
import java.net.URI
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{AutoCompact, LoadMode, LoaderConfig, TableRef}
import graft.exec.Loader
import graft.io.{Ingest, ParquetWarehouse}
import graft.operators.LoadOps

import Checks.{ColumnAgg, ManifestObs, RangeAgg, Rows, TableAgg}

/** The two Loader workloads, one keyed table of (id, gen, value, payload).
  *
  * `upsert_large`: small upsert jobs into a table ~100x the batch. Each job
  * is 4 NDJSON bodies of 500 rows: half updates of keys drawn from the
  * 20,000 most recently loaded, half new keys.
  *
  * `append_scan`: insert jobs of 4 bodies x 5,000 new rows with
  * auto-compaction on, each followed by a reader block of three id-range
  * reads and one full-column aggregate. */
final class KeyedLoad(ctx: Ctx, upsert: Boolean) extends Workload {
  import ctx.spark

  private val T = TableRef("bench", "events")
  private val seedRows = 200000L
  private val bodies = 4
  private val rowsPerBody = if (upsert) 500 else 5000
  private val recentWindow = 20000
  private val rangeLen = 2000L
  private val salt = Math.floorMod(ctx.seed * 7919L, 1000000L)
  private val rng = new java.util.Random(ctx.seed * 1000003L + (if (upsert) 1 else 2))
  private val cfg = LoaderConfig(table = T, idField = "id",
    filePrefix = if (upsert) "lb/upsert" else "lb/append",
    autoCompact = if (upsert) None else Some(AutoCompact(maxFiles = 40, targetFiles = 4)))

  /** The first two jobs of a process run 30-170% slower than later ones
    * (class loading, JIT, Spark code generation), and the next two still
    * run ~10% slower than the rounds after them. */
  val warmup = 4

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("gen", IntegerType), StructField("value", LongType),
    StructField("payload", StringType)))

  // Seeded state and the generator's model of the table.
  private var dir: File = _
  private var wh: ParquetWarehouse = _
  private var stagingRoot: String = _
  private var keys = 0L
  private val gens = mutable.ArrayBuffer.empty[Int]
  private var sumValue = 0L
  private var checksum = 0L
  private var minValue = Long.MaxValue
  private var maxValue = Long.MinValue

  private def chkCol(df: DataFrame) =
    pmod(df("id") * 1000003L + df("value") * 7919L + df("gen"), lit(Rows.P))

  def seed(d: File): Unit = {
    dir = d
    wh = new ParquetWarehouse(spark, new File(d, "wh").getAbsolutePath)
    stagingRoot = new File(d, "staging").getAbsolutePath
    val hex12 = lpad(hex(col("id")), 12, "0")
    val df = spark.range(0, seedRows, 1, ctx.cores).select(col("id"),
      lit(0).as("gen"), pmod(col("id") * 2654435761L + lit(salt), lit(Rows.M)).as("value"),
      concat(hex12, lit("000000"), hex12, lit("000000")).as("payload"))
    wh.load(LoadMode.Insert, T, df, "id")
    keys = seedRows
    gens.clear(); gens ++= Iterator.fill(seedRows.toInt)(0)
    sumValue = 0L; checksum = 0L; minValue = Long.MaxValue; maxValue = Long.MinValue
    var i = 0L
    while (i < seedRows) { account(i, 0, +1); i += 1 }
  }

  private def account(id: Long, gen: Int, sign: Int): Unit = {
    val v = Rows.value(id, gen, salt)
    sumValue += sign * v
    checksum += sign * Rows.checksum(id, gen, v)
    if (sign > 0) { minValue = math.min(minValue, v); maxValue = math.max(maxValue, v) }
  }

  /** Per-job trace record. */
  private final case class JobTrace(addBodyS: Double, t0: Long,
      events: Seq[(Long, String, Map[String, String])], bytesWritten: Long,
      liveFiles: Int, versions: Int, mergeS: Double)
  private val traces = mutable.ArrayBuffer.empty[Option[JobTrace]]

  private def tableDir = new File(dir, s"wh/${T.schema}/${T.table}")

  def round(r: Int): Round = {
    val gen = r + 1
    // ---- input generation (outside the job's timing)
    val staged: IndexedSeq[Long] =
      if (upsert) {
        val half = bodies * rowsPerBody / 2
        val lo = math.max(0L, keys - recentWindow)
        val upd = mutable.LinkedHashSet.empty[Long]
        while (upd.size < half) upd += lo + rng.nextInt((keys - lo).toInt)
        val all = upd.toIndexedSeq ++ (keys until keys + half)
        new scala.util.Random(rng.nextLong()).shuffle(all)
      } else keys until keys + bodies * rowsPerBody
    val bodyLines = staged.grouped(rowsPerBody).map(_.map(k => Rows.json(k, gen, salt))).toSeq
    val inputBytes = bodyLines.map(_.map(_.length + 1L).sum).sum
    val dfs = bodyLines.map(ls =>
      Ingest.ndjson(spark, spark.createDataset(ls)(Encoders.STRING), Some(schema)))

    var manifest: Option[ManifestObs] = None
    val log = new EventLog((path, l) => manifest = Some(readManifest(path, l)))
    val loader = new Loader(spark, cfg, wh, stagingRoot, listener = log)
    val before = if (ctx.traced) Fs.files(tableDir) else Map.empty[String, Long]

    // ---- the job: first addBody until upsert/insert returns
    val addBodyS = dfs.map(df => Tracer.timed(ctx.tracer, "exec.add_body")(loader.addBody(df))).sum
    var tLoad = 0L
    val jobS = addBodyS + Tracer.timed(ctx.tracer, "exec.load") {
      tLoad = System.nanoTime()
      if (upsert) loader.upsert() else loader.insert()
    }

    // ---- generator model after the job
    staged.foreach { k =>
      if (k < keys) { account(k, gens(k.toInt), -1); gens(k.toInt) = gen }
      else gens += gen
      account(k, gen, +1)
    }
    keys += (if (upsert) bodies * rowsPerBody / 2 else staged.size)

    // ---- reader block (timed as one unit), then checks
    val ranges = if (upsert) Nil else Seq.fill(3) {
      val lo = (rng.nextDouble() * (keys - rangeLen)).toLong
      (lo, lo + rangeLen)
    }
    var aggRow: Option[org.apache.spark.sql.Row] = None
    var stagedRows = Array.empty[org.apache.spark.sql.Row]
    var rangeRows = Seq.empty[org.apache.spark.sql.Row]
    var colRow: Option[org.apache.spark.sql.Row] = None
    val readS = Tracer.timed(ctx.tracer, "io.read") {
      val t = wh.table(T)
      if (upsert) {
        aggRow = Some(t.agg(count(lit(1)), countDistinct(col("id")), sum(col("value")),
          sum(chkCol(t))).head())
        stagedRows = t.filter(col("id").isin(staged: _*))
          .select(col("id"), col("gen"), col("value")).collect()
      } else {
        rangeRows = ranges.map { case (lo, hi) =>
          t.filter(col("id") >= lo && col("id") < hi)
            .agg(count(lit(1)), sum(col("value")), sum(chkCol(t))).head()
        }
        colRow = Some(t.agg(count(lit(1)), sum(col("value")), min(col("value")),
          max(col("value")), max(col("id")), sum(chkCol(t))).head())
      }
    }

    val events = log.events
    val loaded = events.filter(_._2 == "loadedMetrics")
      .flatMap(_._3.get("rows_loaded")).map(_.toLong).sum
    val loadedCheck =
      if (loaded == staged.size) Nil else Seq(s"loadedMetrics rows_loaded=$loaded, staged ${staged.size}")
    val violations = if (upsert) {
      val a = aggRow.get
      val obs = Checks.UpsertObs(
        TableAgg(a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3)),
        stagedRows.map(x => x.getLong(0) -> ((x.getInt(1), x.getLong(2)))).toMap,
        !new File(s"$stagingRoot/${cfg.filePrefix}/${loader.jobTime}_${loader.uuid}").exists(),
        wh.versions(T).size)
      val expStaged = staged.map(k => k -> ((gen, Rows.value(k, gen, salt)))).toMap
      Checks.upsertJob(TableAgg(keys, keys, sumValue, checksum), expStaged, obs)
    } else {
      val compacted = events.exists(_._2 == "compacted")
      val pre = if (!compacted) None else {
        val cur = new File(wh.currentDataPath(T).get).getName
        wh.versions(T).filter(_ != cur).lastOption.map { prev =>
          val p = wh.tableAt(T, prev)
          val x = p.agg(count(lit(1)), sum(chkCol(p))).head()
          (x.getLong(0), x.getLong(1))
        }.orElse(Some((-1L, -1L)))
      }
      val c = colRow.get
      val obs = Checks.AppendObs(
        ranges.zip(rangeRows).map { case ((lo, hi), x) =>
          RangeAgg(lo, hi, x.getLong(0), x.getLong(1), x.getLong(2)) },
        ColumnAgg(c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3), c.getLong(4),
          c.getLong(5)),
        manifest, pre)
      Checks.appendJob(ranges.map { case (lo, hi) => expectRange(lo, hi) },
        ColumnAgg(keys, sumValue, minValue, maxValue, keys - 1, checksum), obs)
    }

    traces += (if (!ctx.traced) None else {
      val after = Fs.files(tableDir)
      val written = after.collect { case (p, n) if !before.contains(p) => n }.sum
      val mergeS = if (!upsert) 0.0 else {
        val m0 = System.nanoTime()
        LoadOps.merge(wh.table(T), dfs.reduce(_ unionByName _), "id")
          .write.format("noop").mode("overwrite").save()
        Stats.secs(m0)
      }
      Some(JobTrace(addBodyS, tLoad, events, written, wh.dataFiles(T).size,
        wh.versions(T).size, mergeS))
    })
    Round(jobS, readS, staged.size.toLong, inputBytes, violations ++ loadedCheck)
  }

  /** Generator figures for ids [lo, hi) of the append table: every id
    * past the seed was written by job 1 + (id - seed) / rows-per-job. */
  private def expectRange(lo: Long, hi: Long): RangeAgg = {
    var s = 0L; var c = 0L; var id = lo
    val perJob = bodies * rowsPerBody
    while (id < hi) {
      val g = if (id < seedRows) 0 else (1 + (id - seedRows) / perJob).toInt
      val v = Rows.value(id, g, salt)
      s += v; c += Rows.checksum(id, g, v); id += 1
    }
    RangeAgg(lo, hi, hi - lo, s, c)
  }

  /** The manifest as it stands when `uploadedManifest` fires, parsed apart
    * from the program, against the files `uploadedFile` reported. */
  private def readManifest(path: String, log: EventLog): ManifestObs = {
    def file(u: String) = if (u.startsWith("file:")) new File(new URI(u)) else new File(u)
    val reported = log.events.filter(_._2 == "uploadedFile")
      .flatMap(_._3.keys.filter(_.startsWith("bytes.")).map(_.stripPrefix("bytes."))).toSet
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(file(path).toPath))
    val entries = tree.get("entries").elements().asScala.toSeq
    val urls = entries.map(_.get("url").asText())
    ManifestObs(reported, urls.map(u => file(u).getName),
      urls.forall(u => file(u).isFile),
      entries.forall(e => e.has("mandatory") && e.get("mandatory").isBoolean &&
        e.get("mandatory").asBoolean()))
  }

  def finish(): Seq[String] = Nil

  def spaceAmp: Double =
    Fs.bytes(new File(dir, "wh")).toDouble /
      Fs.bytes(new File(wh.currentDataPath(T).get)).toDouble

  def layers(from: Int): Seq[(String, Double, String)] = {
    val ts = traces.drop(from).flatten.toSeq
    def at(j: JobTrace, task: String): Option[Long] = j.events.find(_._2 == task).map(_._1)
    def lastAt(j: JobTrace, task: String): Option[Long] =
      j.events.filter(_._2 == task).lastOption.map(_._1)
    def gap(a: Option[Long], b: Option[Long]) =
      (for (x <- a; y <- b) yield (y - x) / 1e9).getOrElse(0.0)
    def info(j: JobTrace, task: String, k: String) =
      j.events.filter(_._2 == task).flatMap(_._3.get(k)).map(_.toDouble).sum
    val staged = ts.map(info(_, "uploadedFile", "bytes"))
    Seq(
      ("exec.add_body_s", Stats.median(ts.map(_.addBodyS)), "s"),
      ("exec.manifest_s", Stats.median(ts.map(j => gap(Some(j.t0), at(j, "uploadedManifest")))), "s"),
      ("io.warehouse_load_s", Stats.median(ts.map(j =>
        gap(at(j, "uploadedManifest"), at(j, "loadedMetrics")))), "s"),
      ("exec.cleanup_s", Stats.median(ts.map(j =>
        gap(lastAt(j, "loadedMetrics"), at(j, "deleteObjects")))), "s"),
      ("exec.compact_s", Stats.mean(ts.map(j =>
        gap(at(j, "deleteObjects"), at(j, "compacted")))), "s"),
      ("exec.progress_events", Stats.mean(ts.map(_.events.size.toDouble)), "count/job"),
      ("io.staged_bytes", Stats.mean(staged), "bytes/job"),
      ("io.staged_files", Stats.mean(ts.map(info(_, "uploadedFile", "files"))), "count/job"),
      ("io.bytes_written", Stats.mean(ts.map(_.bytesWritten.toDouble)), "bytes/job"),
      ("io.write_amp", if (staged.sum > 0) ts.map(_.bytesWritten).sum / staged.sum else 0.0, "ratio"),
      ("io.live_files", Stats.mean(ts.map(_.liveFiles.toDouble)), "count"),
      ("io.versions_retained", Stats.mean(ts.map(_.versions.toDouble)), "count"),
      ("operators.merge_s", Stats.median(ts.map(_.mergeS)), "s"))
  }
}
