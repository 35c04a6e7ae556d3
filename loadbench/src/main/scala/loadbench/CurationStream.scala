package loadbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{LoadMode, TableRef}
import graft.io.ParquetWarehouse
import graft.operators.{CurationOps, DedupOps, TextOps}
import graft.streaming.StreamingLoad

import Checks.Stores

/** `curation_stream`: one `curationIngestStream` AvailableNow run per
  * arrival of 1,000 NDJSON docs in 4 files, against a 10,000-doc corpus,
  * key store and signature store seeded in set-up. Every arrival plants
  * one fifth of its docs in each fate the pipeline decides (by doc_id % 5):
  *   0: URL of a stored page, fresh text       -> rejected at the URL key
  *   1: fresh URL, copy of a stored page's text -> rejected by signature
  *   2: fresh URL, spam                          -> rejected at quality
  *   3: fresh URL, verbatim eval-set doc         -> rejected by decontamination
  *   4: fresh URL, fresh honest text             -> survives
  * Texts are 8 stopwords interleaved with 8 words from a 10M-word vocabulary
  * drawn from the seed; arrivals carry a shared footer the scrub removes. */
final class CurationStream(ctx: Ctx) extends Workload {
  import ctx.spark

  private val corpusN = 10000L
  private val batch = 1000L
  private val files = 4
  private val evalN = 1000L
  private val TileW = 4
  private val MinDf = 20
  private val QualityMin = 0.25
  private val MinEst = 0.5
  private val Footer = "rights reserved contact example"
  private val Stops = Seq("the", "a", "of", "to", "in", "is", "for", "on")
  private val (tbl, keys, sigs) =
    (TableRef("", "curated"), TableRef("", "page_keys"), TableRef("", "curated_sigs"))
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("url", StringType), StructField("text", StringType)))
  private val salt = ctx.seed * 0x9E3779B97F4A7C15L
  private val rng = new java.util.Random(ctx.seed * 1000003L + 3)

  /** A process's AvailableNow runs slow down its first few (measured
    * ~12 s, 8 s, 7 s, then 6 s and ~5.5 s): the driver-side planning and
    * code generation of its ~50 jobs per run warm slowly. */
  val warmup = 3


  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def body(id: Long, kind: Int): String =
    Stops.zipWithIndex.flatMap { case (s, j) =>
      Seq(s, "w" + Math.floorMod(mix(mix(id * 16 + j) ^ (salt + kind)), 10000000L))
    }.mkString(" ")
  private def url(id: Long) = s"https://src${id % 1000}.example.com/p/$id"
  private def freshUrl(id: Long) = s"https://new$id.example.com/p/$id"

  private var dir: File = _
  private var wh: ParquetWarehouse = _
  private var src: File = _
  private var dict: DataFrame = _
  private var evalSet: DataFrame = _
  private var baseBlocks: Set[Int] = Set.empty
  private var stores: Stores = _
  private val arrivals = mutable.ArrayBuffer.empty[Seq[File]]

  def seed(d: File): Unit = {
    dir = d
    wh = new ParquetWarehouse(spark, new File(d, "wh").getAbsolutePath)
    src = new File(d, "src"); src.mkdirs()
    arrivals.clear()
    val rows = (0L until corpusN).map(i => Row(i, url(i), body(i, 0)))
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, ctx.cores),
      StructType(Seq(StructField("doc_id", LongType), StructField("url", StringType),
        StructField("clean_text", StringType))))
    wh.load(LoadMode.Insert, tbl, corpus.select(col("doc_id"), col("url"),
      col("url").as("canonical_url"), col("clean_text")), "doc_id")
    wh.load(LoadMode.Insert, keys,
      corpus.select(col("url").as("canonical_url"), col("doc_id")), "doc_id")
    wh.load(LoadMode.Insert, sigs, DedupOps.minhashSignatureArr(
      corpus.select(col("doc_id"), col("clean_text")), "doc_id", "clean_text"), "doc_id")
    // Frozen boilerplate dictionary: only the footer tile reaches minDf.
    val dictDf = TextOps.boilerplateDict(
      corpus.filter(col("doc_id") < 1000).select(col("doc_id"),
        concat(col("clean_text"), lit(" " + Footer)).as("text")),
      "doc_id", "text", TileW, MinDf)
    val dictRows = dictDf.collect()
    require(dictRows.length == 1, s"dictionary holds ${dictRows.length} tiles, expected the footer")
    dict = spark.createDataFrame(
      spark.sparkContext.parallelize(dictRows.toIndexedSeq, 1), dictDf.schema)
    evalSet = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until evalN).map(i => Row(i, body(i, 2))), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    stores = Stores(corpusN, corpusN, corpusN)
    baseBlocks = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  /** Writes arrival `r` as NDJSON files into the stream's source dir. */
  private def ship(r: Int): (Long, Seq[File]) = {
    val lo = corpusN + r * batch
    val picks = mutable.LinkedHashSet.empty[Long]
    while (picks.size < 2 * batch / 5) picks += rng.nextInt(corpusN.toInt).toLong
    val (dupUrl, copied) = picks.toIndexedSeq.splitAt((batch / 5).toInt)
    val lines = (lo until lo + batch).map { id =>
      val k = ((id - lo) / 5).toInt
      val (u, t) = (id % 5).toInt match {
        case 0 => (url(dupUrl(k)), body(id, 1) + " " + Footer)
        case 1 => (freshUrl(id), body(copied(k), 0) + " " + Footer)
        case 2 => (freshUrl(id), Seq.fill(16)("buy").mkString(" "))
        case 3 => (freshUrl(id), body(rng.nextInt(evalN.toInt).toLong, 2) + " " + Footer)
        case _ => (freshUrl(id), body(id, 1) + " " + Footer)
      }
      s"""{"doc_id":$id,"url":"$u","text":"$t"}"""
    }
    val tmp = new File(dir, "ship"); tmp.mkdirs()
    val out = lines.grouped((batch / files).toInt).zipWithIndex.map { case (ls, i) =>
      val f = new File(tmp, s"a${r}_$i.json")
      Files.write(f.toPath, (ls.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      val g = new File(src, f.getName)
      Files.move(f.toPath, g.toPath, StandardCopyOption.ATOMIC_MOVE)
      g
    }.toSeq
    arrivals += out
    (lo, out)
  }

  private def stream(srcDir: File, ckpt: String) =
    StreamingLoad.curationIngestStream(spark, srcDir.getAbsolutePath, schema, wh, tbl,
      keys, sigs, dict, "doc_id", "url", "text", qualityMin = QualityMin,
      minEst = MinEst, ckpt, tileWidth = TileW, minDf = MinDf,
      evalSet = Some(evalSet), contamN = 8, maxContamFrac = 0.05)

  private def counts(): Stores =
    Stores(wh.table(tbl).count(), wh.table(keys).count(), wh.table(sigs).count())

  private final case class RunTrace(wallS: Double, progress: Seq[Map[String, Long]],
      ops: Map[String, Double], candidates: Long, rejects: Long)
  private val traces = mutable.ArrayBuffer.empty[Option[RunTrace]]

  def round(r: Int): Round = {
    val (lo, shipped) = ship(r)
    val inputBytes = shipped.map(_.length()).sum
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val jobS = Tracer.timed(ctx.tracer, "streaming.run") {
      q = stream(src, new File(dir, "ckpt").getAbsolutePath)
      q.awaitTermination()
    }
    val leaked = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseBlocks).size

    val survivorIds = (lo until lo + batch).filter(_ % 5 == 4)
    var after: Stores = null
    var found = Array.empty[String]
    val readS = Tracer.timed(ctx.tracer, "io.read") {
      after = counts()
      found = wh.table(tbl).filter(col("doc_id").isin(survivorIds: _*))
        .select(col("clean_text")).collect().map(_.getString(0))
    }
    val obs = Checks.CurationObs(stores, after, found.length,
      found.count(t => Footer.split(' ').exists(t.contains)), leaked)
    stores = after
    val violations = Checks.curationBatch(batch / 5, 4 * batch / 5, obs)

    traces += (if (!ctx.traced) None else {
      val prog = q.recentProgress.toSeq.map(
        _.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      Some(operatorProbe(lo, shipped, jobS, prog))
    })
    Round(jobS, readS, batch, inputBytes, violations)
  }

  /** Times each stage's public operator on this arrival, against the
    * stores as they stood before it (traced runs only). Each stage's input
    * is materialized first so a timing covers that stage alone. */
  private def operatorProbe(lo: Long, shipped: Seq[File], wallS: Double,
      prog: Seq[Map[String, Long]]): RunTrace = {
    val ops = mutable.LinkedHashMap.empty[String, Double]
    val sc = spark.sparkContext
    val held0 = sc.getPersistentRDDs.keySet.toSet
    def timed(name: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = df.localCheckpoint(true)
      ops(name) = Stats.secs(t0)
      out
    }
    def keep(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val a0 = keep(spark.read.schema(schema).json(shipped.map(_.getAbsolutePath): _*))
    val all = timed("operators.canonicalize_url_s")(
      a0.withColumn("canonical_url", CurationOps.canonicalizeUrl(col("url"))))
    val urlSurv = keep(all.join(wh.table(keys).filter(col("doc_id") < lo)
      .select(col("canonical_url")), Seq("canonical_url"), "left_anti"))
    val scrubbed = timed("operators.boilerplate_scrub_s")(TextOps.boilerplateScrubText(
      urlSurv.select(col("doc_id"), col("text")), "doc_id", "text", TileW, MinDf, Some(dict))
      .select(col("doc_id"), col("clean_text")))
    val gated = timed("operators.quality_gate_s")(scrubbed.filter(
      length(trim(col("clean_text"))) > 0 &&
        graft.functions.TextFunctions.qualityScore(col("clean_text")) >= QualityMin))
    val qualified = timed("operators.decontam_s")(gated.join(
      TextOps.contaminationFraction(gated,
        evalSet.select(col("doc_id"), col("text").as("clean_text")), "doc_id", "clean_text", 8)
        .filter(col("frac") >= 0.05).select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val sig = timed("operators.minhash_sig_s")(DedupOps.minhashSignatureArr(
      qualified, "doc_id", "clean_text").repartition(col("doc_id")))
    val vs = timed("operators.lsh_vs_store_s")(DedupOps.minhashCandidatesAgainstSig(
      wh.table(sigs).filter(col("doc_id") < lo), sig, "doc_id", DedupOps.Bands))
    val within = timed("operators.lsh_within_s")(
      DedupOps.minhashCandidatesFromSig(sig, "doc_id", DedupOps.Bands))
    val cands = vs.count() + within.count()
    val rejects =
      vs.filter(col("est_jaccard") >= MinEst).select(col("new_id")).distinct().count() +
        within.filter(col("est_jaccard") >= MinEst).select(col("id_b")).distinct().count()
    sc.getPersistentRDDs.filter { case (id, _) => !held0.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    RunTrace(wallS, prog, ops.toMap, cands, rejects)
  }

  /** Replays the last two arrivals with a fresh checkpoint: every doc in
    * them was judged already, so no store may grow. */
  def finish(): Seq[String] = {
    val replay = new File(dir, "replay"); replay.mkdirs()
    arrivals.takeRight(2).flatten.foreach(f =>
      Files.copy(f.toPath, new File(replay, f.getName).toPath))
    val t0 = System.nanoTime()
    stream(replay, new File(dir, "ckpt-replay").getAbsolutePath).awaitTermination()
    val after = counts()
    ctx.log(f"curation_stream replay of 2 arrivals: ${Stats.secs(t0)}%.3f s")
    Checks.replay(stores, after)
  }

  def spaceAmp: Double = {
    val live = Seq(tbl, keys, sigs).map(t => Fs.bytes(new File(wh.currentDataPath(t).get))).sum
    Fs.bytes(new File(dir, "wh")).toDouble / live
  }

  def layers(from: Int): Seq[(String, Double, String)] = {
    val ts = traces.drop(from).flatten.toSeq
    def dur(p: Seq[Map[String, Long]], k: String) = p.map(_.getOrElse(k, 0L)).sum / 1000.0
    val opNames = Seq("operators.canonicalize_url_s", "operators.boilerplate_scrub_s",
      "operators.quality_gate_s", "operators.decontam_s", "operators.minhash_sig_s",
      "operators.lsh_vs_store_s", "operators.lsh_within_s")
    opNames.map(n => (n, Stats.median(ts.map(_.ops.getOrElse(n, 0.0))), "s")) ++ Seq(
      ("operators.lsh_candidates", Stats.mean(ts.map(_.candidates.toDouble)), "count/batch"),
      ("operators.lsh_useful_ratio", {
        val c = ts.map(_.candidates).sum
        if (c > 0) ts.map(_.rejects).sum.toDouble / c else 0.0 }, "ratio"),
      ("streaming.start_s", Stats.median(ts.map(t =>
        math.max(0.0, t.wallS - dur(t.progress, "triggerExecution")))), "s"),
      ("streaming.planning_s", Stats.median(ts.map(t => dur(t.progress, "queryPlanning"))), "s"),
      ("streaming.add_batch_s", Stats.median(ts.map(t => dur(t.progress, "addBatch"))), "s"),
      ("streaming.wal_commit_s", Stats.median(ts.map(t => dur(t.progress, "walCommit"))), "s"))
  }
}
