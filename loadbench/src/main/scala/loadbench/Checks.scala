package loadbench

/** The result checkers, kept free of Spark so the self-test can feed them
  * wrong results. Each returns the list of violations (empty = correct).
  * Expected figures come from the benchmark's own generators, never from
  * the program under test. */
object Checks {

  /** Generator closed forms for the keyed tables of `upsert_large` and
    * `append_scan`. A row is (id, gen, value, payload): `gen` is the job
    * that last wrote the key (0 = seeded). */
  object Rows {
    val M = 1000003L
    val P = 2147483647L
    def value(id: Long, gen: Int, salt: Long): Long =
      Math.floorMod(id * 2654435761L + gen * 40503L + salt, M)
    def checksum(id: Long, gen: Int, value: Long): Long =
      Math.floorMod(id * 1000003L + value * 7919L + gen, P)
    def payload(id: Long, gen: Int): String = {
      val s = f"$id%012X$gen%06X"
      s + s
    }
    def json(id: Long, gen: Int, salt: Long): String =
      s"""{"id":$id,"gen":$gen,"value":${value(id, gen, salt)},"payload":"${payload(id, gen)}"}"""
  }

  /** Whole-table aggregate: rows, distinct ids, sum(value), sum(checksum). */
  final case class TableAgg(rows: Long, ids: Long, sumValue: Long, checksum: Long)

  final case class UpsertObs(agg: TableAgg, staged: Map[Long, (Int, Long)],
      stagingJobDirGone: Boolean, versionsRetained: Int)

  def upsertJob(expect: TableAgg, staged: Map[Long, (Int, Long)], o: UpsertObs): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (o.agg.rows != expect.rows || o.agg.ids != expect.rows)
      v += s"count(*)=${o.agg.rows}, count(distinct id)=${o.agg.ids}, generator keys=${expect.rows}"
    if (o.agg.sumValue != expect.sumValue)
      v += s"sum(value)=${o.agg.sumValue}, generator ${expect.sumValue}"
    if (o.agg.checksum != expect.checksum)
      v += s"row checksum=${o.agg.checksum}, generator ${expect.checksum}"
    val wrong = staged.filter { case (k, gv) => !o.staged.get(k).contains(gv) }
    if (wrong.nonEmpty || o.staged.size != staged.size)
      v += s"${wrong.size} of ${staged.size} staged keys lack their new (gen, value); read ${o.staged.size} rows"
    if (!o.stagingJobDirGone) v += "staging job directory still present after the load"
    if (o.versionsRetained > 2) v += s"${o.versionsRetained} versions retained (at most 2)"
    v.result()
  }

  /** One id-range read: [lo, hi) with its count, sum(value), sum(checksum). */
  final case class RangeAgg(lo: Long, hi: Long, rows: Long, sumValue: Long, checksum: Long)
  /** Full-column aggregate: rows, sum/min/max(value), max(id), sum(checksum). */
  final case class ColumnAgg(rows: Long, sumValue: Long, minValue: Long, maxValue: Long,
      maxId: Long, checksum: Long)
  /** What the manifest held when `uploadedManifest` fired, against the
    * files `uploadedFile` had reported. */
  final case class ManifestObs(reported: Set[String], listed: Seq[String],
      allPresent: Boolean, allMandatory: Boolean)
  final case class AppendObs(ranges: Seq[RangeAgg], cols: ColumnAgg,
      manifest: Option[ManifestObs], precompact: Option[(Long, Long)])

  def appendJob(expRanges: Seq[RangeAgg], expCols: ColumnAgg, o: AppendObs): Seq[String] = {
    val v = Seq.newBuilder[String]
    if (o.cols.rows != expCols.rows)
      v += s"row count ${o.cols.rows}, generator ${expCols.rows} (must grow by exactly the staged rows)"
    if (o.cols != expCols) v += s"column aggregate ${o.cols} != generator $expCols"
    if (o.ranges != expRanges)
      v += s"range reads ${o.ranges.diff(expRanges).mkString(",")} != generator ${expRanges.diff(o.ranges).mkString(",")}"
    o.manifest match {
      case None => v += "uploadedManifest never fired"
      case Some(m) =>
        if (m.listed.size != m.reported.size || m.listed.toSet != m.reported)
          v += s"manifest lists ${m.listed.size} files, uploadedFile reported ${m.reported.size}"
        if (!m.allPresent) v += "a manifest entry is missing on disk"
        if (!m.allMandatory) v += "a manifest entry is not mandatory:true"
    }
    o.precompact.foreach { case (rows, chk) =>
      if (rows != o.cols.rows || chk != o.cols.checksum)
        v += s"compaction changed the table: before ($rows, $chk), after (${o.cols.rows}, ${o.cols.checksum})"
    }
    v.result()
  }

  /** Store sizes (corpus, keys, signatures). */
  final case class Stores(corpus: Long, keys: Long, sigs: Long)
  final case class CurationObs(before: Stores, after: Stores, survivorsRead: Int,
      footerLeft: Int, leakedBlocks: Int)

  /** `survivors` honest docs and `newUrls` docs under a fresh URL were
    * planted; everything else must be rejected. */
  def curationBatch(survivors: Long, newUrls: Long, o: CurationObs): Seq[String] = {
    val v = Seq.newBuilder[String]
    val g = Stores(o.after.corpus - o.before.corpus, o.after.keys - o.before.keys,
      o.after.sigs - o.before.sigs)
    if (g != Stores(survivors, newUrls, survivors))
      v += s"store growth $g, planted ${Stores(survivors, newUrls, survivors)}"
    if (o.survivorsRead != survivors)
      v += s"${o.survivorsRead} of $survivors planted survivors found in the corpus"
    if (o.footerLeft > 0) v += s"${o.footerLeft} survivors keep the planted footer"
    if (o.leakedBlocks > 0) v += s"${o.leakedBlocks} cached blocks outlived the batch"
    v.result()
  }

  def replay(before: Stores, after: Stores): Seq[String] =
    if (before == after) Nil else Seq(s"replay grew the stores: $before -> $after")
}
