package loadbench

import Checks._

/** Self-test of the checkers: each workload's checker must accept a
  * correct result and reject the same result with one planted fault (a
  * dropped row, a stale upserted value, a planted duplicate that was not
  * rejected). Exits non-zero when a checker misses a fault. No Spark. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = Seq.newBuilder[String]
    def expect(name: String, violations: Seq[String], shouldFail: Boolean): Unit = {
      val failedCheck = violations.nonEmpty
      println(s"${if (failedCheck == shouldFail) "ok  " else "MISS"} $name" +
        (if (violations.nonEmpty) s" -> ${violations.head}" else ""))
      if (failedCheck != shouldFail) failures += name
    }

    // ---- upsert_large: 10 seeded keys, then a job updating 3 and 4, adding 10.
    val salt = 17L
    val rows = (0L until 10L).map(k => k -> 0).toMap ++ Map(3L -> 1, 4L -> 1, 10L -> 1)
    def aggOf(rs: Map[Long, Int]) = TableAgg(rs.size, rs.size,
      rs.map { case (k, g) => Rows.value(k, g, salt) }.sum,
      rs.map { case (k, g) => Rows.checksum(k, g, Rows.value(k, g, salt)) }.sum)
    val staged = Seq(3L, 4L, 10L).map(k => k -> ((1, Rows.value(k, 1, salt)))).toMap
    val good = UpsertObs(aggOf(rows), staged, stagingJobDirGone = true, versionsRetained = 2)
    expect("upsert_large: correct result passes", upsertJob(aggOf(rows), staged, good), false)
    val dropped = rows - 7L
    expect("upsert_large: dropped row fails",
      upsertJob(aggOf(rows), staged, good.copy(agg = aggOf(dropped))), true)
    val stale = rows + (4L -> 0)
    expect("upsert_large: stale upserted value fails",
      upsertJob(aggOf(rows), staged, good.copy(agg = aggOf(stale),
        staged = staged + (4L -> ((0, Rows.value(4L, 0, salt)))))), true)
    expect("upsert_large: stale value with matching aggregates fails",
      upsertJob(aggOf(rows), staged, good.copy(
        staged = staged + (4L -> ((0, Rows.value(4L, 0, salt)))))), true)
    expect("upsert_large: leftover staging dir fails",
      upsertJob(aggOf(rows), staged, good.copy(stagingJobDirGone = false)), true)
    expect("upsert_large: three retained versions fail",
      upsertJob(aggOf(rows), staged, good.copy(versionsRetained = 3)), true)

    // ---- append_scan: ids 0..29, one range [5, 15).
    def rangeOf(ids: Seq[Long], lo: Long, hi: Long) = {
      val in = ids.filter(i => i >= lo && i < hi)
      RangeAgg(lo, hi, in.size, in.map(Rows.value(_, 0, salt)).sum,
        in.map(i => Rows.checksum(i, 0, Rows.value(i, 0, salt))).sum)
    }
    def colsOf(ids: Seq[Long]) = {
      val vs = ids.map(Rows.value(_, 0, salt))
      ColumnAgg(ids.size, vs.sum, vs.min, vs.max, ids.max,
        ids.map(i => Rows.checksum(i, 0, Rows.value(i, 0, salt))).sum)
    }
    val ids = 0L until 30L
    val man = ManifestObs(Set("a.json", "b.json"), Seq("a.json", "b.json"), true, true)
    val ok = AppendObs(Seq(rangeOf(ids, 5, 15)), colsOf(ids), Some(man), Some((30L, colsOf(ids).checksum)))
    expect("append_scan: correct result passes",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids), ok), false)
    val lost = ids.filterNot(_ == 9L)
    expect("append_scan: dropped row fails",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids),
        ok.copy(ranges = Seq(rangeOf(lost, 5, 15)), cols = colsOf(lost))), true)
    expect("append_scan: dropped row seen by a range read only fails",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids), ok.copy(ranges = Seq(rangeOf(lost, 5, 15)))), true)
    expect("append_scan: manifest missing a reported file fails",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids),
        ok.copy(manifest = Some(man.copy(listed = Seq("a.json"))))), true)
    expect("append_scan: non-mandatory manifest entry fails",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids),
        ok.copy(manifest = Some(man.copy(allMandatory = false)))), true)
    expect("append_scan: compaction that changed the table fails",
      appendJob(Seq(rangeOf(ids, 5, 15)), colsOf(ids), ok.copy(precompact = Some((31L, 0L)))), true)

    // ---- curation_stream: 1,000 survivors, 4,000 fresh URLs per batch.
    val before = Stores(20000, 20000, 20000)
    val clean = CurationObs(before, Stores(21000, 24000, 21000), 1000, 0, 0)
    expect("curation_stream: correct batch passes", curationBatch(1000, 4000, clean), false)
    expect("curation_stream: planted duplicate not rejected fails",
      curationBatch(1000, 4000, clean.copy(after = Stores(21001, 24000, 21001))), true)
    expect("curation_stream: dropped survivor fails",
      curationBatch(1000, 4000, clean.copy(after = Stores(20999, 24000, 20999), survivorsRead = 999)), true)
    expect("curation_stream: footer left in a survivor fails",
      curationBatch(1000, 4000, clean.copy(footerLeft = 1)), true)
    expect("curation_stream: leaked cached block fails",
      curationBatch(1000, 4000, clean.copy(leakedBlocks = 1)), true)
    expect("curation_stream: replay that appends fails",
      replay(clean.after, clean.after.copy(corpus = clean.after.corpus + 1)), true)
    expect("curation_stream: replay that appends nothing passes",
      replay(clean.after, clean.after), false)

    val missed = failures.result()
    println(if (missed.isEmpty) "self-test passed" else s"self-test FAILED: ${missed.mkString("; ")}")
    if (missed.nonEmpty) sys.exit(1)
  }
}
