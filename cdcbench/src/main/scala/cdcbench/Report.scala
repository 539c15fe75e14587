package cdcbench

import Util._

/** Assembles the per-layer metrics of a traced run. */
object Report {

  def perLayer(tracer: Tracer, rec: JobRecorder, sampler: StackSampler,
               progress: ProgressRecorder, cdc: Cdc, out: Measured, cores: Int): Seq[(String, Double, String)] = {
    val ps = progress.batches("graft-cdc-timed")
    val ingestSpan = tracer.named("CdcIngest.runToCompletion").maxBy(_.t0)
    val triggers = Layers.addTriggers(tracer, ingestSpan, ps)
    val L = new Layers(tracer, rec, sampler, cores)
    val after = tracer.all.filter(_.t0 >= ingestSpan.t0)
    def dur(s: Span) = (s.t1 - s.t0) / 1e9
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      progress.ms(p, k) / 1000.0

    val t = cdc.result
    val (v0, v1) = cdc.versions
    val files = (v0 to v1).map(v => v -> cdc.files(v)).toMap
    val diffs = (v0 + 1 to v1).map { v =>
      val (a, b) = (files(v - 1).map(_.path).toSet, files(v))
      val added = b.filterNot(f => a.contains(f.path))
      val removed = a -- b.map(_.path)
      (added, removed.size, a.size)
    }
    val nb = math.max(1, diffs.size).toDouble
    val (c0, c1) = cdc.compactVersions
    val (cBefore, cAfter) = (cdc.files(c0), cdc.files(c1))
    val cRemoved = cBefore.filterNot(f => cAfter.exists(_.path == f.path))
    val cAdded = cAfter.filterNot(f => cBefore.exists(_.path == f.path))
    val heads = (1 to 5).map(_ => timed(tracer.span("LakeTable.head")(t.head()))._2)
    val snapshotBytes = new java.io.File(s"${t.root}/meta/v$v1.json").length()

    val lookups = cdc.lookups.toSeq
    val pulls = cdc.pulls.toSeq
    val scans = cdc.scans.toSeq
    val scanSpans = after.filter(_.name == "LakeTable.read")
    val overhead = {
      val (on, off) = lookups.partition(_.traced)
      if (on.isEmpty || off.isEmpty) 0.0
      else 100.0 * (med(on.map(_.totalS)) / med(off.map(_.totalS)) - 1.0)
    }

    val events = Seq(
      ("events.generate_s", med(tracer.named("EventLog.write").map(dur)), "s"),
      ("events.log_mb", cdc.logBytesAll / 1048576.0, "MiB"))
    val stream = Seq(
      ("stream.batches", ps.size.toDouble, "count"),
      ("stream.add_batch_s.p50", med(ps.map(ms(_, "addBatch"))), "s"),
      ("stream.overhead_s.p50",
        med(ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch"))), "s"),
      ("stream.wal_commit_s.sum", ps.map(ms(_, "walCommit")).sum, "s"),
      ("stream.commit_offsets_s.sum", ps.map(ms(_, "commitOffsets")).sum, "s"),
      ("stream.latest_offset_s.sum", ps.map(ms(_, "latestOffset")).sum, "s"),
      ("stream.query_planning_s.sum", ps.map(ms(_, "queryPlanning")).sum, "s"),
      ("stream.get_batch_s.sum", ps.map(ms(_, "getBatch")).sum, "s"))
    val lake = Seq(
      ("lake.files_added_per_batch", diffs.map(_._1.size).sum / nb, "count"),
      ("lake.files_removed_per_batch", diffs.map(_._2).sum / nb, "count"),
      ("lake.touched_file_ratio",
        diffs.map(d => d._2.toDouble / math.max(1, d._3)).sum / nb, "ratio"),
      ("lake.rows_written_per_event",
        diffs.flatMap(_._1).map(_.rows).sum.toDouble /
          math.max(1L, cdc.timedStats.map(_.eventsSeen).sum), "ratio"),
      ("lake.meta.head_ms", 1000 * med(heads), "ms"),
      ("lake.meta.versions", (v1 + 1).toDouble, "count"),
      ("lake.meta.snapshot_kb", snapshotBytes / 1024.0, "KiB"),
      ("lake.lookup.plan_ms", 1000 * med(lookups.map(_.planS)), "ms"),
      ("lake.lookup.exec_ms", 1000 * med(lookups.map(_.execS)), "ms"),
      ("lake.lookup.files_read", lookups.map(_.files).sum.toDouble / lookups.size, "count"),
      ("lake.lookup.rows_read_per_row",
        lookups.map(_.rowsRead).sum.toDouble / math.max(1L, lookups.map(_.rowsOut).sum), "ratio"),
      ("lake.scan.rows_read_per_live_row",
        scans.map(_.rowsRead).sum.toDouble / math.max(1L, scans.map(_.rowsOut).sum), "ratio"),
      ("lake.scan.shuffle_mb", L.shuffleMb(L.jobsUnder(scanSpans)) / math.max(1, scans.size), "MiB"),
      ("lake.feed.plan_ms", 1000 * med(pulls.map(_.planS)), "ms"),
      ("lake.feed.exec_ms", 1000 * med(pulls.map(_.execS)), "ms"),
      ("lake.feed.files_read", pulls.map(_.files).sum.toDouble / pulls.size, "count"),
      ("lake.feed.stale_rows", cdc.feedStaleRows.toDouble, "count"),
      ("lake.compact.bytes_rewritten_mb", cRemoved.map(f => fileBytes(f.path)).sum / 1048576.0, "MiB"),
      ("lake.compact.files_in", cRemoved.size.toDouble, "count"),
      ("lake.compact.files_out", cAdded.size.toDouble, "count")) ++
      cdc.mergeCounts.map { case (k, v) => (k, v, "count") }
    val ops = Corpus.queries.flatMap { q =>
      val sp = after.filter(_.name == s"ops.$q")
      val js = L.jobsUnder(sp)
      Seq((s"ops.$q.s", sp.map(dur).sum, "s"),
        (s"ops.$q.jobs", js.size.toDouble, "count"),
        (s"ops.$q.shuffle_mb", L.shuffleMb(js), "MiB"),
        (s"ops.$q.task_busy_s", L.busyS(js), "s"))
    }
    val run = Seq(
      ("error_rate", out.failed.toDouble / math.max(1L, out.attempted), "ratio"),
      ("trace.overhead_pct", overhead, "%"),
      ("trace.spans", tracer.all.size.toDouble, "count"),
      ("trace.jobs", rec.allJobs.size.toDouble, "count"))
    events ++ stream ++ L.merge(triggers, ps, progress) ++ lake ++ ops ++ run
  }

  private def fileBytes(path: String): Long =
    new java.io.File(new java.net.URI(if (path.contains(":")) path else "file:" + path).getPath).length()

  /** Jobs per sampled engine method, for choosing [[Layers.mergeSites]]. */
  def sites(rec: JobRecorder, sampler: StackSampler): Map[String, Int] =
    rec.allJobs.groupBy(j => sampler.siteOf(j.startMs, j.endMs).getOrElse(j.site))
      .map { case (k, v) => k -> v.size }
}
