package cdcbench

import org.apache.spark.sql.streaming.StreamingQueryProgress
import Util._
import JobRecorder.{Job, StageAgg}

/** Per-layer metrics of a traced run, computed after it ends from the spans,
  * the recorded Spark jobs, the stream progress reports and the table's
  * snapshots. Each Spark job is attributed to the innermost span whose
  * interval contains it.
  */
final class Layers(tracer: Tracer, rec: JobRecorder, sampler: StackSampler, cores: Int) {

  private val spans = tracer.all
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val jobs = rec.allJobs

  // listener times are whole milliseconds
  private val slack = 1000000L

  private val owner: Map[Int, Int] = jobs.flatMap { j =>
    val (a, b) = (tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs))
    spans.filter(s => s.t0 - slack <= a && b <= s.t1 + slack)
      .sortBy(s => s.t1 - s.t0).headOption.map(s => j.id -> s.id)
  }.toMap

  private def subtree(id: Int): Set[Int] =
    children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id

  def jobsUnder(roots: Seq[Span]): Seq[Job] = {
    val ids = roots.flatMap(s => subtree(s.id)).toSet
    jobs.filter(j => owner.get(j.id).exists(ids.contains))
  }

  /** Stages that ran tasks for these jobs, each counted once. */
  def stages(js: Seq[Job]): Seq[StageAgg] =
    js.flatMap(_.stages).distinct.flatMap(rec.stage)

  def busyS(js: Seq[Job]): Double = stages(js).map(_.taskMs.sum).sum / 1000.0
  def shuffleMb(js: Seq[Job]): Double =
    stages(js).map(_.shuffleWrite).sum / 1048576.0

  /** Job and task figures of a stream's merges, one trigger per batch. */
  def merge(triggers: Seq[Span], ps: Seq[StreamingQueryProgress],
            progress: ProgressRecorder): Seq[(String, Double, String)] = {
    val per = triggers.map(t => jobsUnder(Seq(t)))
    val all = per.flatten
    val st = stages(all)
    val n = math.max(1, triggers.size).toDouble
    val addBatchS = ps.map(p => progress.ms(p, "addBatch") / 1000.0).sum
    val busy = busyS(all)
    val largest = st.filter(_.taskMs.nonEmpty).sortBy(-_.taskMs.sum).headOption
    val skew = largest.map { s =>
      s.taskMs.max.toDouble / math.max(1.0, med(s.taskMs.map(_.toDouble).toSeq))
    }.getOrElse(1.0)
    val bySite = all.groupBy(j => sampler.siteOf(j.startMs, j.endMs).getOrElse(j.site)).map { case (site, js) =>
      site -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum
    }
    Seq(
      ("lake.merge.jobs_per_batch", all.size / n, "count"),
      ("lake.merge.stages_per_batch", per.map(js => stages(js).size).sum / n, "count"),
      ("lake.merge.tasks_per_batch", st.map(_.taskMs.size).sum / n, "count"),
      ("lake.merge.idle_slot_ratio",
        1.0 - busy / math.max(1e-9, addBatchS * cores), "ratio"),
      ("lake.merge.task_busy_s", busy, "s"),
      ("lake.merge.cpu_s", st.map(_.cpuNs).sum / 1e9, "s"),
      ("lake.merge.gc_s", st.map(_.gcMs).sum / 1000.0, "s"),
      ("lake.merge.shuffle_write_mb", st.map(_.shuffleWrite).sum / 1048576.0, "MiB"),
      ("lake.merge.shuffle_read_mb", st.map(_.shuffleRead).sum / 1048576.0, "MiB"),
      ("lake.merge.spill_mb", st.map(_.spill).sum / 1048576.0, "MiB"),
      ("lake.merge.task_skew", skew, "ratio")) ++
      Layers.mergeSites.map { site =>
        (s"lake.merge.job_s.$site", bySite.getOrElse(site, 0.0), "s")
      } :+ ("lake.merge.job_s.other",
        bySite.filterNot(kv => Layers.mergeSites.contains(kv._1)).values.sum, "s")
  }
}

object Layers {
  /** Spans for the triggers of a stream, from its progress reports, as
    * children of the span around the call that ran it. Add them before a
    * [[Layers]] is built.
    */
  def addTriggers(tracer: Tracer, parent: Span, ps: Seq[StreamingQueryProgress]): Seq[Span] =
    ps.map { p =>
      val t0 = tracer.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val t1 = t0 + p.durationMs.get("triggerExecution").longValue * 1000000L
      Span(tracer.add("trigger", parent.id, t0, t1), "trigger", parent.id, t0, t1)
    }

  /** The engine methods whose Spark jobs a merge runs, by the innermost
    * `graft.` frame of each job's call site; any other site is "other".
    */
  val mergeSites: Seq[String] = Seq(
    "LakeTable.mergeOnce", "LakeTable.deferredOnce", "LakeTable.evolveSchema",
    "LakeTable.enforceConstraints", "LakeTable.footerStats")
}
