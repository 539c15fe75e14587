package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval around a call into a layer. Times are in nanoseconds
  * on the `System.nanoTime` clock; `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, parent: Int, t0: Long, t1: Long)

/** Spans recorded from the benchmark's own code, around each call it makes
  * into the engine. Kept in memory until the run ends. With `on = false`
  * every call is a plain pass-through.
  */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  // nanoTime of the Unix epoch, to place listener times (epoch ms) on the
  // span clock
  private val epochNs: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = epochNs + ms * 1000000L

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  /** Record a span whose interval was observed elsewhere (a stream trigger
    * reported by the progress listener). Returns its id.
    */
  def add(name: String, parent: Int, t0: Long, t1: Long): Int = synchronized {
    nextId += 1
    spans += Span(nextId, name, parent, t0, t1)
    nextId
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** Per-job and per-stage task aggregates from a [[SparkListener]]. */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  @volatile var recording = true
  private val starts = mutable.Map.empty[Int, (Long, Seq[Int], String)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    // the result stage (highest id) carries the job's call site
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    starts(e.jobId) = (e.time, e.stageIds, JobRecorder.graftFrame(site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, st, site) =>
      jobs += Job(e.jobId, t0, e.time, st, site)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def allJobs: Seq[Job] = synchronized(jobs.toList)
  def stage(id: Int): Option[StageAgg] = synchronized(stages.get(id))
}

object JobRecorder {
  final class StageAgg {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Seq[Int],
                       site: String)

  private val Frame = """^(?:\S*/)?graft\.(?:[a-z0-9_]+\.)*([A-Za-z0-9_]+)[$A-Za-z0-9_]*\.([^(]+)\(.*""".r

  /** `Class.method` of the innermost `graft.` frame of a call site's long
    * form (lambda and companion suffixes stripped), or "other".
    */
  def graftFrame(longForm: String): String =
    longForm.split("\n").iterator.map(_.trim).collectFirst {
      case Frame(cls, method) =>
        val m = method.split("\\$").filter(p => p.nonEmpty && p != "anonfun" &&
          !p.forall(_.isDigit)).headOption.getOrElse(method)
        s"$cls.$m"
    }.getOrElse("other")
}

/** Collects every streaming progress report. Registered in traced and
  * untraced runs alike: per-trigger latency is an end-to-end metric.
  */
final class ProgressRecorder extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)

  /** Reports of triggers that ran a batch, for the named query. */
  def batches(queryName: String): Seq[StreamingQueryProgress] =
    seen.asScala.toSeq.filter(p => p.name == queryName && p.numInputRows > 0)
      .sortBy(_.batchId)

  def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
}

/** Samples, every `periodMs`, the stacks of threads that are inside Spark
  * while running engine code, keeping each one's innermost `graft.` frame.
  * A stream runs every batch's jobs under the call site of the query's
  * start, so the job's own call site cannot say which engine method ran
  * it; the sample taken while the job ran can. Samples only while
  * `active()` holds.
  */
final class StackSampler(periodMs: Long, active: () => Boolean)
    extends Thread("cdcbench-stack-sampler") {
  setDaemon(true)
  @volatile private var running = true
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]

  override def run(): Unit = while (running) {
    val at = System.currentTimeMillis()
    if (active()) for (st <- Thread.getAllStackTraces.values.asScala) {
      val graft = st.indexWhere(_.getClassName.startsWith("graft."))
      if (graft > 0 && st.take(graft).exists(_.getClassName.startsWith("org.apache.spark.")))
        samples.synchronized(samples += ((at, JobRecorder.graftFrame(st(graft).toString))))
    }
    Thread.sleep(periodMs)
  }

  def finish(): Unit = { running = false; join() }

  /** The frame seen most often while [startMs, endMs] ran, if any. */
  def siteOf(startMs: Long, endMs: Long): Option[String] = {
    val in = samples.synchronized(samples.filter { case (t, _) => t >= startMs && t <= endMs }.toList)
    if (in.isEmpty) None else Some(in.groupBy(_._2).maxBy(_._2.size)._1)
  }
}
