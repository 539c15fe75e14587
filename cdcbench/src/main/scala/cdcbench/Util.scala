package cdcbench

import java.lang.management.ManagementFactory

/** Small helpers shared by the workloads: timing, order statistics, files,
  * the live-heap probe and a minimal JSON writer.
  */
object Util {

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Run `f`, return its result and its wall time in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, secs(t0, now()))
  }

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def med(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmrf))
    p.delete()
  }

  /** Heap in use right after a full collection, in MiB. Called only at
    * phase boundaries, outside every timed region; a floor under
    * [[HeapAfterGc]], which sees the collections during the work.
    */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's cleaner released after the
    // first one (shuffle and broadcast state of finished jobs)
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  /** Share of CPU time stolen by the hypervisor since `from`, in percent. */
  def stealPct(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTimes()
    100.0 * (s1 - from._1) / math.max(1L, t1 - from._2)
  }

  def sha256Hex(s: String): String =
    if (s == null) null
    else java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  // ---- JSON ----

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => jstr(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => jstr(o.toString)
  }
}

/** The largest heap in use just after any collection, in MiB, from the
  * collectors' notifications: each reports the heap pools' usage after it
  * ran, so the peak includes collections in the middle of merges and reads.
  */
final class HeapAfterGc {
  import java.lang.management.MemoryType
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong
  @volatile private var on = true

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = peak.get / 1048576.0

  def stop(): Unit = {
    on = false
    emitters.foreach(_.removeNotificationListener(listener))
  }
}
