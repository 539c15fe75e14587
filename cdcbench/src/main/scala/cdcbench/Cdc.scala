package cdcbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.events.{EventLog, ReplayOracle}
import graft.lake.{DataFileEntry, LakeTable, MergeStats}
import graft.stream.CdcIngest
import Util._

/** Size and write strategy of one CDC workload. The log is
  * `base + warm + timed` WAL segments of `segEvents` events each (duplicate
  * deliveries ride on top). Set-up loads the base segments in one trigger,
  * merges the warm ones and compacts; the timed phase merges the timed
  * segments one per trigger, then runs the readers and one compaction
  * (timed five times from the same state).
  */
final case class CdcShape(
    deferred: Boolean,
    baseSegs: Int,
    warmSegs: Int,
    timedSegs: Int,
    segEvents: Long,
    lookups: Int,
    scans: Int,
    repos: Int,
    pathsPerRepo: Int,
    compactRows: Long)

/** Everything one run measured, before it becomes the printed metrics. */
final class Measured {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
  def fail(what: String): Unit = { failed += 1; notes += what }
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** (files, rows) read by the file scans of an executed frame. */
  def scanned(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
     scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}

/** One reader call: its two timed halves and what its scan touched. */
final case class ReadOp(planS: Double, execS: Double, files: Long, rowsRead: Long,
                        rowsOut: Long, traced: Boolean) {
  def totalS: Double = planS + execS
}

/** @param tamper drop one row from the oracle's answer, to show that the
  *               check reports a wrong table (the harness's own smoke test)
  */
final class Cdc(spark: SparkSession, work: String, seed: Long, val shape: CdcShape,
                tracer: Tracer, jobs: Option[JobRecorder], out: Measured,
                tamper: Boolean = false) {

  private val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val totalSegs = shape.baseSegs + shape.warmSegs + shape.timedSegs
  val numEvents: Long = shape.segEvents * totalSegs
  private val firstTimedLsn = shape.segEvents * (shape.baseSegs + shape.warmSegs)
  // one column is added half way through the timed segments, so every run
  // carries a schema change through the measured path
  private val schemaLsn = {
    val l = firstTimedLsn + shape.segEvents * shape.timedSegs / 2
    l - l % 2
  }
  private val cfg = EventLog.Config(
    numEvents = numEvents, numRepos = shape.repos, pathsPerRepo = shape.pathsPerRepo,
    schemaChangeLsns = Seq(schemaLsn), seed = seed)

  private var rep = 0
  private def dir(name: String) = s"$work/r$rep/$name"
  private def table = dir("table")

  // ------------------------------------------------------------------
  // set-up: log generation, base load, warm-up
  // ------------------------------------------------------------------

  /** Write the log and split its segment files into base/, warm/ and
    * timed/ directories; the file source replays each in segment order.
    */
  private def writeLog(): Unit = tracer.span("EventLog.write") {
    EventLog.write(spark, cfg, dir("all"), totalSegs)
    for (p <- fs.listStatus(new Path(dir("all"))).map(_.getPath)
         if p.getName.startsWith("seg-")) {
      val seg = p.getName.stripPrefix("seg-").takeWhile(_ != '-').toInt
      val part =
        if (seg < shape.baseSegs) "base"
        else if (seg < shape.baseSegs + shape.warmSegs) "warm" else "timed"
      fs.mkdirs(new Path(dir(part)))
      fs.rename(p, new Path(dir(part), p.getName))
    }
  }

  private def segFiles(d: String): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(new Path(d)).filter(_.getPath.getName.endsWith(".parquet")).toSeq

  private def ingest(events: String, epoch: String, perTrigger: Int): CdcIngest = {
    val in = new CdcIngest(spark, table, events, s"$table-cp-$epoch",
      epoch = epoch, maxFilesPerTrigger = perTrigger, deferred = shape.deferred)
    tracer.span("CdcIngest.runToCompletion")(in.runToCompletion())
    in
  }

  val loadEps = mutable.ArrayBuffer.empty[Double]

  /** One full set-up. Each repeats the same work; the last one's log and
    * table feed the timed phase.
    */
  def setupOnce(r: Int): Unit = {
    rep = r
    if (r > 0) rmrf(new java.io.File(s"$work/r${r - 1}"))
    writeLog()
    // the one-trigger load into an empty table: the catch-up shape
    val baseRows = spark.read.schema(EventLog.eventSchema).parquet(dir("base")).count()
    val (_, loadS) = timed(ingest(dir("base"), "base", segFiles(dir("base")).size))
    loadEps += baseRows / loadS
    val t = ingest(dir("warm"), "warm", 1).table
    // warm the readers while the warm batch is still unmerged, so the
    // merge-on-read resolution path is exercised too
    for (k <- t.read().select("repo", "path").limit(1).collect())
      lookup(t, k.getString(0), k.getString(1))
    feed(t, t.head().version)
    for (_ <- 1 to 2) scan(t)
    tracer.span("LakeTable.compact")(t.compact(shape.compactRows))
  }

  // ------------------------------------------------------------------
  // readers
  // ------------------------------------------------------------------

  private def lookup(t: LakeTable, repo: String, path: String): (Array[Row], ReadOp) =
    tracer.span("lookup") {
      val (df, plan) = timed(tracer.span("LakeTable.readWhere")(
        t.readWhere(col("repo") === repo && col("path") === path)))
      val (rows, exec) = timed(tracer.span("collect")(df.collect()))
      val (files, read) = PlanWalk.scanned(df)
      (rows, ReadOp(plan, exec, files, read, rows.length, recording))
    }

  private def feed(t: LakeTable, v: Long): (Array[Row], ReadOp) =
    tracer.span("feed") {
      val (df, plan) = timed(tracer.span("LakeTable.changesBetween")(t.changesBetween(v - 1, v)))
      val (rows, exec) = timed(tracer.span("collect")(df.collect()))
      val (files, read) = PlanWalk.scanned(df)
      (rows, ReadOp(plan, exec, files, read, rows.length, recording))
    }

  private def scan(t: LakeTable): ReadOp =
    tracer.span("LakeTable.read") {
      val df = t.read()
      val (n, s) = timed(df.queryExecution.toRdd.count())
      val (files, read) = PlanWalk.scanned(df)
      ReadOp(0.0, s, files, read, n, recording)
    }

  private def recording: Boolean = jobs.exists(_.recording)

  /** In a traced run, alternate readers between recording and not, so the
    * run can report what recording costs.
    */
  private def alternate[T](i: Int)(f: => T): T = jobs match {
    case Some(j) =>
      j.recording = i % 2 == 0
      try f finally j.recording = true
    case None => f
  }

  // ------------------------------------------------------------------
  // timed phase
  // ------------------------------------------------------------------

  private def dataFiles(): Map[String, Long] = {
    def walk(f: java.io.File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length()) else Nil
    walk(new java.io.File(table, "data")).toMap
  }

  var timedStats: Seq[MergeStats] = Nil
  var timedRows = 0L
  var logBytes = 0L
  var versions: (Long, Long) = (0L, 0L) // head before and after the timed ingest
  var compactVersions: (Long, Long) = (0L, 0L) // around the last compaction
  var compactReps: Seq[Double] = Nil
  val lookups = mutable.ArrayBuffer.empty[ReadOp]
  val pulls = mutable.ArrayBuffer.empty[ReadOp]
  val scans = mutable.ArrayBuffer.empty[ReadOp]
  private val lookedUp = mutable.LinkedHashMap.empty[(String, String), Array[Row]]
  private val pulled = mutable.LinkedHashMap.empty[Long, Array[Row]]
  private var finalTable: LakeTable = _

  /** @param checkpoint called between phases, outside every timed call */
  def timedPhase(progress: ProgressRecorder, checkpoint: () => Unit): Unit = {
    timedRows = spark.read.schema(EventLog.eventSchema).parquet(dir("timed")).count()
    logBytes = segFiles(dir("timed")).map(_.getLen).sum
    val keys = lookupKeys()
    val before = dataFiles()
    val v0 = new LakeTable(spark, table).head().version

    val (in, wall) = timed(ingest(dir("timed"), "timed", 1))
    val t = in.table
    finalTable = t
    timedStats = in.stats
    out.attempted += in.stats.size
    val written = dataFiles().filter { case (p, _) => !before.contains(p) }.values.sum
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val lat = progress.batches("graft-cdc-timed").map(p => progress.ms(p, "triggerExecution") / 1000.0)
    out.put("ingest_eps", timedRows / wall, "events/s")
    out.put("batch_latency_p50_s", med(lat), "s")
    out.put("batch_latency_p75_s", quantile(lat, 0.75), "s")
    out.put("write_amp", written.toDouble / logBytes, "ratio")
    checkpoint()

    // readers, one at a time, after the ingest
    for (((r, p), i) <- keys.zipWithIndex) {
      val (rows, op) = alternate(i)(lookup(t, r, p))
      lookedUp((r, p)) = rows
      lookups += op
    }
    val v1 = t.head().version
    versions = (v0, v1)
    for ((v, i) <- (v0 + 1 to v1).zipWithIndex) {
      val (rows, op) = alternate(i)(feed(t, v))
      pulled(v) = rows
      pulls += op
    }
    for (_ <- 1 to shape.scans) scans += scan(t)
    out.attempted += lookups.size + pulls.size + scans.size
    out.put("lookup_p50_ms", 1000 * med(lookups.map(_.totalS).toSeq), "ms")
    out.put("lookup_p90_ms", 1000 * quantile(lookups.map(_.totalS).toSeq, 0.9), "ms")
    out.put("feed_pull_p50_s", med(pulls.map(_.totalS).toSeq), "s")
    out.put("scan_s", med(scans.map(_.totalS).toSeq), "s")
    checkpoint()

    // the same compaction five times, each from the state the readers saw
    // (put back by a restore commit; compaction deletes no file), so that
    // compact_s is a median like the other times
    compactReps = (1 to 5).map { i =>
      if (i > 1) t.restoreTo(v1)
      val before = t.head().version
      val (_, s) = timed(tracer.span("LakeTable.compact")(t.compact(shape.compactRows)))
      compactVersions = (before, t.head().version)
      s
    }
    out.attempted += compactReps.size
    out.put("compact_s", med(compactReps), "s")
  }

  def result: LakeTable = finalTable

  private def allLog: DataFrame =
    spark.read.schema(EventLog.eventSchema).parquet(Seq("base", "warm", "timed").map(dir): _*)

  /** Seeded sample of keys that occur in the log. */
  private def lookupKeys(): Seq[(String, String)] =
    allLog.where(col("repo").isNotNull).select("repo", "path").distinct()
      .orderBy(xxhash64(lit(seed), col("repo"), col("path")))
      .limit(shape.lookups).collect().map(r => (r.getString(0), r.getString(1))).toSeq

  // ------------------------------------------------------------------
  // correctness, outside every timed region
  // ------------------------------------------------------------------

  /** The final (compacted) table against `ReplayOracle` on the same log,
    * the lookups against the oracle rows, and each pull against its batch.
    */
  def check(): Unit = {
    // the oracle folds the log with content already hashed: the per-row
    // check is the same and the fold, held in this JVM, stays small
    val rows = allLog.select(col("lsn"), col("event_id"), col("ts"), col("op"),
      col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content"), col("schema_change"), col("extra")).collect()
    val want = ReplayOracle.expected(spark, rows.toSeq)
    val oracle = want.collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
      .drop(if (tamper) 1 else 0)
    val got = finalTable.read()
    if (got.columns.toSeq != want.columns.toSeq)
      out.fail(s"final table columns ${got.columns.mkString(",")} != ${want.columns.mkString(",")}")
    else {
      val g = got.withColumn("content", sha2(col("content"), 256)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq)
      // rows that differ, keys the table lacks, and keys it holds twice
      val keys = g.map(_._1).distinct.length
      val bad = g.count { case (k, v) => !oracle.get(k).contains(v) } +
        math.max(0, oracle.size - keys) + (g.length - keys)
      if (bad > 0) out.fail(s"final table differs from the replay oracle in $bad rows")
    }
    for (((r, p), got) <- lookedUp) {
      val g = got.map(x => x.toSeq.updated(4, sha256Hex(x.getString(4))))
      val ok = oracle.get((r, p)) match {
        case Some(w) => g.length == 1 && g(0) == w
        case None => g.isEmpty
      }
      if (!ok) out.fail(s"lookup ($r, $p) differs from the replay oracle")
    }
    checkFeed()
  }

  /** Pulled rows that echo a stale duplicate delivery (see [[checkFeed]]). */
  var feedStaleRows = 0L

  /** Each pull of version v against the batch that committed v: one row per
    * key whose newest event in that batch is newer than every earlier event
    * of the key, carrying that event's lsn and whether it was a delete,
    * stamped with v; no key twice.
    *
    * A key whose newest event in the batch is a stale duplicate delivery
    * (no newer than what the key already had) did not change. The deferred
    * merge's one-commit pull still returns such a key, with the duplicate's
    * own lsn (now and then older than the key's current row): a row an
    * lsn-ordered consumer ignores. Those rows are counted in
    * [[feedStaleRows]] rather than failed; any other row is wrong.
    */
  private def checkFeed(): Unit = {
    type Key = (String, String)
    type Ev = (Long, Boolean) // lsn, delete
    def segOf(file: String) =
      file.substring(file.lastIndexOf('/') + 1).stripPrefix("seg-").takeWhile(_ != '-').toInt
    val events = allLog.where(col("repo").isNotNull)
      .select(input_file_name(), col("lsn"), col("op"), col("repo"), col("path")).collect()
      .map(r => (segOf(r.getString(0)), (r.getString(3), r.getString(4)), r.getLong(1),
        r.getString(2) == "delete"))
      .groupBy(_._1)
    val newest = mutable.Map.empty[Key, Long].withDefaultValue(-1L)
    // (changed, stale) keys of one segment, each with its newest event
    def fold(seg: Int): (Map[Key, Ev], Map[Key, Ev]) = {
      val win = events.getOrElse(seg, Array.empty).groupBy(_._2).map { case (k, es) =>
        val e = es.maxBy(_._3)
        k -> (e._3, e._4)
      }
      val split = win.partition { case (k, (lsn, _)) => lsn > newest(k) }
      for ((k, (lsn, _)) <- win) newest(k) = math.max(newest(k), lsn)
      split
    }
    val firstTimed = shape.baseSegs + shape.warmSegs
    (0 until firstTimed).foreach(fold)
    val batches = timedStats.filterNot(_.noOp).sortBy(_.batchId)
    val byVersion = batches.zipWithIndex.map { case (st, i) => st.version -> fold(firstTimed + i) }.toMap
    if (batches.size != shape.timedSegs)
      out.fail(s"${batches.size} timed batches for ${shape.timedSegs} segments")
    for ((v, rows) <- pulled) {
      val got = rows.map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) ->
        (r.getAs[Long]("_lsn"), r.getAs[Boolean]("_deleted")))
      val (want, stale) = byVersion.getOrElse(v, (Map.empty[Key, Ev], Map.empty[Key, Ev]))
      val (echoed, rest) = got.partition { case (k, e) => stale.get(k).contains(e) }
      feedStaleRows += echoed.length
      val wrong = (rest.toSet -- want.toSet).size + (want.toSet -- rest.toSet).size +
        (got.length - got.map(_._1).distinct.length) + rows.count(_.getAs[Long]("_ver") != v)
      if (!byVersion.contains(v) || wrong > 0)
        out.fail(s"change feed of version $v: ${rest.length} rows for ${want.size} changed keys, $wrong wrong")
    }
  }

  def mergeCounts: Seq[(String, Double)] = {
    val s = timedStats.filterNot(_.noOp)
    Seq(
      "lake.events_seen" -> s.map(_.eventsSeen).sum.toDouble,
      "lake.duplicates_dropped" -> s.map(_.duplicatesDropped).sum.toDouble,
      "lake.upserts" -> s.map(_.upserts).sum.toDouble,
      "lake.deletes" -> s.map(_.deletes).sum.toDouble,
      "lake.schema_changes" -> s.map(_.schemaChanges).sum.toDouble,
      "lake.quarantined" -> s.map(x => x.schemaQuarantined + x.constraintQuarantined).sum.toDouble)
  }

  def files(v: Long): Seq[DataFileEntry] = finalTable.log.read(v).files

  /** Bytes of the whole log, all segments. */
  def logBytesAll: Long = Seq("base", "warm", "timed").map(d => segFiles(dir(d)).map(_.getLen).sum).sum

  def eventCounts: Map[String, Long] = Map(
    "log_events" -> numEvents, "segment_events" -> shape.segEvents,
    "base_segments" -> shape.baseSegs.toLong, "warm_segments" -> shape.warmSegs.toLong,
    "timed_segments" -> shape.timedSegs.toLong, "timed_rows" -> timedRows,
    "timed_log_bytes" -> logBytes, "lookups" -> shape.lookups.toLong)
}
