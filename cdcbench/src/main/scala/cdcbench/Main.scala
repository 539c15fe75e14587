package cdcbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import Util._

/** Benchmark entry point. One JVM runs one workload once:
  *
  *   Main --workload upsert-cow|upsert-mor --seed N --seconds S --trace 0|1
  *        --work DIR --cores C [--tiny 1] [--tamper 1]
  *
  * It prints one line `CDCBENCH_RESULT {json}` with the metrics, the
  * operation counts and the effective configuration. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the run records spans
  * and Spark jobs and reports the per-layer ones instead. The runner
  * (`run.py`) adds the DuckDB check of the operator queries and prints the
  * final result line. `--tiny 1` shrinks the log and the corpus for the
  * harness's own smoke test; `--tamper 1` drops one row from the replay
  * oracle's answer, so the run must report a wrong table.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, cores: Int, tiny: Boolean, tamper: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    def get(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    def flag(k: String) = kv.contains((k, "1"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("cores").toInt, flag("tiny"), flag("tamper"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"cdcbench-${o.workload}")
      .config("spark.sql.extensions", "graft.lake.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.names.contains(o.workload), s"unknown workload ${o.workload}")
    val steal0 = cpuTimes()
    val t0 = now()
    val spark = session(o)
    val sessionS = secs(t0, now())
    val tracer = new Tracer(o.trace)
    val rec = if (o.trace) Some(new JobRecorder) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    val sampler = rec.map(r => new StackSampler(10, () => r.recording))
    sampler.foreach(_.start())
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)

    val out = new Measured
    val afterGc = new HeapAfterGc
    val heap = mutable.ArrayBuffer.empty[Double]
    val shape = Workloads.cdc(o.workload, o.seconds, o.tiny)
    val cdc = new Cdc(spark, o.work, o.seed, shape, tracer, rec, out, o.tamper)
    val setups = (0 until Workloads.setupReps).map(r => timed(cdc.setupOnce(r))._2)
    heap += liveHeapMb()
    val tTimed = now()
    cdc.timedPhase(progress, () => heap += liveHeapMb())
    heap += liveHeapMb()
    // the checks hold the oracle's rows in this JVM: not the engine's heap
    afterGc.stop()
    heap += afterGc.peakMb
    val tCheck = now()
    cdc.check()
    val phases = Map("timed_s" -> secs(tTimed, tCheck), "check_s" -> secs(tCheck, now()),
      "steal_pct" -> stealPct(steal0))
    out.put("setup_s", med(setups), "s")
    out.put("load_eps", med(cdc.loadEps.toSeq), "events/s")
    out.put("heap_live_peak_mb", heap.max, "MiB")

    var config = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> o.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session_s" -> sessionS, "setup_reps_s" -> setups, "compact_reps_s" -> cdc.compactReps, "phase_s" -> phases, "shape" -> shape.toString,
      "events" -> cdc.eventCounts, "merge_stats" -> cdc.mergeCounts.toMap,
      "feed_stale_rows" -> cdc.feedStaleRows,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
      })

    val metrics =
      if (!o.trace) out.values.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val (docs, vectors) = Workloads.corpus(o.tiny)
        val corpusDir = s"${o.work}/corpus"
        Corpus.generate(spark, corpusDir, docs, vectors, o.seed)
        // the untimed first pass warms each query and writes the results the
        // runner checks against DuckDB; the second pass is the measured one
        for (q <- Corpus.queries) Corpus.run(spark, corpusDir, q, Some(s"${o.work}/results/$q"))
        for (q <- Corpus.queries) {
          tracer.span(s"ops.$q")(Corpus.run(spark, corpusDir, q, None))
          out.attempted += 1
        }
        config ++= Map("documents" -> docs, "vectors" -> vectors, "queries" -> Corpus.queries,
          "oracle_sql" -> Corpus.queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
        org.apache.spark.ListenerDrain(spark.sparkContext)
        sampler.foreach(_.finish())
        config += "job_sites" -> Report.sites(rec.get, sampler.get)
        // too few samples beyond them, or too noisy from run to run, to be
        // bounded: reported with the layers instead
        val unbounded = Seq("load_eps", "batch_latency_p75_s", "lookup_p90_ms")
          .map(k => (k, out.values(k)._1, out.values(k)._2))
        Report.perLayer(tracer, rec.get, sampler.get, progress, cdc, out, o.cores) ++ unbounded
      }

    val result = Map(
      "metrics" -> scala.collection.immutable.ListMap(
        metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }: _*),
      "attempted" -> out.attempted, "failed" -> out.failed, "notes" -> out.notes,
      "config" -> config)
    println("CDCBENCH_RESULT " + json(result))
    spark.stop()
  }
}

/** Workload sizes. Each is fixed by `--seconds` (and `--tiny`), so the same
  * arguments always give the same work.
  */
object Workloads {
  val names: Seq[String] = Seq("upsert-cow", "upsert-mor")

  /** Set-ups per run; `setup_s` is their median. The first also warms the
    * JVM, so the median is a warm one.
    */
  val setupReps = 3

  def cdc(w: String, seconds: Int, tiny: Boolean): CdcShape =
    CdcShape(deferred = w == "upsert-mor",
      baseSegs = if (tiny) 1 else 4, warmSegs = 1, timedSegs = math.max(2, seconds),
      segEvents = if (tiny) 300L else 2000L,
      lookups = math.max(2, 3 * seconds / 2), scans = 7,
      repos = 50, pathsPerRepo = 40, compactRows = 10000L)

  /** (documents, vectors) of the corpus the traced run's operator queries read. */
  def corpus(tiny: Boolean): (Int, Int) = (if (tiny) 60 else 500, 500)
}
