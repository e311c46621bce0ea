package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload. Usage (run.py builds the class
  * path and passes these):
  *
  * {{{
  * graft.perfbench.Harness --workload ngram_top100|pretrain_ladder|gate_stream|archive
  *   --seed N --seconds S --trace 0|1 --work DIR --result FILE --launch-ms EPOCH_MS
  * }}}
  *
  * Builds the inputs from the seed, warms up, then measures for S seconds
  * and writes one JSON object to FILE: end-to-end values (`--trace 0`) or
  * per-layer values (`--trace 1`), the attempted/failed counts, and the
  * profile. With `--trace 1` the spans also go to `DIR/trace.jsonl`.
  * `--workload archive` is the untimed pass run.py records the JVM's
  * class-data archive from. */
object Harness {

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The one session every workload runs in: `local[cpus]`, shuffle
    * partitions = cpus, UTC, parquet nanos as longs, scratch under DIR. */
  def session(work: String, conf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session settings that belong to one workload's profile. */
  def workloadConf(workload: String): Map[String, String] = workload match {
    // a 128 KiB broadcast threshold keeps the scaled-down count table
    // several times above it, so the c1/c2 joins plan as shuffle joins
    // the way they do on a full corpus at the 10 MiB default
    case "ngram_top100" => Map(
      "spark.sql.autoBroadcastJoinThreshold" -> Sizes.ngramBroadcastThreshold.toString,
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> Sizes.ngramBroadcastThreshold.toString)
    case _ => Map.empty
  }

  private def now(): Long = System.nanoTime()

  /** Seconds since launch at which each phase ended (diagnostics). */
  val timeline: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var launchMs = 0L
  def mark(phase: String): Unit =
    timeline.synchronized { timeline(phase) = (System.currentTimeMillis() - launchMs) / 1e3 }
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Clears every cache and persisted RDD, checks both counts are back at
    * the session's baseline, and returns what the previous run left. */
  final class Hygiene(spark: SparkSession) {
    private val sc = spark.sparkContext
    private def cachedTables: Int = {
      val cm = spark.sharedState.cacheManager
      val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
      f.setAccessible(true)
      f.get(cm).asInstanceOf[Seq[_]].size
    }
    private val baseRdds = sc.getPersistentRDDs.size
    private val baseCached = cachedTables
    var maxLeftRdds = 0
    var maxLeftCached = 0

    def apply(): Unit = {
      maxLeftRdds = math.max(maxLeftRdds, sc.getPersistentRDDs.size - baseRdds)
      maxLeftCached = math.max(maxLeftCached, cachedTables - baseCached)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      require(sc.getPersistentRDDs.size == baseRdds && cachedTables == baseCached,
        "caches are not back at their pre-run level")
      System.gc()
    }

    def report: Map[String, Any] =
      Map("leftover_persistent_rdds_max" -> maxLeftRdds, "leftover_cached_tables_max" -> maxLeftCached)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    launchMs = a("launch-ms").toLong
    val spark = session(work, workloadConf(workload))
    mark("session")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "profile" -> Map("cpus" -> cpus, "master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "conf" -> Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
          "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.adaptive.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
          .map(k => k -> spark.conf.getOption(k).getOrElse("default")).toMap),
      "session_s" -> sessionS)
    try {
      if (workload == "archive") {
        // the untimed pass run.py records the class-data archive from. The
        // gate's set-up and stream load nearly every class the other two
        // workloads load: a ladder or n-gram run maps as much from this
        // archive as from one recorded over all three workloads.
        measure(spark, "gate_stream", s"$work/gate_stream", seed, seconds, trace)
      } else {
        val measured = measure(spark, workload, work, seed, seconds, trace)
        result ++= measured
        result("setup_s") = sessionS + measured("setup_data_s").asInstanceOf[Double]
      }
    } finally {
      result("peak_rss_mb") = peakRssMb()
      mark("end")
      result("timeline_s") = timeline
      val w = new java.io.PrintWriter(a("result"), "UTF-8")
      try w.println(Json.encode(result)) finally w.close()
      spark.stop()
    }
  }

  def measure(spark: SparkSession, workload: String, work: String, seed: Long, seconds: Double,
              trace: Boolean): Map[String, Any] = workload match {
    case "ngram_top100" =>
      measureBatch(spark, new NGramTop100(spark, work, seed, Sizes.ngramSpec), work, seconds, trace,
        Sizes.ngramWarmupRuns, Sizes.ngramSetupReps)
    case "pretrain_ladder" =>
      measureBatch(spark, new PretrainLadder(spark, work, seed), work, seconds, trace,
        Sizes.ladderWarmupRuns, Sizes.ladderSetupReps)
    case "gate_stream" =>
      new GateStream(spark, work, seed).measure(seconds, trace)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** (steal, total) CPU ticks from /proc/stat. Steal is time a hypervisor
    * gave the virtual CPUs to other guests, the main source of run-to-run
    * spread on a shared host. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
    (f(7), f.sum)
  }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** High-water resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Runs `setup` into `reps` fresh directories and returns the median
    * time with the facts of the last one. */
  def timedSetup(reps: Int, work: String)(setup: String => Map[String, Any]): (Double, Map[String, Any]) = {
    var facts = Map.empty[String, Any]
    val ts = (1 to reps).map { i =>
      val t0 = now()
      facts = setup(s"$work/input-$i")
      secs(t0, now())
    }
    (Stats.median(ts), facts)
  }

  def timingMetrics(samples: Seq[Double], records: Long): Map[String, Any] = {
    val (tail, pct) = Stats.tail(samples)
    val med = Stats.median(samples)
    // closed loop: a run is due when the previous one ends, so its
    // latency from due time to completion is its run time
    Map("run_s" -> med, "run_tail_s" -> tail, "run_tail_pct" -> pct,
      "batch_latency_p50_s" -> med, "batch_latency_tail_s" -> tail,
      "docs_per_s" -> records / med, "samples" -> samples.length, "run_samples_s" -> samples)
  }

  def measureBatch(spark: SparkSession, w: BatchWorkload, work: String, seconds: Double,
                   trace: Boolean, warmupRuns: Int, setupReps: Int): Map[String, Any] = {
    val setupFacts = mutable.LinkedHashMap.empty[String, Any]
    val (setupS, facts) = timedSetup(setupReps, work) { dir =>
      val f = w.setup(dir)
      setupFacts.get("sha256").foreach(prev =>
        require(prev == f.getOrElse("sha256", prev), "the same seed must give byte-identical inputs"))
      setupFacts ++= f
      f
    }
    mark("setup")
    val hygiene = new Hygiene(spark)
    val tracer = if (trace) Some(new Tracer(spark, cpus)) else None
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    hygiene()
    // Warm-up runs are not timed; the first run's digest, warm-up or not,
    // is the reference every later run must reproduce. Traced runs are
    // compared with warm untraced runs, so trace mode warms up at least once.
    var reference = Option.empty[String]
    def check(runId: String): Boolean = {
      val d = w.digest(runId)
      if (reference.isEmpty) reference = Some(d)
      reference.contains(d)
    }
    (1 to (if (trace) math.max(1, warmupRuns) else warmupRuns)).foreach { i =>
      hygiene()
      w.run(s"warmup-$i")
      require(check(s"warmup-$i"), "warm-up runs disagree on the output")
    }
    // a workload timed warm gets a traced warm-up too, so the overhead
    // ratio compares warm runs
    if (warmupRuns > 0) tracer.foreach { tr =>
      hygiene()
      w.traced(tr, "traced-warmup")
      require(check("traced-warmup"), "the traced run's output differs from the untraced runs'")
    }
    /** Runs one attempt; returns its wall time when it ran and its output
      * matched the reference digest. */
    def attempt(runId: String)(job: => Unit): Option[Double] = {
      attempted += 1
      val t0 = now()
      val ok = try {
        job
        val t = secs(t0, now())
        Some(t).filter(_ => check(runId))
      } catch { case e: Exception => errors += s"$runId: $e"; None }
      if (ok.isEmpty) failed += 1
      ok
    }
    mark("warmup")
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(String, Double)]
    val deadline = now() + (seconds * 1e9).toLong
    val ticks0 = cpuTicks()
    var i = 0
    // at least one attempt, and in trace mode one untraced and one traced
    while (now() < deadline || i < (if (trace) 2 else 1)) {
      i += 1
      hygiene()
      tracer match {
        case Some(tr) if i % 2 == 0 =>
          val id = s"traced-$i"
          attempt(id)(w.traced(tr, id)).foreach(t => traced += ((id, t)))
        case Some(tr) =>
          val id = s"run-$i"
          attempt(id)(tr.span("untraced", id)(_ => w.run(id))).foreach(untraced += _)
        case None =>
          val id = s"run-$i"
          attempt(id)(w.run(id)).foreach(untraced += _)
      }
    }
    val steal = stealShare(ticks0, cpuTicks())
    hygiene()
    mark("measure")
    val out = mutable.LinkedHashMap[String, Any](
      "setup_data_s" -> setupS, "inputs" -> facts, "attempted" -> attempted, "failed" -> failed,
      "steal_share" -> steal,
      "errors" -> errors.take(5).toSeq, "hygiene" -> hygiene.report) ++ w.finish()
    mark("finish")
    if (untraced.isEmpty) return out.toMap
    tracer match {
      case None => out ++= timingMetrics(untraced.toSeq, w.inputRecords)
      case Some(tr) =>
        tr.fence()
        tr.writeJsonl(s"$work/trace.jsonl")
        val layers = layerMetrics(tr, traced.map(_._1).toSeq, w.derive)
        out("layers") = layers
        out("untraced_plan") = {
          val last = tr.all.filter(_.name == "untraced").last
          tr.record(last).filter { case (k, _) =>
            Set("plan_operators", "exchanges", "shuffle_joins", "broadcast_joins", "jobs",
              "shuffle_write_bytes")(k) }
        }
        if (traced.nonEmpty)
          out("trace.overhead_ratio") = Stats.median(traced.map(_._2).toSeq) / Stats.median(untraced.toSeq)
    }
    out.toMap
  }

  /** Per-layer values: each traced run's spans summed by layer name, the
    * workload's ratios derived, then the median over the traced runs. */
  def layerMetrics(tr: Tracer, runs: Seq[String],
                   derive: (String, Map[String, Double]) => Map[String, Double]): Map[String, Double] = {
    val perRun = runs.map { run =>
      tr.all.filter(s => s.run == run && s.name != "run").groupBy(_.name).flatMap { case (layer, spans) =>
        val ks = spans.map(tr.own)
        val wall = spans.map(_.seconds).sum
        val shapes = spans.map(s => tr.listener.planShape(s.group))
        val v = Map(
          "self_s" -> spans.map(tr.selfSeconds).sum,
          "jobs" -> ks.map(_.jobs).sum.toDouble,
          "shuffle_bytes" -> ks.map(_.shuffleWriteBytes).sum.toDouble,
          "shuffle_write_records" -> ks.map(_.shuffleWriteRecords).sum.toDouble,
          "spill_bytes" -> ks.map(_.spillBytes).sum.toDouble,
          "gc_s" -> ks.map(_.gcMs).sum / 1e3,
          "busy_share" -> (if (wall > 0) ks.map(_.taskRunMs).sum / 1e3 / (wall * cpus) else 0.0),
          "shuffle_joins" -> shapes.map(_.shuffleJoins).sum.toDouble,
          "broadcast_joins" -> shapes.map(_.broadcastJoins).sum.toDouble) ++
          spans.flatMap(_.counts.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        (v ++ derive(layer, v)).map { case (k, x) => s"$layer.$k" -> x }
      }
    }
    perRun.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(perRun.flatMap(_.get(k)))
    }.toMap
  }
}
