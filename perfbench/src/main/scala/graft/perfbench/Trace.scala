package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark-side totals of one attribution key: a span's job group, or one
  * streaming micro-batch (`batch:<id>`). */
final class KeyStats {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val executions = mutable.LinkedHashSet.empty[Long]
}

/** Executed-plan shape summed over a key's SQL executions. Cached plans
  * (`InMemoryTableScan`) and reused exchanges are not descended into, so
  * each operator counts where it executes. */
final case class PlanShape(operators: Int, exchanges: Int, shuffleJoins: Int,
                           broadcastJoins: Int, sourceScans: Int)

/** Attributes job, stage and task metrics to the job group that was set
  * when the job was submitted. Streaming micro-batches are keyed by their
  * batch id instead, because the stream thread owns their job group. */
final class SpanListener extends SparkListener {
  private val stats = mutable.HashMap.empty[String, KeyStats]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobOpen = mutable.HashMap.empty[Int, (String, Long)]
  private val plans = mutable.HashMap.empty[Long, SparkPlanInfo]
  private val fences = mutable.HashSet.empty[String]

  private def keyOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap { props =>
      Option(props.getProperty("streaming.sql.batchId")).map("batch:" + _)
        .orElse(Option(props.getProperty("spark.jobGroup.id")))
    }

  private def st(k: String): KeyStats = stats.getOrElseUpdate(k, new KeyStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      jobOpen(e.jobId) = (k, e.time)
      st(k).jobs += 1
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(id => st(k).executions += id.toLong)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (k, t0) =>
      st(k).jobIntervals += ((t0, e.time))
      if (k.startsWith(Tracer.FencePrefix)) fences += k
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOf(e.properties).foreach(k => stageKey(e.stageInfo.stageId) = k)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageKey.get(e.stageId).foreach { k =>
      val s = st(k)
      s.taskRunMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }

  def fenceSeen(k: String): Boolean = synchronized(fences.contains(k))

  def get(k: String): Option[KeyStats] = synchronized(stats.get(k))

  def planShape(k: String): PlanShape = synchronized {
    var ops, exch, smj, bhj, scans = 0
    def walk(p: SparkPlanInfo): Unit = {
      val n = p.nodeName
      ops += 1
      if (n == "Exchange" || n == "BroadcastExchange") exch += 1
      if (n == "SortMergeJoin" || n == "ShuffledHashJoin") smj += 1
      if (n == "BroadcastHashJoin" || n == "BroadcastNestedLoopJoin") bhj += 1
      if (n.startsWith("Scan ")) scans += 1
      if (n != "InMemoryTableScan" && !n.startsWith("Reused")) p.children.foreach(walk)
    }
    stats.get(k).foreach(_.executions.foreach(id => plans.get(id).foreach(walk)))
    PlanShape(ops, exch, smj, bhj, scans)
  }
}

/** One traced interval: a layer call made from the benchmark, or a run. */
final class Span(val id: Int, val name: String, val parent: Int, val run: String,
                 val start: Long) {
  var end: Long = 0L
  /** Counts the benchmark records at the layer boundary (rows in/out…). */
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def group: String = s"perfbench-span-$id"
  def seconds: Double = (end - start) / 1e9
}

object Tracer {
  val FencePrefix = "perfbench-fence-"
}

/** In-memory span recorder. `span` sets the Spark job group to the span,
  * so the listener attributes every job the body submits to it; spans
  * are written as JSON lines by [[writeJsonl]] when the benchmark ends. */
final class Tracer(spark: SparkSession, cores: Int) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var fenceN = 0

  def all: Seq[Span] = spans.toSeq

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(sp) => spark.sparkContext.setJobGroup(sp.group, sp.name, interruptOnCancel = false)
    case None => spark.sparkContext.clearJobGroup()
  }

  def span[T](name: String, run: String)(body: Span => T): T = {
    nextId += 1
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0), run, System.nanoTime())
    spans += s
    stack = s :: stack
    setGroup(Some(s))
    try body(s)
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      setGroup(stack.headOption)
    }
  }

  /** Waits until the listener has seen every event posted so far: the
    * listener bus delivers in order, so once a marker job's end arrives,
    * all earlier jobs, stages and tasks have been delivered too. */
  def fence(): Unit = {
    fenceN += 1
    val k = Tracer.FencePrefix + fenceN
    val sc = spark.sparkContext
    sc.setJobGroup(k, "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally setGroup(stack.headOption)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!listener.fenceSeen(k)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(5)
    }
  }

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Length of the union of [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double =
    (s.end - s.start - covered(children(s).map(c => (c.start, c.end)))) / 1e9

  /** Spark totals of the span itself (children have their own group). */
  def own(s: Span): KeyStats = listener.get(s.group).getOrElse(new KeyStats)

  /** Wall seconds during which at least one job of `k` was running. */
  def jobBusySeconds(k: KeyStats): Double = covered(k.jobIntervals.toSeq) / 1e3

  /** Σ task run time ÷ (wall × cores). */
  def busyShare(k: KeyStats, wallS: Double): Double =
    if (wallS <= 0) 0.0 else k.taskRunMs / 1e3 / (wallS * cores)

  def record(s: Span): Map[String, Any] = {
    val k = own(s)
    val p = listener.planShape(s.group)
    Map("span" -> s.name, "id" -> s.id, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
      "self_s" -> selfSeconds(s), "jobs" -> k.jobs,
      "job_busy_s" -> jobBusySeconds(k),
      "shuffle_write_bytes" -> k.shuffleWriteBytes,
      "shuffle_write_records" -> k.shuffleWriteRecords,
      "shuffle_read_bytes" -> k.shuffleReadBytes,
      "spill_bytes" -> k.spillBytes, "gc_s" -> k.gcMs / 1e3,
      "busy_share" -> busyShare(k, s.seconds),
      "plan_operators" -> p.operators, "exchanges" -> p.exchanges,
      "shuffle_joins" -> p.shuffleJoins, "broadcast_joins" -> p.broadcastJoins) ++
      s.counts
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Json.encode(record(s)))) finally w.close()
  }
}
