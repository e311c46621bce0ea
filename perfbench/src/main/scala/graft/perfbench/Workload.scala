package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A closed-loop workload: one run is one execution of the job, started
  * when the previous one (and the run hygiene) has finished. */
trait BatchWorkload {
  /** Builds every input into `dir` and returns profile facts about them. */
  def setup(dir: String): Map[String, Any]
  /** The untraced job. */
  def run(runId: String): Unit
  /** The same job decomposed into traced layer calls. */
  def traced(tr: Tracer, runId: String): Unit
  /** Order-independent digest of a run's output, taken after its timer
    * stopped; a traced run must give the untraced runs' digest. */
  def digest(runId: String): String
  /** Records the job reads per run (the `docs_per_s` numerator). */
  def inputRecords: Long
  /** Layer-specific ratios from a traced run's per-layer totals. */
  def derive(layer: String, v: Map[String, Double]): Map[String, Double] = Map.empty
  /** Checks and facts written once after the runs (oracle inputs…). */
  def finish(): Map[String, Any] = Map.empty
}

/** Helpers shared by the traced decompositions. */
final class Cuts(spark: SparkSession) {
  private val held = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Materializes `df` as an eager local checkpoint (no extra count
    * exchange) and returns it with its row count, observed inline. */
  def cut(df: DataFrame, name: String): (DataFrame, Long) = {
    val (o, obs) = graft.ops.Metrics.observed(df, s"perfbench_$name", count(lit(1)).as("n"))
    val ck = o.localCheckpoint()
    ck.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => held += l.rdd
      case _ =>
    }
    (ck, obs.get("n").asInstanceOf[Long])
  }

  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
}

object Digest {
  def sha256(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** A frame's rows as tab-separated lines, nulls as `\N`. */
  def lines(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t"))

  /** Order-independent digest of the lines of a directory's part files. */
  def ofTextDir(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val parts = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
    finally s.close()
    sha256(parts.flatMap(p => java.nio.file.Files.readAllLines(p).asScala))
  }
}
