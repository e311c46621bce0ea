package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.pipelines.PretrainCorpus
import graft.streaming.{PretrainStream, QualityStream}

/** `gate_stream`: `PretrainStream.gate` as a Structured Streaming query
  * over parquet shard drops, set up as the streaming tests set it up:
  * the gate index, the three modality indexes and the two semantic
  * indexes over the even half, the quality and language models, and the
  * odd half's non-benchmark pages as arrivals. Open loop: shard k is due
  * at t0 + k × interval whatever the query is doing, and its latency runs
  * from that due time to the commit of its audit partition. */
final class GateStream(spark: SparkSession, work: String, seed: Long) {
  import GateStream.Progress
  private val thr = 0.28
  private def dir(p: String) = s"$work/$p"

  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch")) progress.synchronized {
        progress += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      }
    }
  }

  private var shards: Seq[(String, Long)] = Nil // (staged file, arrivals)
  private var arrivals: DataFrame = _
  private var payloads: DataFrame = _
  private var emb: DataFrame = _
  private var w: Seq[Double] = _
  private var lm: graft.text.LangIdClassifier.LangIdModel = _

  /** Inputs, indexes, models and the staged shard files. */
  def setup(in: String): Map[String, Any] = {
    val nShards = measuredShards
    val nDocs = nShards * Sizes.gateDocsPerShard
    DocCorpus.write(spark, in, seed, nDocs)
    val docs = spark.read.parquet(s"$in/documents.parquet")
    emb = spark.read.parquet(s"$in/embeddings.parquet")
    val pages = docs.select(col("doc_id"), col("source"), col("lang"),
      PretrainCorpus.dirtyPageV2.as("text"))
    val evenRaw = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    // the indexes and models do not depend on each other, so they are
    // built side by side, as a deployment's set-up jobs would be
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Seq(
      Future(PretrainStream.writeGateIndex(pages, s"$in/idx", benchPred = col("source") === "src0",
        corpusPred = pmod(col("doc_id"), lit(2L)) === 0 && col("source") =!= "src0")),
      Future {
        graft.dedup.Dedup.writeImagePhashIndex(evenRaw, s"$in/mm/img")
        graft.dedup.Dedup.writeAudioFpIndex(evenRaw, s"$in/mm/aud")
        graft.dedup.Dedup.writeVideoFpIndex(evenRaw, s"$in/mm/vid")
      },
      Future {
        graft.dedup.Dedup.writeSemanticDeconIndex(emb.filter(pmod(col("vec_id"), lit(10L)) === 0),
          s"$in/sem", nClusters = 8, iters = 2, trainStride = 1)
        graft.dedup.Dedup.writeSemanticGateIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
          s"$in/semgate", nClusters = 8, iters = 2, minCos = 0.4, trainStride = 1)
      },
      Future {
        w = QualityStream.buildModel(docs, s"$in/model")
        lm = graft.text.LangIdClassifier.train(docs)
        graft.text.LangIdClassifier.writeModel(lm, s"$in/langid", spark)
      }).foreach(Await.result(_, Duration.Inf))
    finally pool.shutdown()
    Harness.mark("setup.indexes")
    val odd0 = docs.filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
    // the seed fixes which arrivals share a shard; buckets hold about
    // gateShardRows arrivals and the first nShards of them are dropped
    val buckets = (odd0.count() / Sizes.gateShardRows).toInt
    require(buckets >= nShards, s"$buckets shards of arrivals, $nShards needed")
    val shardOf = pmod(xxhash64(col("doc_id"), lit(seed)), lit(buckets.toLong))
    val odd = odd0.filter(shardOf < nShards)
    arrivals = pages.join(odd.select("doc_id"), Seq("doc_id"), "left_semi")
    payloads = odd.select("doc_id", "text")
    arrivals.withColumn("n_chars", length(col("text")).cast("long"))
      .join(odd.select(col("doc_id"), col("text").as("payload_text")), Seq("doc_id"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
        col("payload_text"), col("embedding"),
        shardOf.as("shard"))
      .repartition(1).write.mode("overwrite").partitionBy("shard").parquet(s"$in/shards")
    shards = (0 until nShards).map { k =>
      val d = Paths.get(s"$in/shards/shard=$k")
      val part = Files.list(d).iterator().asScala.find(_.toString.endsWith(".parquet")).get
      val rows = spark.read.parquet(part.toString).count()
      (part.toString, rows)
    }
    Map("documents" -> nDocs, "embeddings" -> emb.count(),
      "arrivals" -> shards.map(_._2).sum, "shards" -> nShards,
      "shard_rows" -> shards.map(_._2), "shard_bytes_median" ->
        Stats.median(shards.map(s => Files.size(Paths.get(s._1)).toDouble)),
      "drop_interval_s" -> Sizes.gateIntervalS, "index_bytes" -> DocCorpus.sizeOf(in))
  }

  private def startGate(in: String, watch: String): org.apache.spark.sql.streaming.StreamingQuery =
    PretrainStream.gate(PretrainStream.readGateStream(spark, watch),
      s"$in/model", s"$in/langid", thr = thr, gateIndexDir = s"$in/idx",
      imageIdxDir = s"$in/mm/img/image_phash_banded", audioIdxDir = s"$in/mm/aud/audio_fp_banded",
      videoIdxDir = s"$in/mm/vid/video_fp_banded", semIdxDir = s"$in/sem",
      semGateIdxDir = s"$in/semgate", outDir = dir("audit"), checkpoint = dir("checkpoint"))

  private def drop(k: Int, watch: String): Unit = {
    val tmp = Paths.get(watch).resolveSibling(f"staging-$k%04d.parquet")
    Files.copy(Paths.get(shards(k)._1), tmp)
    Files.move(tmp, Paths.get(watch).resolve(f"shard-$k%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def gateOn(in: String, batch: DataFrame, pay: DataFrame, arrEmb: DataFrame): DataFrame = {
    val s = spark
    PretrainStream.gateBatch(batch, pay, w, thr, lm,
      s.read.parquet(s"$in/idx/boilerplate"), s.read.parquet(s"$in/idx/anchors"),
      s.read.parquet(s"$in/idx/bench"), s.read.parquet(s"$in/idx/dedup/minhash_buckets"),
      s.read.parquet(s"$in/idx/dedup/shingle_sets"),
      s.read.parquet(s"$in/mm/img/image_phash_banded"), s.read.parquet(s"$in/mm/aud/audio_fp_banded"),
      s.read.parquet(s"$in/mm/vid/video_fp_banded"), arrEmb,
      s.read.parquet(s"$in/sem/bench"), graft.similarity.Ann.readIvfModel(s, s"$in/sem/centroids"),
      s.read.parquet(s"$in/semgate/kept"), graft.similarity.Ann.readIvfModel(s, s"$in/semgate/centroids"))
  }

  private val auditCols = Seq("doc_id", "source", "score", "quality_pass", "decon_flag",
    "dup_flag", "dup_match_id", "dup_jaccard", "image_dup_flag", "image_match_id", "image_hamming",
    "audio_dup_flag", "audio_match_id", "audio_hamming", "video_dup_flag", "video_match_id",
    "video_hamming", "sem_decon_flag", "sem_match_id", "sem_cos", "sem_dup_flag",
    "sem_dup_match_id", "sem_dup_cos", "lang_pred", "lang_ok", "keep")

  /** Shards due in the measured window: one per started drop interval,
    * at least one. */
  private var measuredShards = 0

  def measure(seconds: Double, trace: Boolean): Map[String, Any] = {
    measuredShards = math.max(1, math.ceil(seconds / Sizes.gateIntervalS).toInt)
    val (setupS, facts) = Harness.timedSetup(1, work)(setup)
    val in = s"$work/input-1"
    Harness.mark("setup")
    val tracer = if (trace) Some(new Tracer(spark, Harness.cpus)) else None
    // the batch twin: gateBatch over every arrival. It is the reference the
    // stream's audit log must equal, and it warms the gate's code before
    // the first timed micro-batch.
    def key(df: DataFrame): Set[String] = df.select(auditCols.map(col): _*).collect()
      .map(_.mkString("|")).toSet
    val twinKeys = {
      val arrivalIds = arrivals.select("doc_id")
      val twin = gateOn(in, arrivals, payloads,
        emb.join(arrivalIds.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi"))
      try key(twin) finally twin.unpersist()
    }
    Harness.mark("warmup")
    val watch = dir("watch")
    Files.createDirectories(Paths.get(watch))
    spark.streams.addListener(listener)
    val q = startGate(in, watch)
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val lags = mutable.ArrayBuffer.empty[Double]
    val due = mutable.HashMap.empty[Int, Long]
    try {
      val t0 = System.currentTimeMillis() + 200
      shards.indices.foreach { k =>
        val at = t0 + (k * Sizes.gateIntervalS * 1000).toLong
        due(k) = at
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lags += (System.currentTimeMillis() - at) / 1e3
        drop(k, watch)
      }
      q.processAllAvailable()
      Harness.mark("measure")
    } finally q.stop()
    spark.streams.removeListener(listener)
    Option(q.exception.orNull).foreach(e => errors += e.toString)

    // the audit log: one partition per batch, holding exactly its shard
    val audit = spark.read.parquet(dir("audit"))
    val perBatch = audit.groupBy(col("ingest_batch").cast("long")).agg(count(lit(1)).as("n"),
      countDistinct("doc_id").as("ids")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // progress events reach the listener asynchronously
    val deadline = System.currentTimeMillis() + 10000
    while (progress.synchronized(progress.map(_.batchId.toInt).toSet) != shards.indices.toSet &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    val batches = progress.synchronized(progress.toSeq).sortBy(_.batchId)
    shards.indices.foreach { k =>
      attempted += 1
      val rows = shards(k)._2
      if (!perBatch.get(k.toLong).contains((rows, rows))) {
        failed += 1
        errors += s"batch $k: audit ${perBatch.get(k.toLong)} for $rows arrivals"
      }
    }
    if (key(audit.drop("ingest_batch")) != twinKeys) {
      failed = attempted
      errors += "stream audit differs from the batch gate twin"
    }
    Harness.mark("checked")

    val timed = batches.filter(b => due.contains(b.batchId.toInt))
    require(timed.nonEmpty, "no measured micro-batch reported progress")
    def dur(b: Progress, k: String) = b.durations.getOrElse(k, 0L) / 1e3
    val trig = timed.map(dur(_, "triggerExecution"))
    val latency = timed.map(b => (b.startMs + b.durations("triggerExecution") - due(b.batchId.toInt)) / 1e3)
    val docs = timed.map(b => shards(b.batchId.toInt)._2).sum
    val (runTail, runPct) = Stats.tail(trig)
    val (latTail, latPct) = Stats.tail(latency)
    val out = mutable.LinkedHashMap[String, Any](
      "setup_data_s" -> setupS, "inputs" -> facts, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.take(5).toSeq,
      "run_s" -> Stats.median(trig), "run_tail_s" -> runTail, "run_tail_pct" -> runPct,
      "batch_latency_p50_s" -> Stats.median(latency), "batch_latency_tail_s" -> latTail,
      "batch_latency_tail_pct" -> latPct, "docs_per_s" -> docs / trig.sum,
      "samples" -> timed.length, "trigger_samples_s" -> trig, "latency_samples_s" -> latency,
      "generator_lag_s" -> Stats.median(lags.toSeq), "input_rows_reported" -> timed.map(_.inputRows))
    tracer.foreach { tr =>
      tr.fence()
      out("layers") = streamLayers(tr, timed, lags.toSeq) ++ tracedShard(tr, in)
      tr.writeJsonl(s"$work/trace.jsonl")
      out("trace.overhead_ratio") =
        tr.all.filter(_.name == "run").map(_.seconds).sum / Stats.median(trig)
    }
    out.toMap
  }

  /** Per-batch streaming values over the measured micro-batches. */
  private def streamLayers(tr: Tracer, timed: Seq[Progress], lags: Seq[Double]): Map[String, Double] = {
    def med(f: Progress => Double) = Stats.median(timed.map(f))
    def dur(k: String)(b: Progress) = b.durations.getOrElse(k, 0L) / 1e3
    def stats(b: Progress) = tr.listener.get(s"batch:${b.batchId}").getOrElse(new KeyStats)
    def shape(b: Progress) = tr.listener.planShape(s"batch:${b.batchId}")
    Map(
      "streaming.trigger_s" -> med(dur("triggerExecution")),
      "streaming.add_batch_s" -> med(dur("addBatch")),
      "streaming.query_planning_s" -> med(dur("queryPlanning")),
      "streaming.wal_commit_s" -> med(dur("walCommit")),
      "streaming.jobs_per_batch" -> med(b => stats(b).jobs.toDouble),
      "streaming.exchanges_per_batch" -> med(b => shape(b).exchanges.toDouble),
      "streaming.plan_operators" -> med(b => shape(b).operators.toDouble),
      "streaming.source_scans_per_batch" -> med(b => shape(b).sourceScans.toDouble),
      "streaming.busy_share" -> med(b => tr.busyShare(stats(b), dur("triggerExecution")(b))),
      "streaming.generator_lag_s" -> Stats.median(lags))
  }

  /** One shard through the gate's layers, each call traced: the model
    * reads a micro-batch makes, the clean chain, the quality score, the
    * payload fingerprints, then `gateBatch` itself, whose span splits
    * into driver-side planning (no job running) and execution, and the
    * audit write. */
  private def tracedShard(tr: Tracer, in: String): Map[String, Double] = {
    val run = "traced-shard"
    val k = 0
    val shard = spark.read.parquet(shards(k)._1)
    val cuts = new Cuts(spark)
    tr.span("run", run) { _ =>
      tr.span("streaming.model_read", run) { _ =>
        QualityStream.readModel(spark, s"$in/model").select("w0", "w1", "w2", "w3", "w4").collect()
        graft.text.LangIdClassifier.readModel(spark, s"$in/langid")
        graft.similarity.Ann.readIvfModel(spark, s"$in/sem/centroids")
        graft.similarity.Ann.readIvfModel(spark, s"$in/semgate/centroids")
      }
      val cleaned = tr.span("text.clean", run) { s =>
        val (c, n) = cuts.cut(PretrainStream.cleanChain(shard.select("doc_id", "source", "lang", "text"),
          spark.read.parquet(s"$in/idx/boilerplate"), keep = Seq("lang")), "clean")
        s.counts ++= Seq("rows_in" -> shards(k)._2.toDouble, "rows_out" -> n.toDouble)
        c
      }
      tr.span("text.quality", run) { s =>
        val (_, n) = cuts.cut(graft.text.QualityClassifier.scoreTextWith(cleaned, w)
          .filter(col("score") >= thr), "quality")
        s.counts ++= Seq("rows_in" -> shards(k)._2.toDouble, "rows_out" -> n.toDouble)
      }
      val pay = shard.select(col("doc_id"), col("payload_text").as("text"))
      Seq[DataFrame => DataFrame](d => graft.multimodal.Multimodal.imagePhash(d).toDF(),
        d => graft.multimodal.Multimodal.audioFingerprint(d).toDF(),
        d => graft.multimodal.Multimodal.videoFingerprint(d).toDF()).foreach { fp =>
        tr.span("multimodal.fingerprint", run) { s =>
          val (_, n) = cuts.cut(fp(pay).filter(col("valid")), "fp")
          s.counts ++= Seq("rows_in" -> shards(k)._2.toDouble, "rows_out" -> n.toDouble)
        }
      }
      val o = tr.span("streaming.gate", run) { _ =>
        gateOn(in, shard.select("doc_id", "source", "lang", "text"), pay,
          shard.select(col("doc_id").as("vec_id"), col("embedding")))
      }
      tr.span("sources.sink", run) { _ =>
        o.withColumn("ingest_batch", lit(k.toLong)).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").partitionBy("ingest_batch")
          .parquet(dir("traced-audit"))
      }
      o.unpersist()
    }
    cuts.release()
    tr.fence()
    val spans = tr.all.filter(_.run == run)
    def one(name: String) = spans.filter(_.name == name)
    val gate = one("streaming.gate").head
    val gateBusy = tr.jobBusySeconds(tr.own(gate))
    val byLayer = Seq("text.clean", "text.quality", "multimodal.fingerprint").flatMap { l =>
      val ss = one(l)
      val rin = ss.map(_.counts("rows_in")).sum
      val rout = ss.map(_.counts("rows_out")).sum
      Seq(s"$l.self_s" -> ss.map(tr.selfSeconds).sum, s"$l.rows_out" -> rout) ++ (l match {
        case "text.quality" => Seq("text.quality.pass_ratio" -> rout / rin)
        case "multimodal.fingerprint" => Seq("multimodal.fingerprint.valid_ratio" -> rout / rin)
        case _ => Nil
      })
    }
    (byLayer ++ Seq(
      "streaming.model_read_s" -> tr.selfSeconds(one("streaming.model_read").head),
      "streaming.gate_plan_s" -> (gate.seconds - gateBusy),
      "streaming.gate_exec_s" -> gateBusy,
      "sources.sink.self_s" -> tr.selfSeconds(one("sources.sink").head))).toMap
  }
}

object GateStream {
  /** One micro-batch as `StreamingQueryProgress` reports it. */
  final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long],
                            inputRows: Long)
}
