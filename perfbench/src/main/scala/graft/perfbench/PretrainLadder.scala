package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.pipelines.{Packing, PretrainCorpus}
import graft.text.{QualityClassifier, TextAnalysis, TextNormalize}

/** `pretrain_ladder`: `PretrainCorpus.pipelineV4` over seeded documents
  * to the noop sink, with the quality-gate weights trained the way the
  * registry query trains them (Newton on doc_id % 4 = 0). */
final class PretrainLadder(spark: SparkSession, work: String, seed: Long) extends BatchWorkload {
  private val thr = 0.28 // the registry's pretrain gate threshold
  private val benchPred: Column = col("source") === "src0"
  private var docs: DataFrame = _
  private var w: Seq[Double] = _
  private var nDocs = 0L
  private var docsPath = ""
  private var checkedRows: Seq[String] = Nil
  private val outputs = scala.collection.mutable.HashMap.empty[String, DataFrame]
  private val cuts = new Cuts(spark)

  def setup(dir: String): Map[String, Any] = {
    docsPath = s"$dir/documents.parquet"
    DocCorpus.documents(spark, seed, Sizes.ladderDocs).coalesce(1)
      .write.mode("overwrite").parquet(docsPath)
    docs = spark.read.parquet(docsPath)
    val feats = QualityClassifier.features(docs).persist()
    w = QualityClassifier.train(feats.filter(pmod(col("doc_id"), lit(4)) === 0))
    feats.unpersist(blocking = true)
    nDocs = Sizes.ladderDocs
    Map("documents" -> nDocs, "bytes" -> DocCorpus.sizeOf(s"$dir/documents.parquet"),
      "gate_weights" -> w)
  }

  def inputRecords: Long = nDocs

  def run(runId: String): Unit = {
    val out = PretrainCorpus.pipelineV4(docs, w, thr)
    out.write.format("noop").mode("overwrite").save()
    outputs(runId) = out
  }

  /** Digests the run's rows and keeps the latest ones for the oracle check. */
  def digest(runId: String): String = {
    checkedRows = Digest.lines(outputs(runId).select("doc_id", "source", "n_chars", "bin"))
    outputs.remove(runId)
    Digest.sha256(checkedRows)
  }

  /** pipelineV4's stages called layer by layer, in its order and with its
    * defaults; every stage boundary is an eager local checkpoint, as in
    * the ladder itself. */
  def traced(tr: Tracer, runId: String): Unit = {
    def sp[T](layer: String)(f: Span => T): T = tr.span(layer, runId)(f)
    cuts.release()
    val packed = tr.span("run", runId) { _ =>
      val gated = sp("text.clean") { s =>
        val normed = docs.select(col("doc_id"), col("source"),
          TextNormalize.normalizeText(PretrainCorpus.dirtyPageV2).as("text"))
        val (c4, _) = cuts.cut(normed.select(col("doc_id"), col("source"),
          array_join(TextAnalysis.c4KeptLines(split(col("text"), "\n"), 3), "\n").as("text")), "c4")
        val (bp, _) = cuts.cut(
          TextAnalysis.scrubBoilerplateLines(c4.select("doc_id", "text"), minDf = 3, minLineChars = 10)
            .select(col("doc_id"), col("clean_text").as("text"))
            .join(c4.select("doc_id", "source"), Seq("doc_id")), "bp")
        val (pii, n) = cuts.cut(bp.select(col("doc_id"), col("source"),
          TextAnalysis.scrub(col("text")).as("text")), "pii")
        s.counts ++= Seq("rows_in" -> nDocs.toDouble, "rows_out" -> n.toDouble)
        pii
      }
      val quality = sp("text.quality") { s =>
        val (q, n) = cuts.cut(QualityClassifier.scoreTextWith(gated, w)
          .filter(benchPred || col("score") >= lit(thr)).drop("score"), "quality")
        s.counts ++= Seq("rows_in" -> rowsOut(tr, runId, "text.clean"), "rows_out" -> n.toDouble)
        q
      }
      // image, then audio, then video keep-canonical: each modality
      // fingerprints the previous one's survivors
      val modalities: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
        ("phash", d => Multimodal.imagePhash(d).toDF(), fp => Dedup.imagePhashPairsFrom(fp)),
        ("afp", d => Multimodal.audioFingerprint(d).toDF(), fp => Dedup.audioFingerprintPairsFrom(fp)),
        ("vfp", d => Multimodal.videoFingerprint(d).toDF(), fp => Dedup.videoFingerprintPairsFrom(fp)))
      val survivors = modalities.foldLeft((quality, rowsOut(tr, runId, "text.quality"))) {
        case ((in, inRows), (fpCol, fingerprint, pairsOf)) =>
          val fps = sp("multimodal.fingerprint") { s =>
            val (f, n) = cuts.cut(fingerprint(in).filter(col("valid"))
              .select(col("doc_id"), col(fpCol)), fpCol)
            s.counts ++= Seq("rows_in" -> inRows, "rows_out" -> n.toDouble)
            f
          }
          val pairs = sp("dedup.pairs") { s =>
            val p = pairsOf(fps)
            s.counts("rows_out") = p.count().toDouble
            p
          }
          sp("dedup.components") { s =>
            val comps = Dedup.hammingComponents(pairs)
            val (kept, n) = cuts.cut(in.join(
              comps.filter(col("component") =!= col("doc_id")).select("doc_id"),
              Seq("doc_id"), "left_anti"), s"${fpCol}_kept")
            pairs.unpersist()
            comps.unpersist()
            s.counts ++= Seq("rows_in" -> inRows, "rows_out" -> n.toDouble)
            (kept, n.toDouble)
          }
      }
      val deduped = sp("dedup.keep_canonical") { s =>
        val (in, inRows) = survivors
        val (d, n) = cuts.cut(in.join(Dedup.keepCanonical(in.select("doc_id", "text")).select("doc_id"),
          Seq("doc_id")), "dedup")
        s.counts ++= Seq("rows_in" -> inRows, "rows_out" -> n.toDouble)
        d
      }
      val decon = sp("dedup.decon") { s =>
        val (d, n) = cuts.cut(Dedup.scrubContaminated(deduped, benchPred, 30)
          .select(col("doc_id"), col("clean_text").as("text"))
          .join(deduped.select("doc_id", "source"), Seq("doc_id")), "decon")
        s.counts("rows_out") = n.toDouble
        d
      }
      sp("pipelines.sample_pack") { s =>
        val sampled = TextAnalysis.sampleTokenBudget(decon, 20000L)
        val (kept, _) = cuts.cut(decon.join(sampled.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars")), "sample")
        val (p, n) = cuts.cut(Packing.packSequences(kept.select("doc_id", "n_chars"), 2048L)
          .join(kept.select("doc_id", "source"), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars"), col("bin")), "packed")
        s.counts("rows_out") = n.toDouble
        p
      }
    }
    outputs(runId) = packed
  }

  private def rowsOut(tr: Tracer, runId: String, layer: String): Double =
    tr.all.filter(x => x.run == runId && x.name == layer).last.counts("rows_out")

  override def derive(layer: String, v: Map[String, Double]): Map[String, Double] = layer match {
    case "text.quality" => Map("pass_ratio" -> v("rows_out") / v("rows_in"))
    case "multimodal.fingerprint" => Map("valid_ratio" -> v("rows_out") / v("rows_in"))
    case "dedup.components" | "dedup.keep_canonical" => Map("removed" -> (v("rows_in") - v("rows_out")))
    case _ => Map.empty
  }

  /** Releases the traced run's checkpoints once its digest is taken and
    * writes what the oracle check reads: the engine's DuckDB mirror of
    * pipelineV4 (the registry's parameters, these gate weights), the
    * input it reads as `documents`, and the last checked run's rows. */
  override def finish(): Map[String, Any] = {
    cuts.release()
    val sql = graft.OracleSqlExt.pretrainCorpusV4Sql(w, thr, "source = 'src0'", 3, 3, 10, 30,
      20000L, 4.0, 64, 2048L)
    val sqlPath = s"$work/oracle.sql"
    val outPath = s"$work/checked.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(sqlPath), sql.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      checkedRows.map(_ + "\n").mkString.getBytes("UTF-8"))
    Map("oracle_sql" -> sqlPath, "oracle_documents" -> docsPath, "checked_output" -> outPath)
  }
}
