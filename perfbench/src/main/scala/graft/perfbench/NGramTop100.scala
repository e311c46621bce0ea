package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.collocations.{CollocationsCli, NGramCollocations}
import graft.ops.{Llr, Normalize, Stopwords, TopK}
import graft.sources.{NGramSource, Sinks}

/** `ngram_top100`: the paper's batch job, `CollocationsCli.run`, over a
  * seeded Google-Books-format corpus, writing the reference TSV. */
final class NGramTop100(spark: SparkSession, work: String, seed: Long,
                        spec: NGramCorpus.Spec) extends BatchWorkload {
  private var corpus: NGramCorpus.Written = _
  private val cuts = new Cuts(spark)
  private def out(runId: String) = s"$work/out/$runId"
  val keptOutput = s"$work/out/checked"

  def setup(dir: String): Map[String, Any] = {
    corpus = NGramCorpus.write(dir, seed, spec)
    Map("corpus_dir" -> dir, "lines" -> corpus.lines, "malformed_lines" -> corpus.malformedLines,
      "bytes" -> corpus.bytes, "sha256" -> corpus.sha256)
  }

  def inputRecords: Long = corpus.lines

  private def args(o: String) = CollocationsCli.Args(corpus.uniPaths, corpus.bgPaths, o, NGramCollocations.K)

  /** Digests the run's TSV and keeps the latest one for the oracle check. */
  def digest(runId: String): String = {
    val d = Digest.ofTextDir(out(runId))
    val keep = new java.io.File(keptOutput)
    org.apache.commons.io.FileUtils.deleteDirectory(keep)
    require(new java.io.File(out(runId)).renameTo(keep), s"cannot keep $runId's output")
    d
  }

  def run(runId: String): Unit = CollocationsCli.run(spark, args(out(runId)))

  def traced(tr: Tracer, runId: String): Unit = {
    def sp[T](layer: String)(f: Span => T): T = tr.span(layer, runId)(f)
    try sp("run") { _ =>
      val (uni, bg, parsed) = sp("sources.parse") { s =>
        val (u, un) = cuts.cut(NGramSource.unigrams(NGramSource.read(spark, corpus.uniPaths: _*)), "uni")
        val (b, bn) = cuts.cut(NGramSource.bigrams(NGramSource.read(spark, corpus.bgPaths: _*)), "bg")
        s.counts ++= Seq("rows_in" -> corpus.lines.toDouble, "rows_out" -> (un + bn).toDouble)
        (u, b, un + bn)
      }
      val (uniS, bgS, kept) = sp("ops.stopwords") { s =>
        val (u, un) = cuts.cut(Stopwords.anti(uni, "w"), "uni_sw")
        val (b, bn) = cuts.cut(Stopwords.anti(Stopwords.anti(bg, "w1"), "w2"), "bg_sw")
        s.counts ++= Seq("rows_in" -> parsed.toDouble, "rows_out" -> (un + bn).toDouble)
        (u, b, un + bn)
      }
      // NGramCollocations.unigramCounts and bigramCounts are Stopwords.anti
      // followed by the per-decade sums. The anti-joins ran once, in the
      // ops.stopwords span, so this span runs the sums alone; the traced
      // run's output digest must still equal the untraced runs'.
      val (u, b) = sp("collocations.count") { s =>
        val (u, un) = cuts.cut(uniS.groupBy(col("lang"), Normalize.toDecade(col("year")).as("decade"),
          col("w")).agg(sum("occurrences").as("c1")), "uni_counts")
        val (b, bn) = cuts.cut(bgS.groupBy(col("lang"), Normalize.toDecade(col("year")).as("decade"),
          col("w1"), col("w2")).agg(sum("occurrences").as("c12")), "bg_counts")
        s.counts ++= Seq("rows_in" -> kept.toDouble, "rows_out" -> (un + bn).toDouble)
        (u, b)
      }
      // the scoring chain of NGramCollocations.topCollocations: c1, c2 and
      // N joins plus the LLR column over the count tables. The count
      // table's local checkpoint stands in for topCollocations' persist:
      // it is computed once and all three joins read it.
      val (scored, scoredRows) = sp("collocations.score") { s =>
        val n = NGramCollocations.grandTotalN(u)
        val (sc, rows) = cuts.cut(b
          .join(u.select(col("lang"), col("decade"), col("w").as("w1"), col("c1")),
            Seq("lang", "decade", "w1"))
          .join(u.select(col("lang"), col("decade"), col("w").as("w2"), col("c1").as("c2")),
            Seq("lang", "decade", "w2"))
          .join(broadcast(n), Seq("lang", "decade"))
          .withColumn("llr_raw", Llr.llr(col("c1"), col("c2"), col("c12"), col("n")))
          .filter(!isnan(col("llr_raw")))
          .withColumn("llr", round(col("llr_raw"), 6))
          .select(col("lang"), col("decade"), col("w1"), col("w2"), col("llr")), "scored")
        s.counts("rows_out") = rows.toDouble
        (sc, rows)
      }
      val top = sp("ops.topk") { s =>
        val (t, rows) = cuts.cut(TopK.topKPerGroup(scored, Seq(col("lang"), col("decade")),
          Seq(col("llr").desc, col("w1").asc, col("w2").asc), NGramCollocations.K), "top")
        s.counts ++= Seq("rows_in" -> scoredRows.toDouble, "rows_out" -> rows.toDouble)
        t
      }
      sp("sources.sink") { _ =>
        Sinks.writeTsv(top.select(col("lang"), col("decade"),
          concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("llr")), out(runId))
      }
    } finally cuts.release()
  }

  /** Layer ratios from the recorded boundary counts and Spark totals. */
  override def derive(layer: String, v: Map[String, Double]): Map[String, Double] = {
    def cut = 1.0 - v("rows_out") / v("rows_in")
    layer match {
      case "sources.parse" => Map("drop_ratio" -> cut)
      case "ops.stopwords" | "ops.topk" => Map("cut" -> cut)
      // the partial aggregates' output records are the count stage's
      // shuffle-write records: Hadoop's combine input vs output records
      case "collocations.count" => Map("combiner_cut" -> (1.0 - v("shuffle_write_records") / v("rows_in")))
      case _ => Map.empty
    }
  }

  override def finish(): Map[String, Any] = {
    // the oracle SQL reads the fixture root from this property when its
    // object initializes, so it must be set before the first reference
    System.setProperty("graft.ngram.fixtures", corpus.dir)
    val sql = graft.OracleSqlExt.ngramDecadeSql(NGramCollocations.K)
    val p = s"$work/oracle.sql"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), sql.getBytes("UTF-8"))
    Map("oracle_sql" -> p, "checked_output" -> keptOutput) ++ countTable()
  }

  /** The (lang, decade, w) count table's rows and the size statistic the
    * join planner compares with the broadcast threshold once it is cached
    * (the state a later call in the same session plans against). */
  private def countTable(): Map[String, Any] = {
    val u = NGramCollocations.unigramCounts(
      NGramSource.unigrams(NGramSource.read(spark, corpus.uniPaths: _*))).persist()
    try {
      val rows = u.count()
      val bytes = u.select("*").queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      Map("count_table" -> Map("rows" -> rows, "bytes" -> bytes,
        "broadcast_threshold" -> Sizes.ngramBroadcastThreshold,
        "times_threshold" -> bytes.toDouble / Sizes.ngramBroadcastThreshold))
    } finally u.unpersist(blocking = true)
  }
}
