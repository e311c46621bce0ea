package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / math.pow(r + 1.0, s); a(r) = acc; r += 1 }
    r = 0
    while (r < n) { a(r) /= acc; r += 1 }
    a
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded Google-Books-format n-gram corpus: `ngram \t year \t
  * match_count \t volume_count` rows in `eng-NN-1gram.tsv`,
  * `eng-NN-2gram.tsv`, `heb-NN-1gram.tsv` and `heb-NN-2gram.tsv` shards
  * (language comes from the path). Each n-gram is listed for a run of
  * consecutive years, as in the real files. Words follow a Zipf law over
  * a large vocabulary whose head is the language's stopword list, so
  * stopwords land in both bigram positions and the tail is long. Tokens carry
  * `_POS` suffixes, punctuation edges and capitals; years span 1800-2019
  * (22 decades); about 0.5% of rows are malformed. One seed gives
  * byte-identical shards. */
object NGramCorpus {

  /** `*Entries` n-grams per language, each listed for 1..maxYearRun
    * years; a `unigramOnly` share of them is a lone word, the rest a
    * bigram whose two words are listed as unigrams too. */
  final case class Spec(engEntries: Int, hebEntries: Int, engVocab: Int, hebVocab: Int,
                        zipfS: Double, shards: Int, maxYearRun: Int, unigramOnly: Double,
                        malformed: Double = 0.005)

  final case class Written(dir: String, uniPaths: Seq[String], bgPaths: Seq[String],
                           lines: Long, malformedLines: Long, bytes: Long, sha256: String)

  private val engSyllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "be", "do",
    "fi", "gu", "ho", "ja", "pe", "si", "vo", "ze", "ar", "ul", "en", "os")
  private val hebLetters = "אבגדהוזחטיכלמנסעפצקרשת".toCharArray.map(_.toString)
  private val pos = Array("_NOUN", "_VERB", "_ADJ", "_ADV", "_DET", "_ADP")
  private val leadPunct = Array("(", "\"", "'", "[", "«")
  private val tailPunct = Array(",", ".", ";", "!", ")", "?", "»")

  /** Word of rank r: the stopwords first, then unique syllable strings. */
  private def vocab(n: Int, stop: Seq[String], alphabet: Array[String]): Array[String] = {
    val b = alphabet.length
    Array.tabulate(n) { r =>
      if (r < stop.length) stop(r)
      else {
        var x = r - stop.length + b // at least two symbols
        val sb = new StringBuilder
        while (x > 0) { sb.insert(0, alphabet(x % b)); x /= b }
        sb.toString
      }
    }
  }

  private def surface(w: String, rng: SplittableRandom, capitals: Boolean): String = {
    val u = rng.nextDouble()
    if (u < 0.003) return if (rng.nextBoolean()) "--" else "..."
    val sb = new StringBuilder
    if (rng.nextDouble() < 0.04) sb ++= leadPunct(rng.nextInt(leadPunct.length))
    sb ++= (if (capitals && rng.nextDouble() < 0.1) w.capitalize else w)
    if (rng.nextDouble() < 0.04) sb ++= tailPunct(rng.nextInt(tailPunct.length))
    if (rng.nextDouble() < 0.08) sb ++= pos(rng.nextInt(pos.length))
    sb.toString
  }

  private def year(rng: SplittableRandom): Int =
    1800 + math.min(219, (220 * math.pow(rng.nextDouble(), 0.7)).toInt)

  private def malformedRow(ngram: String, rng: SplittableRandom): String =
    rng.nextInt(5) match {
      case 0 => s"$ngram\t${year(rng)}"
      case 1 => s"$ngram\t19x${rng.nextInt(10)}\t3\t1"
      case 2 => s"$ngram\t${year(rng)}\t0\t1"
      case 3 => s"$ngram\t${year(rng)}\t-${1 + rng.nextInt(9)}\t1"
      case _ => s"$ngram\t${year(rng)}\tn/a\t1"
    }

  def write(dir: String, seed: Long, spec: Spec): Written = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val master = new SplittableRandom(seed)
    var lines = 0L
    var bad = 0L
    val uni = Seq.newBuilder[String]
    val bg = Seq.newBuilder[String]
    for ((lang, entries, v, stop, alpha, caps) <- Seq(
      ("eng", spec.engEntries, spec.engVocab, graft.ops.Stopwords.en, engSyllables, true),
      ("heb", spec.hebEntries, spec.hebVocab, graft.ops.Stopwords.he, hebLetters, false))) {
      val words = vocab(v, stop, alpha)
      val zipf = new Zipf(v, spec.zipfS)
      val perShard = (entries + spec.shards - 1) / spec.shards
      for (shard <- 0 until spec.shards) {
        val rng = master.split()
        val p1 = root.resolve(f"$lang-$shard%02d-1gram.tsv")
        val p2 = root.resolve(f"$lang-$shard%02d-2gram.tsv")
        val w1 = Files.newBufferedWriter(p1, UTF_8)
        val w2 = Files.newBufferedWriter(p2, UTF_8)
        // Google Books files list an n-gram once per year it occurs in,
        // so each entry is a run of consecutive years; a bigram's words
        // are unigram occurrences too, in the same years
        def count(): Int = 1 + (-math.log(1 - rng.nextDouble()) * 6).toInt
        def emit(w: java.io.Writer, g: String, y0: Int, counts: Array[Int]): Unit = {
          var j = 0
          while (j < counts.length) {
            val row =
              if (rng.nextDouble() < spec.malformed) { bad += 1; malformedRow(g, rng) }
              else s"$g\t${math.min(2019, y0 + j)}\t${counts(j)}\t${1 + counts(j) / 2}"
            w.write(row); w.write('\n')
            lines += 1
            j += 1
          }
        }
        try {
          val n = math.min(perShard, entries - shard * perShard)
          var i = 0
          while (i < n) {
            val a = words(zipf.sample(rng))
            val y0 = year(rng)
            val c12 = Array.fill(1 + rng.nextInt(spec.maxYearRun))(count())
            if (rng.nextDouble() < spec.unigramOnly) emit(w1, surface(a, rng, caps), y0, c12)
            else {
              val b = words(zipf.sample(rng))
              // a word occurs at least as often as any bigram it starts or ends
              emit(w1, surface(a, rng, caps), y0, c12.map(_ + count() - 1))
              emit(w1, surface(b, rng, caps), y0, c12.map(_ + count() - 1))
              // about 1% of 2-gram rows hold a single token and are dropped
              val g = if (rng.nextDouble() < 0.01) surface(a, rng, caps)
                else surface(a, rng, caps) + " " + surface(b, rng, caps)
              emit(w2, g, y0, c12)
            }
            i += 1
          }
        } finally { w1.close(); w2.close() }
        uni += p1.toString
        bg += p2.toString
      }
    }
    val files = (uni.result() ++ bg.result()).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    files.foreach { f =>
      val b = Files.readAllBytes(Paths.get(f))
      bytes += b.length
      md.update(b)
    }
    Written(dir, uni.result(), bg.result(), lines, bad, bytes,
      md.digest().map("%02x".format(_)).mkString)
  }
}

/** Seeded document and embedding tables shaped like the engine's
  * `documents.parquet` / `embeddings.parquet` inputs: doc_id 0..n-1,
  * source `src<doc_id % 20>`, five languages (en about 41%), 10-100
  * words from a 30-word vocabulary, 5% exact copies of an earlier
  * document with a ` dup` suffix; 64-dimensional unit embeddings around
  * ten cluster centres for 40% of the documents. */
object DocCorpus {
  private val words = Array("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val langs = Array("en", "de", "es", "fr", "zh")
  private val langCdf = Array(0.41, 0.5575, 0.705, 0.8525, 1.0)

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val text =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(words(rng.nextInt(words.length))).mkString(" ")
      texts(i) = text
      val u = rng.nextDouble()
      val lang = langs(langCdf.indexWhere(u < _))
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int = 64): DataFrame = {
    val rng = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    def gauss(): Double = {
      val u1 = 1.0 - rng.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    val centres = Array.fill(10, dim)(gauss())
    val vecs = new Array[Array[Float]](n)
    val rows = (0 until n).map { i =>
      val label = rng.nextInt(10)
      val raw =
        if (i > 0 && rng.nextDouble() < 0.05) vecs(rng.nextInt(i)).map(_ + 0.01 * gauss())
        else Array.tabulate(dim)(d => centres(label)(d) + 0.8 * gauss())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      vecs(i) = raw.map(x => (x / norm).toFloat)
      (i.toLong, vecs(i).toSeq, label)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
  }

  /** Writes both tables as single-file parquet under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, nDocs: Int): Unit = {
    documents(spark, seed, nDocs).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, seed, (nDocs * 2) / 5).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  def sizeOf(path: String): Long = {
    val p: Path = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }
}
