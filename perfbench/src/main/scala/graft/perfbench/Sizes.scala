package graft.perfbench

/** Input sizes and run counts of the workloads (perfbench/README.md
  * states them with the reasons). */
object Sizes {
  val ngramSpec: NGramCorpus.Spec = NGramCorpus.Spec(
    engEntries = 10000, hebEntries = 3500, engVocab = 100000, hebVocab = 40000,
    zipfS = 1.0, shards = 4, maxYearRun = 12, unigramOnly = 0.2)
  val ngramBroadcastThreshold: Long = 128L << 10
  val ngramSetupReps = 3

  // Both batch jobs are timed as spark-submit runs them, one run in a
  // fresh JVM: the benchmark's time budget holds no warm-up runs (a
  // cold n-gram run takes about three warm ones).
  val ngramWarmupRuns = 0

  // a ladder run is ~320 Spark jobs whatever the corpus size, so a small
  // corpus costs as much as sf0.1's
  val ladderDocs = 250
  val ladderSetupReps = 1
  val ladderWarmupRuns = 0

  // about 171 non-benchmark odd-half documents, i.e. one shard of
  // arrivals, per 360 documents
  val gateDocsPerShard = 360
  val gateShardRows = 156
  val gateIntervalS = 10.0
}
