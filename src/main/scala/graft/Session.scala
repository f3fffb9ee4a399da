package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every main, tool and
  * spec runs on it, so a probe, a spec and the recorded sweep all plan
  * and shuffle under the confs a user's session gets; hand-written
  * builders drifted apart (a codec mismatch once made probe timings
  * disagree with the sweep's). The perfbench harness builds the same
  * confs key for key. */
object Session {

  /** A local session with `cpus` worker threads. */
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // without periodic driver GC, Spark's ContextCleaner (default
      // 30 min) never releases finished shuffle files, and a long
      // multi-query sweep in one JVM can fill the local disk
      .config("spark.cleaner.periodicGC.interval", "45s")
      // shuffle-heavy plans on a disk-bound box: zstd halves shuffle
      // bytes against lz4 for CPU the IO-waiting cores absorb
      .config("spark.io.compression.codec", "zstd")
      // subset-key co-partitioning: the match chain is cached
      // hash-partitioned by doc1, and its (doc1, doc2) joins are
      // exchange-free only when
      // co-partitioning accepts a subset of the join keys, the rule
      // aggregations and windows already use. It only decides which
      // exchanges ENSURE_REQUIREMENTS inserts; results are unchanged.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // parallel file listing sized to the session, not the 10000
      // default: listing q95's 5000 partition dirs as 5000 one-stat
      // tasks was 8.1 s of scheduling on local[32]; 2×cores tasks do
      // it in ~0.5 s
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** [[apply]] with `SPARK_GRAFT_CPUS` threads, `defaultCpus` when unset. */
  def fromEnv(defaultCpus: Int): SparkSession =
    apply(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt))
}
