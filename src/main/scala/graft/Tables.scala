package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Parquet star-schema loaders over the driver-generated testdata
  * (TESTDATA.md). In the reference these were JDBC subqueries pushed to
  * Postgres (`matching/datasource/SqlDataSource.scala:34-58`); here the
  * parquet reader gives Catalyst column pruning + filter pushdown for
  * free, and at cluster scale the same code reads a partitioned data
  * lake directory.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Scan-parallelism floor (round 17, guide §2.5 "input skew: one huge
  // unsplittable file — repartition immediately after the read"). The
  // local fixtures are single-row-group parquet files, so every scan
  // plans ONE task and each query's first map phase — tokenize/explode
  // over documents, the entity explode over lineitem, the quantize
  // over embeddings — ran serially on one core (measured: q84's whole
  // 5.3 s was one task at sf0.1). The rule is SCALE-ADAPTIVE: it fires
  // only when the planned scan has fewer partitions than the session's
  // cores AND the file is big enough for the exchange to pay for
  // itself; a production table with splittable files/row groups scans
  // wide naturally, the condition is false, and no repartition (no
  // payload movement, the q206 concern) is ever inserted. Decisions
  // (and the footer-read of the schema) are memoized per (session,
  // dir, table) — plans are immutable, so handing back the same
  // DataFrame is safe and saves a footer read per call.
  // Keyed by the session object, so two live sessions never share
  // scans; a cached frame pins its session, so a weak key would never
  // clear, and stopped sessions are dropped at the next scan instead.
  private val MinParallelizeBytes = 256L << 10
  private val scans =
    mutable.HashMap.empty[SparkSession, TrieMap[(String, String), DataFrame]]

  private def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(diskBytes).sum)
    else f.length

  private[graft] def scanSessions: Seq[SparkSession] =
    scans.synchronized(scans.keys.toSeq)

  private def scansOf(spark: SparkSession) = scans.synchronized {
    scans.filterInPlace((s, _) => !s.sparkContext.isStopped)
    scans.getOrElseUpdate(spark, TrieMap.empty)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    scansOf(spark).getOrElseUpdate((dir, name), {
        val df = spark.read.parquet(s"$dir/$name.parquet")
        val target = spark.sparkContext.defaultParallelism
        val parts = df.rdd.getNumPartitions
        val bytes = diskBytes(new java.io.File(s"$dir/$name.parquet"))
        if (parts < target && bytes >= MinParallelizeBytes)
          // HASH repartition on the table's leading column (its
          // high-cardinality key in this star schema): a keyless
          // round-robin repartition first pays a local sort of the
          // whole input for retry determinism (sortBeforeRepartition,
          // guide §2.5) — measured ~0.2–0.5 s on every cheap
          // scan-and-aggregate query; the hash spelling skips the sort,
          // is retry-deterministic by construction, and hands key-
          // clustered input to downstream groupBys on the same key
          df.repartition(target, col(df.columns.head))
        else df
      })

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** The events `ts` column has shipped in two physical shapes:
    * TIMESTAMP(NANOS), which Spark's reader rejects (sessions set
    * `spark.sql.legacy.parquet.nanosAsLong`, so it arrives as a long,
    * converted here with integer `div 1000` — exactly DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast), and TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ —
    * a type `withWatermark` rejects. Sessions run with
    * spark.sql.session.timeZone=UTC, so the NTZ → TIMESTAMP cast is
    * value-preserving. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))

  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // The NTZ → TIMESTAMP cast reinterprets the wall-clock value in
        // the session zone; it is value-preserving only under UTC.
        // graft.Session, which every entrypoint uses, pins UTC — fail
        // loudly here rather than silently
        // re-zoning a caller's deliberately non-UTC session (ADVICE r7).
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; the cast to TIMESTAMP is only " +
            s"value-preserving under spark.sql.session.timeZone=UTC " +
            s"(session has '$tz') — set it in the session builder")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
