package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{GraftExtensions, SparkEntry, SweepOrder, Tables}
import graft.queries.Shared
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in a fresh JVM: set-up, one pass over the
  * workload's queries, and in a traced run the layer probes. Writes one
  * JSON record to `--out`.
  *
  * The pass is one user session over the workload's queries, driven the
  * way `graft.Bench` drives a full sweep: queries in `SweepOrder.sort`
  * order, `Shared.warmGroup` at each group's first query, a GC at each
  * group boundary, and `retireTransients`, `releaseMemo` and
  * `enforceBudget` after each query, so the cache build counts inside
  * the pass. Each query's result is written as parquet under
  * `--results/<query>`, which materializes every column, as a batch job
  * delivers its results; the caller checks every file against DuckDB.
  *
  * Arguments: --data DIR --queries q1,q2 --trace 0|1 --cpus N
  * --scratch DIR --results DIR --out FILE --probes p1,p2
  * --stream-probes q1,q2
  */
object Harness {

  /** graft.Bench's session, with `cpus` worker threads. */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.cleaner.periodicGC.interval", "45s")
    .config("spark.io.compression.codec", "zstd")
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      (cpus * 2).toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def open(s: SparkSession, dir: String, table: String): DataFrame =
    if (table == "events") Tables.events(s, dir) else Tables(s, dir, table)

  private val groupNames = Map(0 -> "match", 1 -> "text", 2 -> "vector")

  /** CPU time of this JVM, all threads, in seconds. */
  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def failure(e: Throwable): Map[String, Any] =
    Map("class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val results = opt("results")
    val tracer = new Tracer
    tracer.enabled = traced
    val scratch = new ScratchSampler(Paths.get(opt("scratch")))
    scratch.start()

    // set-up, timed from JVM launch: ends when every table is open
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = tracer.span("setup") {
      val s = session(cpus)
      s.sparkContext.setLogLevel("WARN")
      Tables.names.foreach(t => tracer.span(s"tables.open.$t")(open(s, dir, t)))
      s
    }
    val setupSec = (tracer.nowMs - launchMs) / 1e3
    val conf = spark.conf.getAll
    val recorder = new Recorder
    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streaming)
    }

    val order = SweepOrder.sort(names.map(n => n -> SparkEntry.queries(n)))
    val releaseAt = SweepOrder.releaseSchedule(order.map(_._1))
    def cachedRdds: Set[Int] =
      spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    def persistedBytes: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    val queries = ArrayBuffer.empty[Map[String, Any]]
    val warms = ArrayBuffer.empty[Map[String, Any]]
    var peakPersisted = 0L
    var policySec, gcSec = 0.0
    var memoBuilds, releases, evictions = 0
    var pass0, pass1 = 0.0
    var gcMs, cpuSec, ownSec = 0.0
    var memoReads = 0
    val probeCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    tracer.span("run") {
      System.gc()
      val gc0 = gcMillis
      val cpu0 = cpuSeconds
      val own0 = tracer.ownSeconds
      pass0 = tracer.nowMs
      tracer.span("pass") {
        val warmed = scala.collection.mutable.Set.empty[Int]
        var prevGroup = -1
        order.zipWithIndex.foreach { case ((name, fn), i) =>
          val group = SweepOrder.group(name)
          if (group != prevGroup) {
            if (prevGroup >= 0) {
              val g0 = tracer.nowMs
              tracer.span("shared.boundary_gc")(System.gc())
              gcSec += (tracer.nowMs - g0) / 1e3
            }
            prevGroup = group
          }
          if (Shared.warmable(group) && warmed.add(group)) {
            Shared.beginQuery("")
            val w0 = tracer.nowMs
            val err = tracer.span(s"shared.warm.${groupNames(group)}") {
              try { Shared.warmGroup(spark, dir, group); None }
              catch { case NonFatal(e) => Some(failure(e)) }
            }
            val sec = (tracer.nowMs - w0) / 1e3
            warms += Map("group" -> groupNames(group), "seconds" -> sec,
              "error" -> err)
            System.err.println(f"[perfbench] warm ${groupNames(group)} $sec%.2f s" +
              err.fold("")(e => s" FAILED ${e("class")}: ${e("message")}"))
          }
          val before = if (traced) tracer.own(cachedRdds) else Set.empty[Int]
          Shared.beginQuery(name)
          val q0 = tracer.nowMs
          val err = tracer.span(s"query.$name") {
            try { fn(spark, dir).write.mode("overwrite").parquet(s"$results/$name"); None }
            catch { case NonFatal(e) => Some(failure(e)) }
          }
          val sec = (tracer.nowMs - q0) / 1e3
          queries += Map("name" -> name, "seconds" -> sec, "error" -> err)
          // progress on stderr, so a slow or wedged run is diagnosable
          System.err.println(f"[perfbench] $name $sec%.2f s" +
            err.fold("")(e => s" FAILED ${e("class")}: ${e("message")}"))
          peakPersisted = peakPersisted.max(persistedBytes)
          // the query's shuffle files are still on disk here
          scratch.sample()
          val p0 = tracer.nowMs
          tracer.span("shared.policy") {
            Shared.retireTransients()
            if (traced) {
              // memo frames this query built are the cached RDDs that
              // survive retiring its transients; release and eviction
              // are the frames the policy then drops
              val kept = tracer.own(cachedRdds)
              memoBuilds += (kept -- before).size
              releaseAt.getOrElse(i, Nil).foreach(Shared.releaseMemo)
              val released = tracer.own(cachedRdds)
              releases += (kept -- released).size
              Shared.enforceBudget(spark)
              evictions += (released -- tracer.own(cachedRdds)).size
            } else {
              releaseAt.getOrElse(i, Nil).foreach(Shared.releaseMemo)
              Shared.enforceBudget(spark)
            }
          }
          policySec += (tracer.nowMs - p0) / 1e3
        }
      }
      pass1 = tracer.nowMs
      gcMs = (gcMillis - gc0).toDouble
      cpuSec = cpuSeconds - cpu0
      ownSec = tracer.ownSeconds - own0
      memoReads = Shared.touchReport.map(_._2.size).sum
      if (traced) {
        Shared.clear()
        val probes = new Probes(spark, dir, tracer)
        def list(key: String) = opt(key).split(",").toSeq.filter(_.nonEmpty)
        tracer.span("probes")(probes.run(list("probes"), list("stream-probes")))
        probeCounts ++= probes.counts
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.streams.removeListener(recorder.streaming)
      }
    }
    tracer.enabled = false
    // the peaks cover set-up, the pass and the probes
    val peakRss = ScratchSampler.vmHwmBytes
    scratch.finish()
    Shared.clear()

    val record = Map(
      "setup_s" -> setupSec,
      "conf" -> conf,
      "cpus" -> cpus,
      "order" -> order.map(_._1),
      "pass" -> Map("traced" -> traced,
        "start" -> pass0, "end" -> pass1, "wall_s" -> (pass1 - pass0) / 1e3,
        "queries" -> queries.toSeq, "warms" -> warms.toSeq,
        "policy_s" -> policySec, "boundary_gc_s" -> gcSec,
        "jvm_gc_s" -> gcMs / 1e3, "cpu_s" -> cpuSec, "trace_own_s" -> ownSec,
        "peak_persisted_bytes" -> peakPersisted,
        "memo_builds" -> memoBuilds, "releases" -> releases,
        "evictions" -> evictions, "memo_reads" -> memoReads),
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "peak_scratch_bytes" -> scratch.peak,
      "peak_rss_bytes" -> peakRss,
      "spans" -> tracer.records,
      "probe_counts" -> probeCounts,
      "listener" -> (if (traced) recorder.record else Map.empty))
    try spark.stop() catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] spark.stop failed: ${e.getMessage}")
    }
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
  }
}

/** Peak bytes under a directory, sampled on a daemon thread and by the
  * caller at the points it knows matter. */
final class ScratchSampler(root: Path) extends Thread("perfbench-scratch") {
  setDaemon(true)
  @volatile var peak = 0L
  @volatile private var running = true

  private def bytes: Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.map { p =>
        try if (Files.isRegularFile(p)) Files.size(p) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      catch { case _: java.io.UncheckedIOException => 0L }
      finally s.close()
    }

  def sample(): Unit = synchronized { peak = peak.max(bytes) }

  override def run(): Unit = while (running) {
    sample()
    Thread.sleep(100)
  }

  def finish(): Unit = { running = false; join(); sample() }
}

object ScratchSampler {
  /** Peak resident set of this JVM (VmHWM), in bytes. */
  def vmHwmBytes: Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
  }
}
