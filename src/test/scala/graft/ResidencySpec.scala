package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import graft.operators.GraphComponents
import graft.queries.Shared

/** What stays persisted: a memo build drops its own transients once it
  * is counted, and the connected-components loops hold at most two
  * rounds and leave no checkpoint block behind their query. */
class ResidencySpec extends AnyFunSuite {
  import TestSpark._

  private def cachedRdds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** Records which RDDs hold blocks as blocks are stored and RDDs
    * unpersisted (an unpersist removes its blocks without one update
    * per block), and the most that held blocks at once. */
  private class Residency extends SparkListener {
    private val live = scala.collection.mutable.Set.empty[Int]
    @volatile var peak = 0
    @volatile var seen = Set.empty[Int]
    override def onBlockUpdated(u: SparkListenerBlockUpdated): Unit =
      u.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, _) if u.blockUpdatedInfo.storageLevel.isValid =>
          synchronized {
            live += rdd
            seen += rdd
            peak = peak.max(live.size)
          }
        case _ => ()
      }
    override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
      synchronized(live -= u.rddId)
  }

  /** Run `body` with a [[Residency]] listener attached; every event
    * posted during it is delivered before the listener is read. */
  private def observed(body: => Unit): Residency = {
    val r = new Residency
    spark.sparkContext.addSparkListener(r)
    try body finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(r)
    }
    r
  }

  test("a memo build returns with only the memo persisted, and its key " +
      "is built once while a second build runs concurrently") {
    Shared.clear()
    val dir = "residency-spec"
    val transients = new ConcurrentHashMap[String, DataFrame]()
    // both bodies wait for each other, so the two builds are in flight
    // on two threads at once when they track, count and release
    val together = new CountDownLatch(2)
    // distinct plans per key: equal plans would share one cache entry
    def build(key: String): DataFrame = Shared.memoized(spark, dir, key) {
      val t = Shared.track(spark.range(0, 1000L + key.hashCode.abs % 1000)
        .toDF("id").persist(StorageLevel.MEMORY_AND_DISK))
      transients.put(key, t)
      together.countDown()
      assert(together.await(60, TimeUnit.SECONDS))
      t.groupBy((col("id") % 7).as("g")).agg(sum("id").as("s"))
    }
    val before = cachedRdds
    val builds = Seq("residencyA", "residencyB", "residencyA")
      .map(k => Future(build(k)))
    val memos = builds.map(Await.result(_, 2.minutes))
    assert(memos.head eq memos(2), "the second residencyA call reads the memo")
    assert(Shared.buildRecord(spark, dir).map(_.key).sorted ===
      Seq("residencyA", "residencyB"))
    for (k <- Seq("residencyA", "residencyB")) {
      assert(transients.get(k).storageLevel === StorageLevel.NONE, k)
    }
    // exactly the two memo frames hold blocks: no transient and no
    // orphaned first copy of a re-planned memo
    assert((cachedRdds -- before).size === 2)
    memos.foreach(m => assert(m.storageLevel !== StorageLevel.NONE))
    assert(memos.map(_.count()) === Seq(7L, 7L, 7L))
    assert((cachedRdds -- before).size === 2)
    Shared.clear()
  }

  test("after a CC query and retireTransients no checkpoint block is left") {
    Shared.clear()
    Shared.dupPairs(spark, sf)
    val before = cachedRdds
    SparkEntry.queries("q36_connected_components")(spark, sf).collect()
    // the final labels are still readable until the query's transients
    // retire
    assert((cachedRdds -- before).nonEmpty)
    Shared.retireTransients()
    assert((cachedRdds -- before).isEmpty)
    Shared.clear()
  }

  test("a CC loop never holds more than two rounds at once") {
    // a 24-node path: min-label propagation needs ~24 rounds, each a
    // local checkpoint
    val nodes = spark.range(0, 24).select(col("id").as("node"))
    val edges = spark.range(0, 23)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val minLabel = observed {
      assert(GraphComponents.connectedComponents(nodes, edges)
        .filter(col("comp") =!= 0L).count() === 0L)
      Shared.retireTransients()
    }
    assert(minLabel.seen.size > 10, "rounds are checkpointed")
    // two rounds plus the cached undirected edge list
    assert(minLabel.peak <= 3, s"peak ${minLabel.peak} RDDs held blocks")
    val star = observed {
      assert(GraphComponents.connectedComponentsStar(nodes, edges)
        .filter(col("comp") =!= 0L).count() === 0L)
      Shared.retireTransients()
    }
    assert(star.seen.size > 2, "rounds are checkpointed")
    assert(star.peak <= 2, s"peak ${star.peak} RDDs held blocks")
    assert(cachedRdds.intersect(minLabel.seen ++ star.seen).isEmpty)
  }
}
