package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The table-scan cache is per session: keyed by an identity hash, two
  * live sessions could collide and share each other's frames, and every
  * stopped session's frames stayed in the cache for the JVM's
  * lifetime. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  test("a newSession() gets its own scan entry") {
    val other = spark.newSession()
    val mine = Tables.region(spark, sf)
    val theirs = Tables.region(other, sf)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(Tables.region(other, sf) eq theirs, "the entry is not reused")
    val held = Tables.scanSessions
    assert(held.exists(_ eq spark) && held.exists(_ eq other))
  }

  test("every table's leading column is a usable hash-repartition key") {
    // Tables.apply hash-repartitions a small-file scan on its leading
    // column: a low-cardinality one would leave most partitions empty
    // and serialize the scan again. lineitem's l_orderkey (about 4
    // rows per key) is the tightest; every other table is unique on it.
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    Tables.names.foreach { name =>
      val df = Tables(spark, sf, name)
      val r = df.agg(count(lit(1)), countDistinct(col(df.columns.head))).head
      val (rows, keys) = (r.getLong(0), r.getLong(1))
      assert(rows > 0 && keys * 8 >= rows,
        s"$name.${df.columns.head}: $keys distinct over $rows rows")
    }
  }

  test("a stopped session's scan entry is dropped") {
    // stopping a session stops its SparkContext, which the other specs
    // share — so the check runs in a child JVM on the same classpath
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val opts = jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++
      opts ++ Seq("-cp", sys.props("java.class.path"),
        "graft.TablesStopProbe", sf)
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0, out.linesIterator.toSeq.takeRight(20).mkString("\n"))
  }
}

/** Child-JVM half of [[TablesSpec]]: scan on a session, stop it, scan
  * on a fresh one, then check the cache holds the fresh session and no
  * longer the stopped one. Exits 0 on success. */
object TablesStopProbe {
  def main(args: Array[String]): Unit = {
    val first = Session(1)
    Tables.region(first, args(0)).count()
    first.stop()
    val next = Session(1)
    Tables.region(next, args(0)).count()
    val held = Tables.scanSessions
    if (held.exists(_ eq first)) fail("the stopped session's entry survived")
    if (!held.exists(_ eq next)) fail("the live session has no entry")
    next.stop()
    sys.exit(0)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[tables-probe] $msg")
    sys.exit(1)
  }
}
