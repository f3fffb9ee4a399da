package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main, tool and spec builds its session through [[Session]]:
  * hand-written builders drift apart in their confs, and a probe or
  * spec on a drifted session measures a plan users never run. */
class SessionSpec extends AnyFunSuite {

  private def scalaSources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("graft.Session is the only session builder in src/") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = (scalaSources("src/main") ++ scalaSources("src/test"))
      .filterNot(_.getFileName.toString == "Session.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).nonEmpty)
    assert(offenders.isEmpty,
      s"build the session with graft.Session instead: ${offenders.mkString(", ")}")
  }

  test("the spec session carries the user session's confs") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.io.compression.codec") === "zstd")
    assert(conf.get("spark.sql.requireAllClusterKeysForCoPartition") === "false")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
