package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** GraftSession is the one place a session is built: a copied builder
  * block drifts (three different SPARK_GRAFT_CPUS defaults once
  * coexisted), so no other source file may call the Spark builder.
  */
class SessionBuilderScanSpec extends AnyFunSuite {

  test("only GraftSession.scala calls the Spark session builder under src/") {
    val needle = "SparkSession" + ".builder()"
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft/SparkEntry.scala"))),
      "scan must run from the repository root")
    val callers = files.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).sorted
    assert(callers == Seq("GraftSession.scala"))
  }
}
