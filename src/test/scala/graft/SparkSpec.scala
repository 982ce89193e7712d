package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` once per evaluation path: interpreted projections
    * (`eval`), then whole-stage generated code only.
    */
  protected def inBothPaths(body: String => Unit): Unit =
    Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true").foreach {
      case (mode, wscg) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wscg)
        try body(mode)
        finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
    }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
