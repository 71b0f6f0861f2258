package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session; specs
  * must use unique database/view names), built through [[Graft.builder]]
  * so the suite runs under the library's conf contract, static confs
  * included.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  override def afterAll(): Unit = { /* shared session: leave running */ }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val wh = Files.createTempDirectory("graft-wh").toString
    val s = Graft.builder(Some(4))
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
