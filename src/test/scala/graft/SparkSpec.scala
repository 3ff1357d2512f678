package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the [[Sessions]] surface
  * Verify and Bench run, at a fixed local[4].
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()   // shared session lives for the whole test JVM
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
