package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // keep shared session for other suites
}

object SparkTestBase {
  lazy val session: SparkSession = Session("4", conf = Map(
    "spark.app.name" -> "graft-test",
    // FAIR task scheduling: EndpointSpec runs fast queries concurrent
    // with a deliberately-monstrous one — under FIFO the fast query's
    // tasks starve behind the monster's and blow their own request
    // deadline (the r7 "spurious cancellation" flake)
    "spark.scheduler.mode" -> "FAIR"))
}
