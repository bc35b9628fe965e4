package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the session the engine ships. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession =
    GraftSession.builder("local[4]").appName("graft-test").getOrCreate()
}
