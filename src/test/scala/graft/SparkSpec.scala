package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the programs' own bench session
  * ([[Sessions.bench]]) at a fixed 4 cores, so specs see the plans the
  * programs run (256m broadcast ceilings, UTC) with a small shuffle
  * fan-out (test data is sf0.001). Specs that pin a plan shape chosen
  * under another threshold set it inside the spec. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    // managed (bucketed) tables stay out of the checkout
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    Sessions.bench(cpus = 4)
  }

  lazy val ctx: Ctx = Ctx(spark, "/root/testdata/sf0.001")

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here
    super.afterAll()
  }
}
