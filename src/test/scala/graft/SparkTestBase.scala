package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; ScalaTest
  * suites run sequentially under sbt's forked test JVM). Releases
  * operator caches after each suite so repeated minhash/LSH/cosine
  * pipelines don't accumulate MEMORY_AND_DISK frames across the run
  * (suites that override `afterAll` for their own teardown should call
  * `super.afterAll()`). */
trait SparkTestBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    CacheRegistry.releaseAll()
    super.afterAll()
  }
}

object SparkTestBase {
  // fixed at 4 (not the host's count) so every spec sees 4 shuffle
  // partitions on any machine
  lazy val session: SparkSession = GraftSession.local(4)
}
