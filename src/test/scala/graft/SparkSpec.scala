package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one forked test JVM). */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = Tables.session("local[4]", shufflePartitions = 4)

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsIn[T](body: => T): (T, Int) =
    org.apache.spark.sql.graft.JobCounter.count(spark.sparkContext)(body)
}
