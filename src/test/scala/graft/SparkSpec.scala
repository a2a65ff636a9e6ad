package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay session startup per class). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

object SparkSpec {
  /** The shipped session ([[Sessions.local]], what Bench, Verify,
    * Profile, perfbench and deployments run), at 4 cores and 4 shuffle
    * partitions: job and task pins hold for the configuration that
    * ships. */
  lazy val session: SparkSession = Sessions.local("4", "4")
}
