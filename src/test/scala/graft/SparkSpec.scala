package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture. Mirrors the reference's test harness
  * idea (testing/operation_testing.h): every operator spec can re-run its
  * assertion under several partition counts — the Spark analog of the
  * reference's block-size variation — via `withPartitionings`.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = { /* session shared across suites */ }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run an assertion on the frame repartitioned several ways — catches
    * partition-boundary bugs the way the reference's OperationTest catches
    * block-boundary bugs. */
  def withPartitionings(df: DataFrame)(assert: DataFrame => Unit): Unit = {
    assert(df)
    assert(df.repartition(1))
    assert(df.repartition(7))
  }

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Run `body` with SQL confs temporarily set, restoring previous
    * values (or unsetting) afterwards — the shared save/set/restore
    * dance for specs that toggle runtime confs. */
  def withConfs[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[4, 4] = 4 threads, maxFailures 4: task failures are retried
    // exactly as on a real cluster, which TaskRetrySpec relies on to pin
    // retry-determinism. Deterministic task bugs still surface (they fail
    // all 4 attempts); only a flaky nondeterministic task failure could
    // be masked — the precise class TaskRetrySpec exists to hunt.
    val s = Sessions.start("graft-test", Sessions.Settings("local[4, 4]", 4))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
