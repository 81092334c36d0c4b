package graft.pipeline

import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.graftbus.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Pins the Spark jobs of the Curate chain's operators, counted by a
  * listener: work that is already known is not recomputed. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  /** The SQL execution (query) id of each job `body` starts. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(
        Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).getOrElse("-"))
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("mixCorpora counts its sources in one query, however many there are") {
    val all = spark.range(5000).toDF("id")
    def mix(k: Int): Unit = Sampling.mixCorpora(
      (0 until k).map(m => (s"s$m", all.where(col("id") % k === m), (m + 1).toLong)),
      Seq("id"), targetRows = 1000)
    // one source: its count and the interleave order; five add nothing
    val one = jobsOf(mix(1))
    val five = jobsOf(mix(5))
    assert(five.distinct.size == one.distinct.size,
      s"queries with 5 sources: $five; with 1: $one")
    assert(five.size == one.size, s"jobs with 5 sources: $five; with 1: $one")
  }

  test("importanceScores -> selectTopFraction computes the scored frame once") {
    val reads = spark.sparkContext.longAccumulator("pool rows read")
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta alpha"),
      (3L, "x y"), (4L, "solo"), (5L, "gamma alpha beta"))
    val pool = docs.toDF("id", "text").as[(Long, String)]
      .map { r => reads.add(1); r }.toDF("id", "text")
    val target = Seq((9L, "alpha beta")).toDF("id", "text")
    // the optimizer folds the ratio table: only the bucket counts run
    val counted = jobsOf(Dsir.importanceScores(pool, target, "id", "text", 64))
    assert(counted.distinct.size == 1, s"importanceScores jobs: $counted")
    reads.reset()
    val jobs = jobsOf {
      Dsir.selectTopFraction(Dsir.importanceScores(pool, target, "id", "text", 64),
        "id", num = 1, den = 2).collect()
    }
    // one pass for the bucket counts, one for the scores; the count and
    // the rank read the staged scores
    assert(reads.value == 2L * docs.size, s"pool rows read: ${reads.value}; jobs: $jobs")
  }
}
