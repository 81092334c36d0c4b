package graft.pipeline

import graft.SparkSpec
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Sized loops on a session shared with other work: each runs its rounds
  * on its own child session, so the caller's SQL conf never changes —
  * not even while two loops run at once — and each returns a frame of
  * the caller's session. */
class SharedSessionSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  // a 12-node path (peeled from both ends, one node per round) hanging
  // off a triangle, which survives as the 2-core
  private def kCore() = Graph.kCore(
    ((1L to 11L).map(i => (i, i + 1)) ++ Seq((12L, 13L), (13L, 14L), (14L, 12L)))
      .toDF("s", "d"), "s", "d", k = 2)

  // a 12-deep chain plus a shortcut: 12 relaxation rounds
  private def topoLayers() = Graph.topoLayers(
    ((1L to 11L).map(i => (i, i + 1)) :+ ((1L, 12L))).toDF("s", "d"), "s", "d")

  test("two sized loops at once leave the caller's conf untouched and match serial runs") {
    val callerConf = keys.map(spark.conf.get)
    val serialK = kCore().collect().toSet
    val serialT = topoLayers().collect().toSet
    assert(serialK.map(_.getLong(0)) == Set(12L, 13L, 14L))
    assert(serialT.size == 12)

    val mismatches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val samples = new java.util.concurrent.atomic.AtomicLong()
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        val now = keys.map(spark.conf.get)
        if (now != callerConf) mismatches.add(now)
        samples.incrementAndGet()
        Thread.sleep(1)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val (k, t) = try {
      val fk = Future(kCore())
      val ft = Future(topoLayers())
      (Await.result(fk, 5.minutes), Await.result(ft, 5.minutes))
    } finally {
      stop = true
      sampler.join()
    }
    assert(samples.get > 0)
    assert(mismatches.isEmpty,
      s"caller conf ${keys.zip(callerConf)} changed while the loops ran: " +
        mismatches.toArray.take(3).mkString(", "))
    assert(keys.map(spark.conf.get) == callerConf)
    assert(k.sparkSession eq spark)
    assert(t.sparkSession eq spark)
    assert(k.collect().toSet == serialK)
    assert(t.collect().toSet == serialT)
  }
}
