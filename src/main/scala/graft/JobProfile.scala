package graft

import org.apache.spark.graftbus.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.gates.Gates

/** Job-level profile of one or more named SparkEntry queries: per query,
  * every Spark job's wall clock, stage count and task count, plus the
  * aggregate job count and inter-job gap (driver think time — AQE
  * replanning, plan analysis, checkpoint bookkeeping). The measurement
  * companion to Bench for ITERATIVE operators, whose cost is
  * rounds x per-job fixed latency rather than data volume (optimization
  * guide section 1: decide whether time goes to compute or scheduling
  * before touching the algorithm).
  *
  * Usage: tools/run_main.sh graft.JobProfile q_topo_layers [more...]
  * Env: SPARK_GRAFT_SF_DIR as in Bench; session settings: the README
  * table "Session settings".
  */
object JobProfile {
  private final case class JobRec(id: Int, start: Long, var end: Long = -1L,
                                  var stages: Int = 0, var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val picked = Gates.select(args.toSeq)
    val spark = Sessions.start("graft-jobprofile")
    // warmup (same as Bench): absorb codegen/session startup
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val r = JobRec(js.jobId, js.time)
        r.stages = js.stageInfos.size
        r.tasks = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, r); order.add(r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId); if (r != null) r.end = je.time
      }
    }
    ListenerBus.drain(spark.sparkContext) // the warm-up's jobs stay out
    spark.sparkContext.addSparkListener(listener)

    picked.foreach { g =>
      System.gc()
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      g.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: wait until every job's end has arrived
      ListenerBus.drain(spark.sparkContext)
      val recs = order.toArray(new Array[JobRec](0)).toSeq.sortBy(_.start)
      val jobSum = recs.filter(_.end > 0).map(r => r.end - r.start).sum / 1e3
      val gaps = recs.sliding(2).collect {
        case Seq(a, b) if a.end > 0 => math.max(0L, b.start - a.end)
      }.sum / 1e3
      println(f"== ${g.name}: wall ${wall}%.2f s, ${recs.size} jobs, " +
        f"job time ${jobSum}%.2f s, inter-job gap ${gaps}%.2f s")
      recs.foreach { r =>
        val d = if (r.end > 0) (r.end - r.start) / 1e3 else -1.0
        println(f"  job ${r.id}%4d  ${d}%7.3f s  stages=${r.stages}%3d tasks=${r.tasks}%5d")
      }
    }
    spark.stop()
  }
}
