package graft
import org.apache.spark.scheduler._

/** Dev tool (guide §1): run named queries twice each through the Bench
  * noop-sink protocol with a listener attached, and print per-run wall
  * time, job count and time in jobs, then per-job wall times, task counts
  * and shuffle bytes for the second (warm) run. The point is to separate
  * "the plan computes too much" from "the query is a chain of tiny
  * sequential jobs paying fixed scheduling overhead" — the two need
  * opposite fixes. Not part of the driver contract.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<sfDir>] runMain graft.JobProfile <q1> [q2 ...]
  */
object JobProfile {
  private final case class JobRec(id: Int, var start: Long = 0L,
    var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
    var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // stage id -> the job that submitted it. Broadcast and subquery jobs
    // run concurrently with their parent, so "every open job" would count
    // one stage several times; a stage shared with a later job stays with
    // the job that claimed it first.
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId); r.start = e.time
        r.stages = e.stageInfos.size
        jobs.put(e.jobId, r)
        e.stageIds.foreach(stageJob.putIfAbsent(_, r))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val r = stageJob.get(si.stageId)
        if (r != null) {
          r.tasks += si.numTasks
          r.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    for (name <- args; run <- 1 to 2) {
      jobs.clear(); stageJob.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      val rs = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.id)
      val jobSec = rs.map(r => math.max(0L, r.end - r.start)).sum / 1e3
      println(f"===== $name run$run: $sec%.2f s wall, ${rs.length} jobs, " +
        f"$jobSec%.2f s in-jobs (gap ${sec - jobSec}%.2f s)")
      if (run == 2) rs.foreach { r =>
        println(f"  job ${r.id}%4d ${(r.end - r.start) / 1e3}%6.2f s  " +
          f"stages=${r.stages}%2d tasks=${r.tasks}%4d " +
          f"shR=${r.shuffleRead / 1024}%8d KiB shW=${r.shuffleWrite / 1024}%8d KiB")
      }
    }
    spark.stop()
  }
}
