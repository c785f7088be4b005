package graft.tools

import graft.{LocalSession, SparkEntry}

/** Split one registered query's wall time into CONSTRUCTION (the
  * `fn(spark, dir)` call — Catalyst analysis plus any eager
  * checkpoint/collect jobs the operator runs while building its plan)
  * and EXECUTION (the noop write of the returned frame), per warm rep:
  *
  *   sbt "runMain graft.tools.ProfileQuery q_dedup_best_match /root/testdata/sf0.1 5"
  *
  * The bench times the sum; this tool says which side to attack — a
  * construction-heavy query is paying job-launch barriers (eager
  * materializations) or planning, not data compute.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    val fn = SparkEntry.queries(name)
    // per-job ledger: id, wall ms, #tasks, sum of task times — says where
    // the serialized barriers are and how parallel each job actually ran
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (j.time, j.stageIds.size))
        j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
        taskMs.putIfAbsent(j.jobId, new java.util.concurrent.atomic.AtomicLong())
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        println(s"    job ${j.jobId} start: $site")
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(t.stageId, -1)
        if (jid >= 0 && t.taskInfo != null)
          taskMs.get(jid).addAndGet(t.taskInfo.duration)
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, nStages) = jobs.getOrDefault(j.jobId, (j.time, -1))
        println(f"    job ${j.jobId}%3d: ${(j.time - t0) / 1e3}%6.2f s wall, " +
          f"$nStages%2d stages, ${taskMs.get(j.jobId).get / 1e3}%7.2f s task-time")
      }
    })
    fn(spark, dir).write.format("noop").mode("overwrite").save() // warm/JIT
    System.gc()
    println("--- warm ---")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"rep$r: construct ${(t1 - t0) / 1e9}%.3f s + exec ${(t2 - t1) / 1e9}%.3f s" +
        f" = ${(t2 - t0) / 1e9}%.3f s")
      System.gc()
    }
    spark.stop()
  }
}
