package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage task-metric profiler for registered queries: one warm pass
  * (JIT, page cache), then one PROFILED pass per query with a
  * SparkListener recording, for every completed stage, the metrics that
  * localize where wall-clock actually goes — task time, executor CPU,
  * GC, shuffle bytes both directions, spill, records. The evidence
  * trail behind optimize-or-leave decisions on the top bench queries
  * (round-13 verdict #5: profile-then-decide, no plan intuition).
  *
  * Usage: runMain graft.Profile [query ...]   (default: top bench set)
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  */
object Profile {

  case class StageRow(id: Int, name: String, tasks: Int, taskTimeMs: Long,
                      cpuMs: Long, gcMs: Long, shufReadMB: Double,
                      shufWriteMB: Double, spillMB: Double,
                      inRecords: Long, outRecords: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_bigram_xent", "q_dedup_spans", "q_dedup_cluster",
        "q_fuzzy_link_capped", "q_pg_archive_lineitem")
    val spark = LocalSession(cpus)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = ev.stageInfo; val m = si.taskMetrics
          stages.add(StageRow(si.stageId, si.name,
            si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten))
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc()
      dt
    }

    names.filter(SparkEntry.queries.contains).foreach { name =>
      runOnce(name) // warm, unprofiled
      stages.clear(); recording = true
      val wall = runOnce(name)
      recording = false
      // listener events are async (private bus) — settle before reading
      Thread.sleep(400)
      println(f"\n===== $name  wall=${wall}%.3f s =====")
      println(f"${"stage"}%-7s${"tasks"}%6s${"taskTime"}%10s${"cpu"}%8s" +
        f"${"gc"}%7s${"shufR MB"}%10s${"shufW MB"}%10s${"spill"}%8s" +
        f"${"recIn"}%10s  name")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_.id)
      rows.foreach { r =>
        println(f"${r.id}%-7d${r.tasks}%6d${r.taskTimeMs}%9dms${r.cpuMs}%6dms" +
          f"${r.gcMs}%5dms${r.shufReadMB}%10.1f${r.shufWriteMB}%10.1f" +
          f"${r.spillMB}%8.1f${r.inRecords}%10d  ${r.name.take(60)}")
      }
      val tt = rows.map(_.taskTimeMs).sum
      val cpu = rows.map(_.cpuMs).sum
      println(f"TOTAL tasks=${rows.map(_.tasks).sum} taskTime=${tt}ms " +
        f"cpu=${cpu}ms gc=${rows.map(_.gcMs).sum}ms " +
        f"shufRead=${rows.map(_.shufReadMB).sum}%.1fMB " +
        f"shufWrite=${rows.map(_.shufWriteMB).sum}%.1fMB " +
        f"spill=${rows.map(_.spillMB).sum}%.1fMB " +
        f"stages=${rows.size} cpu/taskTime=${if (tt == 0) 0.0 else cpu.toDouble / tt}%.2f")
    }
    spark.stop()
  }
}
