package graft.tools

import graft.{LocalSession, SparkEntry}

/** Ad-hoc single-query timer for plan iteration:
  *
  *   sbt "runMain graft.tools.TimeQuery q_boilerplate_lines /root/testdata/sf0.1 3 [staged]"
  *
  * Times `reps` warm runs of one registered query against a data dir;
  * with the `staged` flag it first rewrites each table as a 32-file
  * layout under /tmp and applies the bench's small-split scan settings —
  * reproducing the bench's staged diagnostic pass for ONE query so a
  * layout-sensitive regression can be bisected without a full bench run.
  * Prints per-rep wall seconds and the final executed plan.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val reps = if (args.length > 2) args(2).toInt else 3
    val staged = args.length > 3 && args(3) == "staged"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    val dir = if (staged) {
      val stageDir = s"/tmp/graft_timequery_${new java.io.File(baseDir).getName}"
      graft.pipeline.Catalog.tables.map(_.name).foreach { t =>
        val src = s"$baseDir/$t.parquet"
        if (new java.io.File(src).exists() &&
            !new java.io.File(s"$stageDir/$t.parquet/_SUCCESS").exists())
          spark.read.parquet(src).repartition(32)
            .write.mode("overwrite").parquet(s"$stageDir/$t.parquet")
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
      spark.conf.set("spark.sql.files.openCostInBytes", "4m")
      stageDir
    } else baseDir
    val fn = SparkEntry.queries(name)
    fn(spark, dir).write.format("noop").mode("overwrite").save() // warm/JIT
    System.gc()
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      println(f"rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      if (r == reps) println(df.queryExecution.executedPlan.toString.take(60000))
      System.gc()
    }
    spark.stop()
  }
}
