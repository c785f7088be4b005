package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Lifecycle
import graft.llm.CuratePipeline
import graft.pipeline._
import graft.sources.{Compress, CopyText, PgRestore, PgSource}
import graft.subset.{SubsetGraph, SubsetPlanner}

/** Traced twin of one `graft.Lifecycle` command.
  *
  * It calls the public functions the command calls, in the same order,
  * and materializes each layer's output at the layer boundary (cache +
  * count), so every layer's wall time is its own. Spans (name, start,
  * end, parent, run id) and counters are kept in memory and written as
  * JSON lines when the command ends; a SparkListener registered here
  * records the job, stage and task ledger of the phase.
  *
  * Usage: perfbench.BenchTrace <launchEpochMs> <runId> <out.jsonl> <command> <args...>
  * with the command one of
  *   pg-dump <config.json> <conninfo> <outDir> <compress>
  *   pg-restore <archiveDir> <conninfo> <jobs>
  *   dump <config.json> <sfDir> <outDir>
  *   restore <manifest.json> <targetDir>
  *   curate <config.json> <sfDir> <outDir>
  */
object BenchTrace {

  final case class Span(name: String, start: Long, end: Long, parent: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = mutable.LinkedHashMap[String, Double]()
  private implicit val ec: ExecutionContext = ExecutionContext.global

  def span[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(Span(name, t0, System.nanoTime(), parent))
  }

  def count(name: String, v: Double): Unit = counters.synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  /** Cache + count: the layer's output exists when this returns. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  /** Job / stage / task ledger of the phase. */
  final class Ledger extends SparkListener {
    val jobStart = mutable.Map[Int, Long]()
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    @volatile var lastEvent = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time; lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
      lastEvent = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      lastEvent = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        tasks += 1
        taskMs += m.executorRunTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      }
    }

    /** Wait until every started job has ended and the bus went quiet. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      while (System.nanoTime() < deadline &&
        (synchronized(jobStart.nonEmpty) || System.nanoTime() - lastEvent < 300000000L))
        Thread.sleep(50)
    }

    def report(phaseWallS: Double, cores: Int): Unit = synchronized {
      val union = unionMs(jobIntervals.toSeq) / 1000.0
      count("spark.jobs", jobIntervals.size)
      count("spark.tasks", tasks)
      count("spark.job_wall_s", union)
      count("spark.task_s", taskMs / 1000.0)
      count("spark.shuffle_bytes", shuffleBytes)
      count("spark.spill_bytes", spillBytes)
      count("driver.outside_jobs_s", math.max(phaseWallS - union, 0.0))
      count("spark.cores_x_wall_s", union * cores)
      val skew = stageTasks.values.filter(_.size >= 2).map { ds =>
        val s = ds.sorted
        val med = math.max(s(s.size / 2), 1L)
        s.last.toDouble / med
      }
      counters.synchronized {
        counters("spark.task_skew") =
          math.max(counters.getOrElse("spark.task_skew", 0.0), (1.0 +: skew.toSeq).max)
      }
    }
  }

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  // ------------------------------------------------------------ phases

  /** Lifecycle.pgDump, non-partitioned sources, full sections. */
  def pgDump(spark: SparkSession, cfgPath: String, conninfo: String, outDir: String,
             compress: String): Unit = {
    val configs = ConfigLoader.fromJson(Files.readString(Paths.get(cfgPath)))
    val psqlArgs = Seq("-d", conninfo)
    val relkinds = span("pgsource.catalog", "dump")(PgSource.relkinds(psqlArgs))
    count("pgsource.catalog_calls", 1)
    require(configs.forall(c => !relkinds.get(c.table).contains('p')),
      "traced pg-dump covers plain tables only")
    // COPY streams, concurrently per table as the command runs them
    val sources = configs.map { cfg =>
      cfg -> Future(span("pgsource.copy", "dump")(PgSource.table(spark, psqlArgs, cfg.table,
        conds = cfg.subsetConds, slices = cfg.dumpSlices)))
    }.map { case (cfg, f) => cfg -> Await.result(f, Duration.Inf) }
    // per table: columnsOf + relkinds (+ relPages when sliced) catalog calls
    count("pgsource.catalog_calls", configs.map(c => if (c.dumpSlices > 1) 3 else 2).sum)
    val masked = sources.map { case (cfg, src) =>
      val (parsed, rows) = span("copytext.parse", "dump")(materialize(src))
      count("pgsource.copy_rows", rows)
      val planned = span("planner.construct", "dump")(
        Planner.plan(parsed, cfg.copy(subsetConds = Nil)))
      cfg.table -> span("planner.exec", "dump")(materialize(planned))._1
    }
    val deps = span("pgsource.catalog", "dump")(PgSource.fkDeps(psqlArgs))
    count("pgsource.catalog_calls", 1)
    val names = masked.map(_._1)
    val edges = deps.toSeq.flatMap { case (c, ps) =>
      ps.filter(names.contains).map(p => FkRef(c, Nil, p, Nil)) }
    val byName = masked.toMap
    val ordered = SubsetGraph.restoreOrder(names, edges).flatten.map(n => n -> byName(n))
    val schemaDir = outDir + ".schema"
    val schemaToc = span("pgdump.schema", "dump") {
      val p = new ProcessBuilder("/usr/bin/pg_dump", "-Fd", "--schema-only", "--compress=0",
        "-d", conninfo, "-f", schemaDir).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      require(p.waitFor() == 0, s"pg_dump --schema-only failed:\n$out")
      val toc = PgToc.readFile(s"$schemaDir/toc.dat")
      Files.walk(Paths.get(schemaDir)).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      toc
    }
    val sequences = span("pgsource.catalog", "dump")(PgSource.sequenceValues(psqlArgs))
    count("pgsource.catalog_calls", 1)
    // TOC merge over empty frames of the same schemas: the TOC does not
    // depend on the rows, so this is the merge's own cost (plus one empty
    // member per table, overwritten below)
    span("pgtoc.merge", "dump")(PgToc.dumpArchiveMerged(
      ordered.map { case (t, df) => t -> df.limit(0) }, outDir, schemaToc,
      deps = deps, sequences = sequences, compress = compress))
    // payload members: the same writer, file names and order as the merge
    val algo = Compress.parse(compress)
    val maxId = schemaToc.entries.map(_.dumpId).maxOption.getOrElse(0)
    val ext = ".dat" + Compress.extension(algo)
    span("archive.write", "dump") {
      ordered.zipWithIndex.map { case ((_, df), i) =>
        Future(CopyText.writeDatFile(df, s"$outDir/${maxId + i + 1}$ext", algo))
      }.foreach(Await.result(_, Duration.Inf))
    }
  }

  def pgRestore(archDir: String, conninfo: String, jobs: Int): Unit =
    Seq("pre-data" -> "pgrestore.predata", "data" -> "pgrestore.data",
      "post-data" -> "pgrestore.postdata").foreach { case (section, name) =>
      span(name, "restore")(PgRestore.restore(archDir, Seq("-d", conninfo), jobs = jobs,
        exitOnError = false, section = Some(section)))
    }

  /** Lifecycle.dump (lake source). */
  def lakeDump(spark: SparkSession, cfgPath: String, sfDir: String, outDir: String): Unit = {
    val configs = ConfigLoader.fromJson(Files.readString(Paths.get(cfgPath)))
    val dfs = span("catalog.load", "dump")(
      configs.map(c => c.table -> Catalog.load(spark, sfDir, c.table)).toMap)
    span("planner.construct", "dump") {
      val warnings = configs.flatMap(c => Planner.validate(dfs(c.table), c))
      require(!warnings.exists(_.severity == "error"), "dump: validation errors")
    }
    val conds = configs.map(c => c.table -> c.subsetConds).toMap
    val pks = Catalog.tables.map(t => t.name -> t.primaryKey).toMap
    val planned = span("subset.construct", "dump")(
      SubsetPlanner.plan(dfs, pks, Catalog.fkRefs, conds))
    val surviving = span("subset.exec", "dump")(
      planned.map { case (t, df) => t -> materialize(df)._1 })
    val order = span("catalog.load", "dump")(Manifest.dumpOrder(configs.map(c =>
      (c.table, Lifecycle.inputBytes(spark, dfs(c.table)).max(1L), c.transforms.size))))
    val masked = order.map { t =>
      val cfg = configs.find(_.table == t).get
      val p = span("planner.construct", "dump")(
        Planner.plan(surviving(t), cfg.copy(subsetConds = Nil)))
      (t, span("planner.exec", "dump")(materialize(p))._1, s"$outDir/$t")
    }
    span("storage.write", "dump") {
      masked.map { case (_, df, path) => Future(StorageWriter.write(df, path)) }
        .foreach(Await.result(_, Duration.Inf))
    }
    span("manifest.build", "dump") {
      val manifest = Manifest.build(masked)
      Files.createDirectories(Paths.get(outDir))
      Manifest.write(manifest, s"$outDir/manifest.json")
      PgToc.writeFile(PgToc.fromManifest(manifest, dbName = "graft"), s"$outDir/toc.dat")
    }
  }

  def lakeRestore(spark: SparkSession, manifestPath: String, target: String): Unit =
    span("lakerestore", "restore")(Lifecycle.restore(spark, manifestPath, target))

  /** CuratePipeline.main, one materialized step at a time. */
  def curate(spark: SparkSession, cfgPath: String, sfDir: String, outDir: String): Unit = {
    val cfg = CuratePipeline.parse(Files.readString(Paths.get(cfgPath)))
    def resolve(t: String): DataFrame = spark.read.parquet(s"$sfDir/$t.parquet")
    val (input, _) = span("curate.input", "curate")(materialize(resolve(cfg.input)))
    val out = cfg.steps.foldLeft(input) { (df, s) =>
      val (m, n) = span(s"curate.${s.op}", "curate")(
        materialize(CuratePipeline.applyStep(df, cfg.id, cfg.text, s, resolve)))
      count(s"curate.${s.op}_rows_out", n)
      m
    }
    span("curate.write", "curate")(out.write.mode("overwrite").parquet(s"$outDir/curated.parquet"))
  }

  // -------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val launchMs = args(0).toLong
    val runId = args(1)
    val outFile = args(2)
    val phase = args(3) match {
      case "curate" => "curate"
      case "pg-dump" | "dump" => "dump"
      case _ => "restore"
    }
    val t0 = System.nanoTime()
    val spark = Lifecycle.session()
    count("cli.startup_s", (System.currentTimeMillis() - launchMs) / 1000.0)
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val cores = spark.sparkContext.defaultParallelism
    val w0 = System.nanoTime()
    span(phase, "")(args.drop(3).toList match {
      case "pg-dump" :: cfg :: conn :: out :: compress :: Nil => pgDump(spark, cfg, conn, out, compress)
      case "pg-restore" :: dir :: conn :: jobs :: Nil => pgRestore(dir, conn, jobs.toInt)
      case "dump" :: cfg :: sf :: out :: Nil => lakeDump(spark, cfg, sf, out)
      case "restore" :: manifest :: target :: Nil => lakeRestore(spark, manifest, target)
      case "curate" :: cfg :: sf :: out :: Nil => curate(spark, cfg, sf, out)
      case other => throw new IllegalArgumentException(s"unknown command: $other")
    })
    val wallS = (System.nanoTime() - w0) / 1e9
    ledger.drain()
    ledger.report(wallS, cores)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    count("jvm.gc_s", gc / 1000.0)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    count("jvm.peak_heap_mb", heap / 1048576.0)
    spark.stop()
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.asScala.foreach { s =>
      sb ++= s"""{"span":${q(s.name)},"start":${s.start - t0},"end":${s.end - t0},""" +
        s""""parent":${q(s.parent)},"run":${q(runId)}}""" + "\n"
    }
    counters.foreach { case (k, v) => sb ++= s"""{"count":${q(k)},"value":$v,"run":${q(runId)}}""" + "\n" }
    Files.writeString(Paths.get(outFile), sb.toString)
  }
}
