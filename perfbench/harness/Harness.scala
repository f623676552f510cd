package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: set up the session, run the workload's
  * queries once untimed (dumping every result for the DuckDB check), then run
  * whole timed rounds of them through one closed-loop client.
  *
  * Each query is timed in two parts: the call into its public query function
  * (eager driver work: commits, Memo builds, driver collects) and the full
  * materialization of the returned DataFrame through Spark's `noop` sink.
  *
  * With `--trace 1` the run also records spans and per-query layer counters,
  * all from outside the program: a SparkListener, a QueryExecutionListener,
  * a StreamingQueryListener, CodeGenerator's compile-time counter, and the
  * program's public counters (Memo, ShardSink, SinkMvRewrite, SinkMvDist).
  *
  * Args: --workload W --queries FILE --data DIR[,DIR...] --rounds N
  *       --trace 0|1 --out DIR --cpus N --local DIR
  * The untimed warm-up round reads the first data dir, timed round r reads
  * dir (r + 1) % #dirs. Writes DIR/result.json, DIR/spans.jsonl,
  * DIR/oracle_sql.json and DIR/check/<query>/ (parquet).
  */
object Harness {

  /** The repo's operator modules, keyed by the package of each query's
    * defining object — the same objects SparkEntry.queries concatenates.
    */
  val Modules: Seq[(String, Seq[Map[String, (SparkSession, String) => DataFrame]])] = Seq(
    "queries" -> Seq(graft.queries.RefQueries.queries, graft.queries.JoinQueries.queries,
      graft.queries.RelQueries.queries, graft.queries.EventQueries.queries),
    "etl" -> Seq(graft.etl.EtlQueries.queries, graft.etl.Sampling.queries,
      graft.etl.Profiler.queries, graft.etl.Checks.queries, graft.etl.SkewJoin.queries),
    "text" -> Seq(graft.text.TextOps.queries, graft.text.CurationOps.queries,
      graft.text.BpeTrainer.queries, graft.text.Dedup.queries, graft.text.SpanDedup.queries,
      graft.text.CorpusPipeline.queries, graft.text.LangId.queries,
      graft.text.QualityModel.queries),
    "vec" -> Seq(graft.vec.VectorOps.queries),
    "graph" -> Seq(graft.graph.Components.queries),
    "multimodal" -> Seq(graft.multimodal.Media.queries),
    "sources" -> Seq(graft.sources.Sinks.queries),
    "streaming" -> Seq(graft.streaming.CorpusStreaming.queries,
      graft.streaming.EventStreaming.queries, graft.streaming.VectorStreaming.queries))

  lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (m, maps) => maps.flatMap(_.keys).map(_ -> m) }.toMap

  /** graft.Bench's session config, entry for entry. */
  def sessionConf(cpus: String, localDir: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.hadoop.fs.file.impl" -> "graft.util.NoCrcLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.RawLocalFs",
    "spark.ui.enabled" -> "false",
    // run isolation: shuffle/spill files and the warehouse stay in the run dir
    "spark.local.dir" -> localDir,
    "spark.sql.warehouse.dir" -> s"$localDir/warehouse")

  def newSession(cpus: String, localDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    sessionConf(cpus, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's untimed warm-up: one scan per table and one codegen'd agg. */
  def warm(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    graft.model.Tables.events(spark, dir).count()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
  }

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def procField(file: String, key: String): Long =
    try {
      Files.readAllLines(Paths.get(file)).asScala
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** Bytes this process passed to write calls (wchar in /proc/self/io). */
  def wchar(): Long = procField("/proc/self/io", "wchar")

  // ---------------------------------------------------------------- tracing

  /** Per-query layer counters, accumulated by the listeners under the label
    * of the query that is running. The client drains the listener bus before
    * it relabels, so each event lands on the query that caused it.
    */
  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskCpuNs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var analysisMs = 0L; var optimizerMs = 0L; var planningMs = 0L
    var batches = 0L; var batchMs = 0L; var commitMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final class Tracer(spark: SparkSession) extends SparkListener
      with QueryExecutionListener {
    @volatile var label: String = "setup"
    private val accs = new ConcurrentHashMap[String, Acc]()
    private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]
    private val markerStages = mutable.HashSet.empty[Int]
    private val markerDone = new AtomicLong(0L)
    private val markerSeq = new AtomicLong(0L)
    private val streamLabel = new ConcurrentHashMap[java.util.UUID, String]()
    private val streamsStarted = new AtomicLong(0L)
    private val streamsEnded = new AtomicLong(0L)

    def acc(l: String): Acc = accs.computeIfAbsent(l, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.marker"))) match {
        case Some(_) => markerStages ++= e.stageIds
        case None =>
          jobStarts(e.jobId) = (label, e.time)
          acc(label).jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId) match {
        case Some((l, t0)) => acc(l).jobIntervals += ((t0, e.time))
        case None => markerDone.incrementAndGet()
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
        val a = acc(label)
        val m = e.taskMetrics
        a.tasks += 1
        a.taskCpuNs += m.executorCpuTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }

    private def phases(qe: QueryExecution): Unit = synchronized {
      val a = acc(label)
      val p = qe.tracker.phases
      a.analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      a.optimizerMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      a.planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

    /** Analysis of the DataFrame a query function returns happens eagerly in
      * the call; the noop write re-plans it under a new QueryExecution.
      */
    def addAnalysis(l: String, df: DataFrame): Unit = synchronized {
      acc(l).analysisMs +=
        df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      // called synchronously inside DataStreamWriter.start(): `label` is the
      // query that started the stream
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        streamLabel.put(e.runId, label)
        streamsStarted.incrementAndGet()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Tracer.this.synchronized {
          val a = acc(streamLabel.getOrDefault(p.runId, label))
          a.batches += 1
          a.batchMs += d.getOrElse("triggerExecution", 0L)
          a.commitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
        }
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        streamsEnded.incrementAndGet()
    }

    /** Block until every event posted so far has been delivered: run a tiny
      * marker job and wait for its end event (the shared listener queue is
      * FIFO), and until every started stream has reported termination.
      */
    def drain(): Unit = {
      val sc = spark.sparkContext
      val want = markerSeq.incrementAndGet()
      sc.setLocalProperty("perfbench.marker", want.toString)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("perfbench.marker", null)
      val deadline = now() + 10000000000L
      while ((markerDone.get() < want || streamsEnded.get() < streamsStarted.get()) &&
        now() < deadline) Thread.sleep(1)
    }
  }

  // ------------------------------------------------------------------- json

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  // ------------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dirs = opt("data").split(",").toSeq
    val rounds = opt("rounds").toInt
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cpus = opt("cpus")
    val localDir = opt("local")
    val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq
    val entry = graft.SparkEntry.queries
    val unknown = names.filterNot(entry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // set-up ends when the session is built and the tables are warm; the
    // launcher takes its start from the moment it started this JVM
    val spark = newSession(cpus, localDir)
    warm(spark, dirs.head)
    val ready = java.time.Instant.now()
    val setupDoneEpochS = ready.getEpochSecond + ready.getNano / 1e9
    val conf = spark.sparkContext.getConf.getAll.toSeq.sorted.toMap ++
      Map("jvm.args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" "))

    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      spark.streams.addListener(t.streams)
      t.drain()
    }

    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      json(graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    val memoBefore = graft.util.Memo.buildTimes
    val counters: Seq[(String, () => Long)] = Seq(
      "data_files_read" -> (() => graft.sources.ShardSink.dataFileReadCount.get()),
      "mv_rewrites" -> (() => graft.sources.SinkMvRewrite.rewrites.get()),
      "mv_fallbacks" -> (() => graft.sources.SinkMvRewrite.costFallbacks.get() +
        graft.sources.SinkMvRewrite.dirtyCapFallbacks.get()),
      "mv_driver_rows" -> (() => graft.sources.SinkMvDist.driverRowsCollected.get()),
      "codegen_ns" -> (() => CodeGenerator.compileTime))
    val runId = s"$workload-${ProcessHandle.current().pid()}-${System.currentTimeMillis()}"
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val wallNs0 = System.currentTimeMillis() * 1000000L - now()
    def wallMs(t: Long): Long = (wallNs0 + t) / 1000000L
    def span(name: String, module: String, phase: String, t0: Long, t1: Long,
        parent: String, id: String = s"s${spans.size}"): String = {
      spans += Map("run" -> runId, "workload" -> workload, "id" -> id, "query" -> name,
        "module" -> module, "phase" -> phase, "start_ns" -> t0, "end_ns" -> t1,
        "parent" -> parent)
      id
    }

    // Warm-up round, untimed: each query's result is written as parquet for
    // the DuckDB check (graft.Verify's write, over the first data dir). It
    // also fills the JIT and the codegen cache, so the timed rounds that
    // follow measure a steady engine.
    tracer.foreach(_.label = "check")
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val check0 = now()
    for (name <- names) {
      try entry(name)(spark, dirs.head).write.mode("overwrite").parquet(s"$out/check/$name")
      catch { case e: Throwable =>
        checkErrors(name) = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
    }
    val checkS = secs(now() - check0)

    // files the check round left, so the stored_* counts cover the timed rounds only
    val tmpRoot = Paths.get(sys.props("java.io.tmpdir"))
    def tmpFiles(): Set[java.nio.file.Path] = {
      val w = Files.walk(tmpRoot)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toSet finally w.close()
    }
    val preRounds = tmpFiles()

    val roundStats = mutable.ArrayBuffer.empty[Map[String, Any]]
    val run0 = now()
    val runSpan = "run"
    for (r <- 0 until rounds) {
      // with one dir per round (curation), every timed round gets fresh Memo keys
      val dir = dirs((r + 1) % dirs.size)
      val cpu0 = processCpuNs()
      val io0 = wchar()
      val round0 = now()
      val roundSpans = mutable.ArrayBuffer.empty[(String, String, String, Long, Long)]
      for (name <- names) {
        val module = moduleOf(name)
        val label = s"$r/$name"
        tracer.foreach(_.label = label)
        val memo0 = graft.util.Memo.buildTimes
        val c0 = counters.map(_._2())
        var err: String = null
        var df: DataFrame = null
        val t0 = now()
        var t1 = t0
        var t2 = t0
        try {
          df = entry(name)(spark, dir)
          t1 = now()
          df.write.format("noop").mode("overwrite").save()
          t2 = now()
        } catch { case e: Throwable =>
          if (t1 == t0) t1 = now()
          t2 = now()
          err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        }
        val rec = mutable.LinkedHashMap[String, Any](
          "round" -> r, "query" -> name, "module" -> module,
          "call_s" -> secs(t1 - t0), "exec_s" -> secs(t2 - t1), "error" -> err)
        tracer.foreach { t =>
          if (df != null) t.addAnalysis(label, df)
          t.drain()
          val memo1 = graft.util.Memo.buildTimes
          val built = memo1.keySet -- memo0.keySet
          val c1 = counters.map(_._2())
          counters.map(_._1).zip(c1.zip(c0)).foreach { case (k, (b, a)) => rec(k) = b - a }
          rec("memo_builds") = built.size
          rec("memo_build_s") = built.toSeq.map(memo1).sum
          val a = t.acc(label)
          val (q0, q1) = (wallMs(t0), wallMs(t2))
          // union of this query's job intervals, clipped to the query window
          val merged = a.jobIntervals.map { case (s, e) => (math.max(s, q0), math.min(e, q1)) }
            .filter { case (s, e) => e > s }.sortBy(_._1)
            .foldLeft(List.empty[(Long, Long)]) {
              case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
              case (acc, iv) => iv :: acc
            }
          val jobMs = merged.map { case (s, e) => e - s }.sum
          rec ++= Seq("jobs" -> a.jobs, "tasks" -> a.tasks, "task_cpu_s" -> a.taskCpuNs / 1e9,
            "input_mb" -> a.inputBytes / 1e6, "shuffle_mb" -> a.shuffleBytes / 1e6,
            "spill_mb" -> a.spillBytes / 1e6, "analysis_s" -> a.analysisMs / 1e3,
            "optimizer_s" -> a.optimizerMs / 1e3, "planning_s" -> a.planningMs / 1e3,
            "driver_gap_s" -> math.max(0.0, secs(t2 - t0) - jobMs / 1e3),
            "batches" -> a.batches, "batch_s" -> a.batchMs / 1e3, "commit_s" -> a.commitMs / 1e3)
          roundSpans += ((name, module, "query", t0, t2))
          roundSpans += ((name, module, "call", t0, t1))
          roundSpans += ((name, module, "exec", t1, t2))
        }
        records += rec.toMap
      }
      val round1 = now()
      val cpu1 = processCpuNs()
      val io1 = wchar()
      // untimed: a full GC, then the heap the round left live
      System.gc()
      roundStats += Map("run_s" -> secs(round1 - round0), "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "wchar" -> (io1 - io0),
        "live_heap_bytes" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      if (trace) {
        val rs = span(s"round$r", "", "round", round0, round1, runSpan)
        var qs = ""
        roundSpans.foreach { case (n, m, ph, a, b) =>
          if (ph == "query") qs = span(n, m, ph, a, b, rs) else span(n, m, ph, a, b, qs)
        }
      }
    }
    val runNs = now() - run0
    tracer.foreach(_.drain())
    if (trace) span("run", "", "run", run0, run0 + runNs, null, runSpan)
    val memoAfter = graft.util.Memo.buildTimes
    // what the timed rounds left in the run's temp dir (sinks, checkpoints)
    val stored = (tmpFiles() -- preRounds).toSeq.map(Files.size)

    val result = Map(
      "workload" -> workload, "rounds" -> rounds, "setup_done_epoch_s" -> setupDoneEpochS,
      "run_s" -> secs(runNs), "round_stats" -> roundStats, "records" -> records,
      "stored_files" -> stored.size, "stored_bytes" -> stored.sum,
      "memo_builds_run" -> (memoAfter.keySet -- memoBefore.keySet).size,
      "check_errors" -> checkErrors, "check_s" -> checkS, "config" -> conf)
    Files.writeString(Paths.get(s"$out/result.json"), json(result))
    if (trace)
      Files.write(Paths.get(s"$out/spans.jsonl"),
        spans.map(json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
