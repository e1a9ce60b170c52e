package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Drives one benchmark workload through graft's public entry points and
  * writes every raw observation to `<out>/raw.json`; `perfbench/run.py`
  * turns that file into metrics. Usage (normally launched by run.py):
  *
  *   perfbench.Harness workload=<name> data=<dir> out=<dir> seconds=<n>
  *     trace=<0|1> cores=<n> (queries=a,b,c | serve=<mixed|read> [interval_ms=<n>])
  *
  * Batch workloads (`queries=` given) run four warm-up passes, the first of
  * which writes every query's output for the oracle check, then complete
  * passes of the query set until `seconds` have elapsed. The serve
  * workloads build a bucketed store, start a Gateway, write
  * `<out>/ready.json` and serve an external load process until `<out>/stop`
  * appears; in serve-mixed a writer drains one seeded changelog batch per
  * `interval_ms` meanwhile.
  *
  * With trace=1 a SparkListener and a StreamingQueryListener record jobs
  * and micro-batches; batch workloads alternate untraced and traced passes,
  * and serve-read untraced and traced segments of its read window, so a
  * single run measures the tracing overhead (in the order U T T U, which
  * cancels a steady drift). With trace=0 no listener
  * is registered. */
object Harness {

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with listener event times and the load process's clock. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def main(args: Array[String]): Unit = {
    val opts = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("workload")
    val data = opts("data")
    val out = Paths.get(opts("out"))
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    Files.createDirectories(out)

    val setupStart = nowMs()
    val spark = Session.create(cores, out.resolve("spark").toString)
    val sessionEnd = nowMs()
    val raw = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "session_start_ms" -> (sessionEnd - setupStart),
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val recorder = new Recorder
    try {
      opts.get("queries") match {
        case Some(qs) =>
          raw ++= Batch.run(spark, qs.split(',').toSeq, data, out, seconds,
            trace, recorder, setupStart)
        case None =>
          raw ++= Serve.run(spark, data, out, seconds, opts("serve") == "mixed",
            opts.getOrElse("interval_ms", "0").toLong, trace, recorder, setupStart)
      }
      raw("peak_rss_mb") = peakRssMb()
      raw("jobs") = recorder.jobRecords
      raw("progress") = recorder.progressRecords
    } finally {
      Files.writeString(out.resolve("raw.json"), Json(raw.toMap))
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (Linux VmHWM), or -1 if unavailable. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  /** Whether the i-th of a run of alternating units is a traced one, in the
    * order U T T U U T T U ... */
  def abba(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Untimed storage hygiene between timed executions: drop cached
    * relations and unpersist every persisted or locally checkpointed RDD,
    * blocking until the blocks are gone. No GC is forced. */
  def releaseStorage(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Register the recorder, run `body`, then wait for the listener bus to
    * deliver every pending event before unregistering it. */
  def traced[T](spark: SparkSession, recorder: Recorder, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streams)
      try body
      finally {
        org.apache.spark.BusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.streams.removeListener(recorder.streams)
      }
    }
}

/** The one Spark configuration every workload runs under: the defaults of
  * graft's `Bench` main (AQE on, shuffle partitions = cores), with scratch
  * and warehouse directories kept inside the run's output directory. */
object Session {
  def create(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000L).selectExpr("sum(id)").collect()
    s
  }
}

/** scan-agg and iterative-pipeline: passes over a fixed list
  * of `SparkEntry.queries`, each execution split into construct (the
  * registry function call) and sink (the final noop action). */
object Batch {
  import Harness.{nowMs, releaseStorage, traced}

  val WarmupPasses = 4

  def run(spark: SparkSession, queries: Seq[String], data: String, out: Path,
      seconds: Double, trace: Boolean, recorder: Recorder,
      setupStart: Double): Map[String, Any] = {
    val fns = queries.map(q => q -> graft.SparkEntry.queries(q))
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }))
    val errors = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // warm-up passes: the first writes the outputs the oracle check
    // compares, the rest let the JIT settle on the timed code path (pass
    // times level off after about four passes)
    for (w <- 0 until WarmupPasses; warm = s"warmup$w") fns.foreach { case (q, fn) =>
      releaseStorage(spark)
      try {
        val df = fn(spark, data)
        if (w == 0) df.coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("check").resolve(q).toString)
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        errors += Map("query" -> q, "phase" -> warm, "error" -> e.toString.take(300))
      }
    }
    val setupMs = nowMs() - setupStart
    val execs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val gc0 = Harness.gcMs()
    val deadline = nowMs() + seconds * 1000.0
    val minPasses = if (trace) 2 else 1
    var pass = 0
    while (pass < minPasses || nowMs() < deadline) {
      // traced runs interleave untraced and traced passes as U T T U, so a
      // steady drift in pass time does not bias the tracing overhead
      val on = trace && Harness.abba(pass)
      var passMs = 0.0
      val passStart = nowMs()
      traced(spark, recorder, on) {
        fns.foreach { case (q, fn) =>
          releaseStorage(spark)
          val t0 = nowMs()
          var t1 = t0
          val ok = try {
            val df = fn(spark, data)
            t1 = nowMs()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            errors += Map("query" -> q, "phase" -> s"pass$pass", "error" -> e.toString.take(300))
            false
          }
          val t2 = nowMs()
          passMs += t2 - t0
          execs += Map("query" -> q, "pass" -> pass, "traced" -> on, "ok" -> ok,
            "start" -> t0, "built" -> t1, "end" -> t2)
        }
      }
      passes += Map("pass" -> pass, "traced" -> on, "start" -> passStart,
        "end" -> nowMs(), "ms" -> passMs)
      pass += 1
    }
    Map("setup_ms" -> setupMs, "warmup_passes" -> WarmupPasses,
      "execs" -> execs.toSeq, "passes" -> passes.toSeq,
      "errors" -> errors.toSeq, "gc_ms" -> (Harness.gcMs() - gc0))
  }
}

/** The serve workloads: a Gateway with a BucketedRoute and an IndexRoute
  * over an 8-bucket store that `ChangelogStream.maintainIndexedBucketed`
  * builds from the events table, read by an external load process until
  * `<out>/stop` appears. serve-mixed (`writer`): a writer thread appends
  * and drains one seeded changelog batch per `intervalMs` while the reads
  * run (open loop). serve-read: the same batches are drained one by one
  * during set-up and the reads run alone; with trace=1 the read window is
  * split into segments of `seconds / 4`, untraced and traced as U T T U. */
object Serve {
  import Harness.{nowMs, traced}

  val Buckets = 8
  val KeyCols: Seq[String] = Seq("user_id")

  /** The secondary-index terms of a row: its event type and value band. */
  def indexFn: org.apache.spark.sql.Column = array(col("event_type"),
    concat(lit("band:"), floor(coalesce(col("value"), lit(0.0)) / 50.0).cast("long")))

  /** Identity of each bucket's live generation under a store root: a
    * rewritten bucket is a new directory or pointer file. */
  def bucketGenerations(root: String): Map[String, Any] =
    Files.list(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.matches("b\\d+(\\.ptr)?"))
      .map { p =>
        val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
        p.getFileName.toString.stripSuffix(".ptr") -> (a.fileKey(), a.lastModifiedTime())
      }.toMap

  def run(spark: SparkSession, data: String, out: Path, seconds: Double,
      writer: Boolean, intervalMs: Long, trace: Boolean, recorder: Recorder,
      setupStart: Double): Map[String, Any] = {
    val batches = Files.list(Paths.get(data, "serve"))
      .iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    val work = out.resolve("store")
    val src = work.resolve("src")
    val log = src.resolve("events.parquet")
    Files.createDirectories(log)
    val (table, index, ckpt) =
      (work.resolve("t").toString, work.resolve("idx").toString, work.resolve("ckpt").toString)

    def append(file: Path, name: String): Unit = {
      // hidden name first, then an atomic rename: the file source never
      // sees a partial file
      val tmp = log.resolve("." + name)
      Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, log.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def drain(): Unit = {
      val ch = graft.core.Tables.eventsStream(spark, src.toString).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        col("value"), (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      graft.streaming.ChangelogStream.maintainIndexedBucketed(ch, KeyCols,
          "ts_us", indexFn, table, index, ckpt, numBuckets = Buckets,
          tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
    }
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    /** Append changelog batch k and drain it through the AtomicSwap commit. */
    def commit(k: Int, due: Double): Unit = {
      val start = nowMs()
      val before = if (trace) bucketGenerations(table) else Map.empty[String, Any]
      append(batches(k - 1), batches(k - 1).getFileName.toString)
      drain()
      val end = nowMs()
      val rewritten = if (trace) {
        val after = bucketGenerations(table)
        after.count { case (b, g) => !before.get(b).contains(g) }
      } else -1
      commits.add(Map("batch" -> k, "due" -> due, "start" -> start, "end" -> end,
        "buckets_rewritten" -> rewritten))
    }

    // set-up: store build from the events table, (serve-read) the writer's
    // batches, routes, gateway, warm-up
    append(Paths.get(data, "events.parquet"), "batch_0000.parquet")
    val buildStart = nowMs()
    drain()
    val buildMs = nowMs() - buildStart
    if (!writer) traced(spark, recorder, trace) {
      (1 to batches.size).foreach(k => commit(k, nowMs()))
    }
    val kvRoute = new graft.serving.Gateway.BucketedRoute(spark, table, KeyCols)
    val idxRoute = new graft.serving.Gateway.IndexRoute(spark, table, index, KeyCols)
    // the snapshot route is unused: /kv goes to the bucketed route
    val empty = graft.state.KVTable(spark.range(0L)
      .select(col("id").as("user_id"), col("id").as("ts_us")), KeyCols, "ts_us")
    val gw = new graft.serving.Gateway(graft.state.Snapshot.of(empty),
      bucketed = Some(kvRoute), index = Some(idxRoute)).start()
    (0L until 8L).foreach(k => kvRoute.get(Seq(k)))
    Seq("click", "view", "error").foreach(t => idxRoute.lookup(Seq(t, "band:0")))
    val setupMs = nowMs() - setupStart

    // measured window: external readers (and the serve-mixed writer)
    // until the stop file appears. The store gives readers no snapshot
    // isolation, so a serve-mixed read that meets a commit may fail or
    // mix versions; the checks count it.
    @volatile var stop = false
    val gc0 = Harness.gcMs()
    val measureStart = nowMs()
    val writerThread = new Thread(() => {
      var k = 1
      while (!stop && k <= batches.size) {
        // due mid-interval: every whole interval of the window holds one commit
        val due = measureStart + (k - 0.5) * intervalMs.toDouble
        while (!stop && nowMs() < due) Thread.sleep(1)
        if (!stop) { commit(k, due); k += 1 }
      }
    }, "perfbench-writer")
    val stopFile = out.resolve("stop")
    val segments = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    Files.writeString(out.resolve("ready.json"),
      Json(Map("port" -> gw.port, "measure_start" -> measureStart)))
    if (writer) {
      traced(spark, recorder, trace) {
        writerThread.start()
        while (!Files.exists(stopFile)) Thread.sleep(5)
        stop = true
        writerThread.join()
      }
      segments += Map("start" -> measureStart, "end" -> nowMs(), "traced" -> trace)
    } else {
      var i = 0
      while (!Files.exists(stopFile)) {
        val on = trace && Harness.abba(i)
        val segStart = nowMs()
        val segEnd = measureStart + (i + 1) * seconds * 250.0
        traced(spark, recorder, on) {
          while (!Files.exists(stopFile) && nowMs() < segEnd) Thread.sleep(5)
        }
        segments += Map("start" -> segStart, "end" -> nowMs(), "traced" -> on)
        i += 1
      }
    }
    val measureEnd = nowMs()
    gw.stop()
    val gcMs = Harness.gcMs() - gc0
    // direct state-layer calls, beneath the HTTP layer
    val direct = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    if (trace) traced(spark, recorder, on = true) {
      val kvKeys = (0L until 20L).map(_ * 73L % 1500L) // spread over the users
      kvKeys.foreach { k =>
        val t0 = nowMs()
        graft.streaming.BucketedStore.pointLookup(spark, table, KeyCols, Seq(k))
          .foreach(_.collect())
        direct += Map("layer" -> "point", "start" -> t0, "end" -> nowMs())
      }
      val idx = graft.streaming.BucketedStore.read(spark, index).get
      val live = graft.streaming.BucketedStore.read(spark, table).get
        .filter(!col("tombstone"))
      for (t <- Seq("click", "view", "error", "purchase", "signup"); b <- 0 until 4) {
        val t0 = nowMs()
        graft.state.SecondaryIndex.multiLookup(idx, live, KeyCols, Seq(t, s"band:$b"))
          .collect()
        direct += Map("layer" -> "index", "start" -> t0, "end" -> nowMs())
      }
    }
    // final store state, for the correctness check against the seeded truth
    graft.streaming.BucketedStore.read(spark, table).get
      .select("user_id", "event_id", "tombstone").coalesce(1)
      .write.mode("overwrite").parquet(out.resolve("check").resolve("table").toString)
    graft.streaming.BucketedStore.read(spark, index).get
      .select("index_key", "user_id").coalesce(1)
      .write.mode("overwrite").parquet(out.resolve("check").resolve("index").toString)
    Map("setup_ms" -> setupMs, "store_build_ms" -> buildMs,
      "measure_start" -> measureStart, "measure_end" -> measureEnd,
      "segments" -> segments.toSeq, "commits" -> commits.asScala.toSeq,
      "direct" -> direct.toSeq, "gc_ms" -> gcMs)
  }
}

/** Records Spark jobs (with their task metrics) and streaming progress. */
final class Recorder extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  private final class JobRec(val id: Int, val start: Long, val callSite: String,
      val sqlExecution: Long, val inStream: Boolean) {
    @volatile var end: Long = -1L
    @volatile var ok = true
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  // call site of the thread that started each SQL execution: jobs that
  // AQE submits from its own threads carry only that thread's stack
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    // micro-batch jobs run on the stream's thread, which sets its query id
    val inStream = props.exists(_.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, site, exec, inStream))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      }
  }

  val streams: org.apache.spark.sql.streaming.StreamingQueryListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        progress.add(Map(
          "run_id" -> p.runId.toString, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
      }
    }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
      "call_site" -> j.callSite,
      "sql_call_site" -> Option(sqlSites.get(j.sqlExecution)).getOrElse(""),
      "in_stream" -> j.inStream,
      "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "cpu_ns" -> j.cpuNs, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "gc_ms" -> j.gcMs)
  }

  def progressRecords: Seq[Map[String, Any]] = progress.asScala.toSeq
}

/** Minimal JSON encoder for the raw observation file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
