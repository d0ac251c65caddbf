package graft.streaming

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Detector, Geodesic, ScanCache, SessHit, Wire}
import graft.operators.Sessionize
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the detector pipeline benchmark (perfbench/run.py drives it).
  *
  * Declared in `graft.streaming` so it reaches the package-private layer
  * entry points of DetectorApp and Geodesic. Arguments are `key=value`:
  *
  *   mode=dump out=F            write DetectorApp.oracleSql as JSON
  *   mode=run data=D warmup=W out=F cores=N seconds=S min_passes=P
  *            launch_ms=T trace=0|1 trigger_ms=M backlog_lines=B total_lines=L
  *
  * `run` sets up (session, kernels, one warm-up DAG on W), then
  *   - batch: runs detector_dag, _mqtt and _ascii cold (fresh session, empty
  *     ScanCache) over D/events.parquet, for S seconds and at least P times;
  *   - stream: starts DetectorApp.run on D/in (backlog staged),
  *     prints `PERFBENCH CATCHUP` once the backlog batch commits, waits for
  *     D/feed.json (written by the feeder when the live phase is over),
  *     drains and stops;
  *   - trace=1: instead of timing, runs each layer's entry point on the
  *     previous layer's persisted output inside a job group named after the
  *     layer, with a task listener, row observers and per-batch stream
  *     spans, plus one cold DAG at local[1].
  * Everything measured is written to F as one JSON object at the end.
  */
object PerfHarness {

  // ---- tiny JSON writer -------------------------------------------------

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => js(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(js).getOrElse("null")
    case RawJson(t) => t
    case p: Product if !p.isInstanceOf[Seq[_]] => js(p.productIterator.toSeq)
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case a: Array[_] => js(a.toSeq)
    case x => js(x.toString)
  }
  private final case class RawJson(text: String)

  private def now(): Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- spans (kept in memory, written with the result) ------------------

  final case class Span(name: String, start: Long, end: Long, parent: String,
                        run: String)
  private val spans = mutable.ArrayBuffer[Span]()
  private def span[T](name: String, parent: String, run: String)(body: => T): T = {
    val t0 = now()
    try body finally spans.synchronized { spans += Span(name, t0, now(), parent, run) }
  }

  // ---- batch listener: task metrics summed per job group ----------------

  final class LayerStats {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var maxTaskMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var gcMs = 0L; var peakExecMem = 0L
    def toMap: Map[String, Any] = Map(
      "tasks" -> tasks, "task_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
      "max_task_s" -> maxTaskMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "spill_bytes" -> spill, "gc_s" -> gcMs / 1e3,
      "peak_exec_mem_bytes" -> peakExecMem)
  }

  final class GroupListener extends SparkListener {
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val byGroup = new ConcurrentHashMap[String, LayerStats]()
    val jobsByGroup = new ConcurrentHashMap[String, java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      e.stageIds.foreach(s => stageGroup.put(s, g))
      jobsByGroup.merge(g, 1L, (a, b) => a + b)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(stageGroup.putIfAbsent(e.stageInfo.stageId, _))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val g = Option(stageGroup.get(e.stageId)).getOrElse("none")
      val st = byGroup.computeIfAbsent(g, _ => new LayerStats)
      st.synchronized {
        st.tasks += 1; st.runMs += m.executorRunTime; st.cpuNs += m.executorCpuTime
        st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Observed row counts (`Dataset.observe`), by observation name. */
  final class ObserveListener extends QueryExecutionListener {
    val rows = new ConcurrentHashMap[String, java.lang.Long]()
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) => rows.put(name, row.getLong(0)) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- session ----------------------------------------------------------

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The kernels the detector DAG calls. */
  private def registerKernels(s: SparkSession): Unit = {
    graft.functions.PolyHash.register(s)
    graft.functions.ParseHitPayload.register(s)
    graft.functions.Kernel.register(s)
  }

  private val QueryNames = Seq("detector_dag", "detector_dag_mqtt", "detector_dag_ascii")

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** One cold pass: fresh session (so an empty ScanCache), the three
    * detector DAG queries collected, cache dropped afterwards. */
  private def coldDag(spark: SparkSession, dir: String): (Double, Map[String, Seq[Seq[Any]]]) = {
    val s = spark.newSession()
    val t0 = System.nanoTime()
    val out = QueryNames.map(q => q -> rowsOf(DetectorApp.queries(q)(s, dir))).toMap
    val wall = secs(t0)
    s.catalog.clearCache()
    (wall, out)
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def digestRows(rows: Map[String, Seq[Seq[Any]]]): Int =
    QueryNames.map(q => rows(q).map(_.mkString("\u0001")).sorted.hashCode).hashCode

  // ---- batch phase ------------------------------------------------------

  private def batchPhase(spark: SparkSession, dir: String, seconds: Double,
                         minIter: Int): Map[String, Any] = {
    val iters = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.ArrayBuffer[String]()
    var first: Map[String, Seq[Seq[Any]]] = null
    var firstDigest = 0
    val t0 = System.nanoTime()
    while (iters.size < minIter || secs(t0) < seconds) {
      val gc0 = gcMs()
      try {
        val (wall, rows) = coldDag(spark, dir)
        val d = digestRows(rows)
        if (first == null) { first = rows; firstDigest = d }
        iters += Map("wall_s" -> wall, "same_as_first" -> (d == firstDigest),
          "gc_s" -> (gcMs() - gc0) / 1e3)
      } catch {
        case e: Exception =>
          errors += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          iters += Map("wall_s" -> secs(t0), "error" -> true)
          if (errors.size >= 3) return Map("iterations" -> iters, "errors" -> errors)
      }
    }
    Map("iterations" -> iters, "errors" -> errors,
      "rows" -> Option(first).getOrElse(Map.empty))
  }

  // ---- traced batch: layers staged on persisted outputs -----------------

  private def tracedBatch(spark: SparkSession, dir: String, run: String,
                          untracedWall: Double): Map[String, Any] = {
    val sc = spark.sparkContext
    val gl = new GroupListener
    sc.addSparkListener(gl)
    val ol = new ObserveListener
    val s = spark.newSession()
    s.listenerManager.register(ol)
    import s.implicits._
    val root = "batch"
    def inGroup[T](name: String)(body: => T): T = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try span(name, root, run)(body) finally sc.clearJobGroup()
    }
    def materialize[T](name: String, ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist()
      p.observe(name, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      p
    }
    val rootStart = now()

    // driver + scancache: the real queries, cold, constructed then run
    val q = spark.newSession()
    q.listenerManager.register(ol)
    val jobs0 = gl.jobsByGroup.getOrDefault("driver", 0L)
    val entries0 = ScanCache.entriesOwnedBy(sc)
    val gc0 = gcMs()
    val tPlan = System.nanoTime()
    val dfs = inGroup("driver") { QueryNames.map(n => n -> DetectorApp.queries(n)(q, dir)) }
    val planS = secs(tPlan)
    val eagerJobs = gl.jobsByGroup.getOrDefault("driver", 0L) - jobs0
    val tBuild = System.nanoTime()
    inGroup("scancache.build") { dfs.head._2.collect() }
    val buildS = secs(tBuild)
    val tReuse = System.nanoTime()
    inGroup("scancache.reuse") { dfs.tail.foreach(_._2.collect()) }
    val reuseS = secs(tReuse)
    val builds = ScanCache.entriesOwnedBy(sc) - entries0
    val dagGcS = (gcMs() - gc0) / 1e3
    q.catalog.clearCache()

    // staged layers
    val tStaged = System.nanoTime()
    val wire = inGroup("wire") { materialize("wire", Wire.wireLinesPublic(s, dir)) }
    val hits = inGroup("mqttparser") { materialize("mqttparser", DetectorApp.parseStage(wire)) }
    val gated = inGroup("gate") { materialize("gate", DetectorApp.gateStage(hits)) }
    val sess = inGroup("sessionize") {
      val h = gated.select(col("eventId").as("event_id"), col("station"),
          col("startNs").as("start_ns"))
        .withColumn("lat", Geodesic.stationLat(col("station")))
        .withColumn("lon", Geodesic.stationLon(col("station")))
        .withColumn("h", Geodesic.stationH(col("station")))
      materialize("sessionize", Sessionize.withClusterKey(Geodesic.withEcef(h),
        Detector.GapNs, Detector.BucketNs))
    }
    val pairs = sc.longAccumulator("pairs_scored")
    val valid = sc.longAccumulator("valid_edges")
    val sessions = sc.longAccumulator("sessions")
    val maxAcc = new MaxAccumulator
    sc.register(maxAcc, "max_session_rows")
    val comps = inGroup("geodesic") {
      materialize("geodesic", sess
        .select("cluster_key", "event_id", "station", "start_ns", "x", "y", "z")
        .as[SessHit]
        .groupByKey(_.cluster_key)
        .flatMapGroups { (_: Long, it: Iterator[SessHit]) =>
          val hs = it.toArray.sortBy(_.event_id)
          sessions.add(1); pairs.add(hs.length.toLong * (hs.length - 1) / 2)
          maxAcc.add(hs.length.toLong)
          Geodesic.componentsWithMembers(hs).map { case (c, ms) =>
            valid.add(c.n_valid)
            EmittedGeoCluster(c.cluster_start, c.cluster_end, c.n, c.n_stations,
              c.conflicting, ms.map(h => GeoMember(h.event_id, h.station, h.start_ns)).toList)
          }
        })
    }
    val (mqtt, ascii) = inGroup("format") {
      (rowsOf(DetectorApp.mqttLines(comps)), rowsOf(DetectorApp.asciiLines(comps)))
    }
    val stagedWall = secs(tStaged)
    val dag = comps.map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations, c.conflicting))
      .collect().toSeq.map(_.productIterator.toSeq)
    Seq(wire, hits, gated, sess, comps).foreach(_.unpersist())
    spans += Span(root, rootStart, now(), "", run)
    sc.removeSparkListener(gl)

    val observed = ol.rows.asScala.map { case (k, v) => k -> v.longValue }.toMap
    Map(
      "groups" -> gl.byGroup.asScala.map { case (k, v) => k -> v.toMap }.toMap,
      "rows" -> observed,
      "sessions" -> sessions.value.longValue, "pairs_scored" -> pairs.value.longValue,
      "valid_edges" -> valid.value.longValue, "max_session_rows" -> maxAcc.value,
      "driver" -> Map("plan_s" -> planS, "eager_jobs" -> eagerJobs, "gc_s" -> dagGcS),
      "scancache" -> Map("builds" -> builds, "build_s" -> buildS, "reuse_s" -> reuseS),
      "staged_wall_s" -> stagedWall, "untraced_wall_s" -> untracedWall,
      "output" -> Map("detector_dag" -> dag, "detector_dag_mqtt" -> mqtt,
        "detector_dag_ascii" -> ascii))
  }

  final class MaxAccumulator extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var m = 0L
    def isZero: Boolean = m == 0L
    def copy(): MaxAccumulator = { val c = new MaxAccumulator; c.add(m); c }
    def reset(): Unit = m = 0L
    def add(v: Long): Unit = m = math.max(m, v)
    def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit = m = math.max(m, o.value)
    def value: Long = m
  }

  // ---- stream phase -----------------------------------------------------

  /** Turns each progress report into a `microbatch-<id>` span with its
    * `durationMs` phases as child spans. */
  final class ProgressSpans(run: String) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val id = s"microbatch-${p.batchId}"
      spans.synchronized {
        spans += Span(id, start, start + d.getOrElse("triggerExecution", 0L), "stream", run)
        // durationMs phases run one after another inside the trigger
        var t = start
        for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
                       "addBatch", "commitOffsets") if d.contains(ph)) {
          spans += Span(ph, t, t + d(ph), id, run)
          t += d(ph)
        }
      }
    }
  }

  private def streamPhase(spark: SparkSession, data: String, triggerMs: Long,
                          backlogLines: Long, totalLines: Long, trace: Boolean,
                          run: String): Map[String, Any] = {
    val inDir = s"$data/in"
    val listener = if (trace) Some(new ProgressSpans(run)) else None
    listener.foreach(spark.streams.addListener)
    val gc0 = gcMs()
    val startMs = now()
    val q: StreamingQuery = DetectorApp.run(spark, inDir, s"$data/out", s"$data/ckpt",
      Trigger.ProcessingTime(triggerMs))
    def progress = q.recentProgress.toSeq
    def consumed = progress.map(_.numInputRows).sum
    def fail(msg: String): Nothing = { q.stop(); throw new IllegalStateException(msg) }
    def waitFor(limitS: Double)(cond: => Boolean): Unit = {
      val t0 = System.nanoTime()
      while (!cond) {
        if (q.exception.isDefined) fail(q.exception.get.getMessage)
        if (secs(t0) > limitS) fail("stream phase timed out")
        Thread.sleep(20)
      }
    }
    waitFor(120)(consumed >= backlogLines)
    var acc = 0L
    val catchup = progress.find { p => acc += p.numInputRows; acc >= backlogLines }.get
    val catchupCommitMs = java.time.Instant.parse(catchup.timestamp).toEpochMilli +
      catchup.durationMs.get("triggerExecution").longValue
    System.out.println(s"PERFBENCH CATCHUP $catchupCommitMs")
    System.out.flush()
    waitFor(170)(Files.exists(Paths.get(s"$data/feed.json")))
    waitFor(60)(consumed >= totalLines)
    // drain: the batch after the last input seals what the final watermark allows
    val nAfterInput = progress.size
    val tDrain = System.nanoTime()
    while (secs(tDrain) < 30 && (progress.size <= nAfterInput ||
             progress.last.numInputRows > 0 || q.status.isTriggerActive))
      Thread.sleep(20)
    q.stop()
    val stopMs = now()
    listener.foreach(spark.streams.removeListener)
    spans += Span("stream", startMs, stopMs, "", run)
    Map("start_ms" -> startMs, "catchup_commit_ms" -> catchupCommitMs,
      "catchup_batch" -> catchup.batchId, "backlog_lines" -> backlogLines,
      "total_lines" -> totalLines, "stop_ms" -> stopMs, "gc_s" -> (gcMs() - gc0) / 1e3,
      "progress" -> RawJson(progress.map(_.json).mkString("[", ",", "]")))
  }

  // ---- main -------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = a("out")
    def write(m: Map[String, Any]): Unit =
      Files.write(Paths.get(out), js(m).getBytes("UTF-8"))
    if (a("mode") == "dump") { write(DetectorApp.oracleSql); return }

    val launchMs = a("launch_ms").toLong
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val data = a("data")
    val run = s"${a.getOrElse("workload", "w")}-${if (trace) "trace" else "timed"}"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = span("session.start", "setup", run) { session(cores) }
    val startS = secs(t0)
    val t1 = System.nanoTime()
    span("session.register", "setup", run) { registerKernels(spark) }
    val registerS = secs(t1)
    val t2 = System.nanoTime()
    span("session.warmup", "setup", run) { coldDag(spark, a("warmup")) }
    val warmupS = secs(t2)
    val readyMs = now()
    spans += Span("setup", launchMs, readyMs, "", run)
    System.err.println("PERFBENCH READY")
    val result = mutable.LinkedHashMap[String, Any](
      "cores" -> cores,
      "setup" -> Map("setup_s" -> (readyMs - launchMs) / 1e3,
        "jvm_start_s" -> (jvmStartMs - launchMs) / 1e3, "start_s" -> startS,
        "register_s" -> registerS, "warmup_s" -> warmupS))
    try {
      val untraced = batchPhase(spark, data, if (trace) 0 else seconds, a("min_passes").toInt)
      result("batch") = untraced
      if (trace) {
        val walls = untraced("iterations").asInstanceOf[collection.Seq[Map[String, Any]]]
          .flatMap(_.get("wall_s")).map(_.asInstanceOf[Double]).sorted
        val n = walls.size
        val med = if (n == 0) 0.0 else (walls((n - 1) / 2) + walls(n / 2)) / 2
        result("trace_batch") = tracedBatch(spark, data, run, med)
      }
      result("stream") = streamPhase(spark, data, a("trigger_ms").toLong,
        a("backlog_lines").toLong, a("total_lines").toLong, trace, run)
      result("peak_rss_mb") = vmHwmMb()
      result("gc_s") = gcMs() / 1e3
      if (trace) {
        spark.stop()
        val c1 = session(1)
        registerKernels(c1)
        coldDag(c1, a("warmup"))
        val (wall, _) = coldDag(c1, data)
        result("c1_wall_s") = wall
        c1.stop()
      }
      result("spans") = spans.toSeq.map(s => Map("name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "run" -> s.run))
      write(result.toMap)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}
