package graft.perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{LifecycleMeter, Serve, SparkEntry}
import graft.operators.Iterate

/** JVM half of the benchmark (see perfbench/NOTES.md). `run.py` starts it
  * with the operation list already drawn from the seed and talks to it over
  * a line protocol: lines on stdout that start with `@@` are JSON events
  * (`setup_done`, `key_request`, `serve_ready`, `result`); the answers come
  * back on stdin (`ok` once the answer key is written; `trace_on`,
  * `trace_off` and `stop` while serving). Everything else on stdout is
  * program noise and is ignored.
  *
  * One operation is `SparkEntry.queries(name)(spark, dir)` followed by
  * `collect()`. Its rows are compared, outside the timed span, with the
  * DuckDB answer key `run.py` wrote for that query.
  */
object Runner {
  private val out = System.out
  private val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))

  private def emit(event: String, fields: (String, Any)*): Unit = out.synchronized {
    out.println("@@" + Json(Map("event" -> event) ++ fields))
    out.flush()
  }

  private def await(expected: String): Unit = {
    val line = in.readLine()
    if (line != expected) throw new IllegalStateException(s"expected '$expected' from run.py, got '$line'")
  }

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, comparable with the
    * scheduler's event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(op: Int, name: String, parent: String, startMs: Double, endMs: Double)

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The one-time store builds `graft.Bench` runs before its timed passes,
    * in the same order, each timed on its own. */
  def prebuilds(s: SparkSession, dir: String): Seq[(String, () => Any)] = Seq(
    "stats" -> (() => graft.queries.StatsStore.ensureStats(s, dir)),
    "streamed_hdr" -> (() => graft.queries.StreamServe.ensureStreamedHdr(s, dir)),
    "streamed_hll" -> (() => graft.queries.StreamServe.ensureStreamedHll(s, dir)),
    "streamed_stats" -> (() => graft.queries.StreamServe.ensureStreamedStats(s, dir)),
    "unified_stats" -> (() => graft.queries.StreamServe.ensureUnifiedStats(s, dir)),
    "ivf_index" -> (() => graft.queries.Vectors.ensureIvfIndex(s, dir)),
    "pq_index" -> (() => graft.queries.Vectors.ensurePqIndex(s, dir)),
    "dpp_catalog" -> (() => graft.queries.Advanced.ensureDppCatalog(s, dir)))

  def treeUsage(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else {
      val st = Files.walk(root.toPath)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) {
        case ((b, n), p) => (b + (try Files.size(p) catch { case _: java.io.IOException => 0L }), n + 1)
      } finally st.close()
    }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Largest heap in use right after a collection over the run: live data
    * plus what has not yet been collected. With a fixed heap VmHWM mostly
    * reads the heap size; this follows the program's memory. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) =>
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }, null, null)
      case _ =>
    }

    def mb: Double = peak / (1024.0 * 1024.0)
  }

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenNs(): Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Length of the union of [s, e] intervals clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val runDir = a("run")
    val ops = a.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq
    val storeRoot = new File(System.getProperty("java.io.tmpdir"))

    HeapAfterGc.install()
    val spark = session(cores, runDir)
    val tracer = new Tracer(spark)
    val spans = ArrayBuffer[Span]()
    // the traced run also counts jobs in its untraced passes, so every
    // query's job count is seen more than once
    val jobCounter = if (trace) Some(new JobCounter(spark)) else None
    if (trace) Iterate.setRecording(true)

    // ---- set-up: (traced run) store prebuilds from an empty root, then
    // warm-up. The untraced run builds only the stores its operations
    // need, lazily, inside the warm-up.
    val prebuildMs = (if (trace) prebuilds(spark, data) else Nil).map { case (name, build) =>
      val t0 = nowMs
      build()
      val t1 = nowMs
      spans += Span(-1, s"store.prebuild.$name", "setup", t0, t1)
      name -> (t1 - t0)
    }
    val dir = data
    val fixtureBytes = treeUsage(new File(dir))._1
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql

    if (workload == "serve_open") {
      serve(spark, tracer, data, ops.map(n => n -> oracles(n)).toMap, prebuildMs, fixtureBytes, storeRoot, runDir)
      spark.stop()
      return
    }

    // two untimed warm passes: the first pays first-call costs (JIT, lazy
    // store builds), the second lets the JIT settle before timing starts
    val warmMs = (1 to 2).map(_ => ops.distinct.map { n =>
      val t0 = nowMs
      queries(n)(spark, dir).collect()
      n -> (nowMs - t0)
    }.toMap)
    emit("setup_done", "prebuild_ms" -> prebuildMs.toMap, "fixture_bytes" -> fixtureBytes,
      "spark_version" -> spark.version)

    // ---- answer key, computed by run.py with DuckDB outside every timed span
    val keyDir = s"$runDir/key"
    emit("key_request", "dir" -> keyDir, "data" -> dir, "items" -> ops.distinct.map(n =>
      Map("name" -> n, "sql" -> oracles.getOrElse(n, ""))))
    await("ok")
    val key: Map[String, Answer.Rows] = ops.distinct.flatMap { n =>
      val f = new File(s"$keyDir/$n.parquet")
      if (!f.exists()) None
      else {
        val df = spark.read.parquet(f.getPath)
        Some(n -> Answer.canonical(df.collect().toSeq, df.schema.fieldNames.toSeq))
      }
    }.toMap

    // ---- measured passes (closed loop, one client)
    val rng = new scala.util.Random(seed)
    val records = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val deadline = nowMs + seconds * 1000.0
    var opId = 0
    var pass = 0
    def haveBoth = !trace || (passes.exists(_("traced") == true) && passes.exists(_("traced") == false))
    while (passes.isEmpty || !haveBoth || nowMs < deadline) {
      // the traced run alternates untraced and traced passes; the
      // difference of their sums is the tracing overhead
      val traced = trace && pass % 2 == 1
      if (traced) tracer.attach() else tracer.detach()
      val order = rng.shuffle(ops)
      var sumMs = 0.0
      var complete = true
      val it = order.iterator
      while (complete && it.hasNext) {
        if (passes.nonEmpty && haveBoth && nowMs >= deadline) complete = false
        else {
          val n = it.next()
          val r = runOp(spark, tracer, jobCounter, opId, n, pass, traced, queries(n), dir, key.get(n),
            storeRoot, spans)
          records += r
          sumMs += r("ms").asInstanceOf[Double]
          opId += 1
        }
      }
      if (complete) passes += Map("pass" -> pass, "traced" -> traced, "ms" -> sumMs, "ops" -> order.size)
      pass += 1
    }
    tracer.detach()
    val resultPath = s"$runDir/result.json"
    Files.write(Paths.get(resultPath), Json(Map(
      "ops" -> records.toSeq, "passes" -> passes.toSeq, "spans" -> spans.toSeq.map(spanJson),
      "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> HeapAfterGc.mb, "disk_bytes" -> treeUsage(storeRoot)._1,
      "prebuild_ms" -> prebuildMs.toMap, "warm_ms" -> warmMs, "fixture_bytes" -> fixtureBytes,
      "spark_version" -> spark.version, "cores" -> cores)).getBytes("UTF-8"))
    emit("result", "path" -> resultPath)
    spark.stop()
  }

  private def spanJson(s: Span): Map[String, Any] =
    Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)

  /** One timed operation. Untraced: build plus collect. Traced: the same
    * with the physical plan forced in between, and every layer's counters
    * read as deltas around it after the listener bus is drained. */
  def runOp(spark: SparkSession, tracer: Tracer, jobCounter: Option[JobCounter], opId: Int, name: String,
      pass: Int, traced: Boolean,
      fn: (SparkSession, String) => DataFrame, dir: String, key: Option[Answer.Rows],
      storeRoot: File, spans: ArrayBuffer[Span]): Map[String, Any] = {
    var before: Map[String, Long] = Map.empty
    var gc0, cg0 = 0L
    var usage0 = (0L, 0L)
    val jobs0 = if (traced) 0L else jobCounter.fold(0L)(_.read())
    if (traced) {
      tracer.drain()
      before = tracer.snapshot()
      LifecycleMeter.drainSec()
      Iterate.drainRounds()
      gc0 = gcMs(); cg0 = codegenNs(); usage0 = treeUsage(storeRoot)
    }
    var rows: Array[Row] = null
    var columns: Seq[String] = Nil
    var err = ""
    val t0 = nowMs
    var tBuild, tPlan = t0
    try {
      val df = fn(spark, dir)
      tBuild = nowMs
      if (traced) df.queryExecution.executedPlan
      tPlan = nowMs
      rows = df.collect()
      columns = df.schema.fieldNames.toSeq
    } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t1 = nowMs
    val ok = err.isEmpty && (key match {
      case None => err = "no answer key"; false
      case Some(k) =>
        val same = Answer.canonical(rows.toSeq, columns) == k
        if (!same) err = "rows differ from the answer key"
        same
    })
    val rec = Map[String, Any]("op" -> opId, "name" -> name, "pass" -> pass, "traced" -> traced,
      "ms" -> (t1 - t0), "ok" -> ok, "error" -> err)
    if (!traced) jobCounter.fold(rec)(c => rec + ("jobs" -> (c.read() - jobs0)))
    else {
      val buildSec = LifecycleMeter.drainSec()
      tracer.drain()
      val d = tracer.snapshot()
      def delta(k: String): Long = d.getOrElse(k, 0L) - before.getOrElse(k, 0L)
      val rounds = Iterate.drainRounds()
      val usage1 = treeUsage(storeRoot)
      val jobs = tracer.jobsSince(math.floor(t0).toLong).filter(_.startMs <= t1)
      val iv = jobs.map(j => (j.startMs.toDouble, if (j.endMs < 0) t1 else j.endMs.toDouble))
      val stagesTotal = jobs.map(_.stageIds.size).sum
      val stagesRun = jobs.map(_.stageIds.count(tracer.stageWasSubmitted)).sum
      val active = unionMs(iv, t0, t1)
      val children = Seq(("queries.build", t0, tBuild), ("plans.plan", tBuild, tPlan), ("exec.collect", tPlan, t1))
      spans += Span(opId, "op", "", t0, t1)
      children.foreach { case (n, s, e) => spans += Span(opId, n, "op", s, e) }
      jobs.foreach { j =>
        val parent = children.find { case (_, s, e) => j.startMs >= math.floor(s) && j.startMs <= e }.map(_._1).getOrElse("op")
        spans += Span(opId, s"job.${j.id}", parent, j.startMs.toDouble, if (j.endMs < 0) t1 else j.endMs.toDouble)
      }
      val self = children.map { case (n, s, e) => s"self.$n" -> ((e - s) - unionMs(iv, s, e)) }
      rec ++ Map[String, Any](
        "build_ms" -> (tBuild - t0), "plan_ms" -> (tPlan - tBuild), "collect_ms" -> (t1 - tPlan),
        "build_jobs" -> jobs.count(_.startMs <= tBuild),
        "analysis_ms" -> delta("analysis_ms"), "optimization_ms" -> delta("optimization_ms"),
        "planning_ms" -> delta("planning_ms"), "actions" -> delta("actions"), "aqe_updates" -> delta("aqe_updates"),
        "store_build_ms" -> buildSec * 1000.0,
        "bytes_written" -> (usage1._1 - usage0._1), "files_written" -> (usage1._2 - usage0._2),
        "rounds" -> rounds.size, "round_ms" -> rounds.map(_.ms).sum, "round_jobs" -> rounds.map(r => math.max(0L, r.jobs)).sum,
        "jobs" -> jobs.size, "stages" -> delta("stages"), "tasks" -> delta("tasks"),
        "stages_total" -> stagesTotal, "stages_skipped" -> (stagesTotal - stagesRun),
        "job_active_ms" -> active, "idle_ms" -> ((t1 - t0) - active),
        "sched_delay_ms" -> delta("sched_delay_ms"),
        "broadcast_jobs" -> jobs.count(_.broadcast),
        "broadcast_ms" -> jobs.filter(_.broadcast).map(j => (if (j.endMs < 0) t1 else j.endMs.toDouble) - j.startMs).sum,
        "codegen_ms" -> (codegenNs() - cg0) / 1e6,
        "run_ms" -> delta("run_ms"), "cpu_ms" -> delta("cpu_ns") / 1e6, "exec_gc_ms" -> delta("exec_gc_ms"),
        "input_bytes" -> delta("input_bytes"), "shuffle_read_bytes" -> delta("shuffle_read_bytes"),
        "shuffle_write_bytes" -> delta("shuffle_write_bytes"), "spill_bytes" -> delta("spill_bytes"),
        "empty_tasks" -> delta("empty_tasks"), "jvm_gc_ms" -> (gcMs() - gc0),
        "self.jobs" -> active) ++ self.toMap
    }
  }

  /** serve_open: the session hosts `graft.Serve` over temp views of the
    * fixture; run.py generates the open-loop load from its own process. */
  def serve(spark: SparkSession, tracer: Tracer, data: String, judgedSql: Map[String, String],
      prebuildMs: Seq[(String, Double)],
      fixtureBytes: Long, storeRoot: File, runDir: String): Unit = {
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      spark.read.parquet(f.getPath).createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
    }
    val running = Serve.start(spark)
    var before: Map[String, Long] = Map.empty
    var gc0, cg0 = 0L
    var t0 = 0.0
    var traced: Option[Map[String, Any]] = None
    try {
      emit("serve_ready", "url" -> running.url, "sql" -> judgedSql, "prebuild_ms" -> prebuildMs.toMap,
        "fixture_bytes" -> fixtureBytes, "spark_version" -> spark.version)
      var line = in.readLine()
      while (line != null && line != "stop") {
        line match {
          case "trace_on" =>
            tracer.attach(); tracer.drain()
            before = tracer.snapshot(); gc0 = gcMs(); cg0 = codegenNs(); t0 = nowMs
          case "trace_off" =>
            tracer.drain()
            val t1 = nowMs
            val d = tracer.snapshot()
            def delta(k: String): Long = d.getOrElse(k, 0L) - before.getOrElse(k, 0L)
            val jobs = tracer.jobsSince(math.floor(t0).toLong)
            val iv = jobs.map(j => (j.startMs.toDouble, if (j.endMs < 0) t1 else j.endMs.toDouble))
            val stagesTotal = jobs.map(_.stageIds.size).sum
            val active = unionMs(iv, t0, t1)
            traced = Some(Map[String, Any]("window_ms" -> (t1 - t0)) ++
              Seq("analysis_ms", "optimization_ms", "planning_ms", "actions", "aqe_updates", "stages", "tasks",
                "sched_delay_ms", "run_ms", "exec_gc_ms", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "empty_tasks").map(k => k -> delta(k)) ++ Map(
                "cpu_ms" -> delta("cpu_ns") / 1e6, "jobs" -> jobs.size, "job_active_ms" -> active,
                "stages_total" -> stagesTotal,
                "stages_skipped" -> (stagesTotal - jobs.map(_.stageIds.count(tracer.stageWasSubmitted)).sum),
                "broadcast_jobs" -> jobs.count(_.broadcast),
                "broadcast_ms" -> jobs.filter(_.broadcast).map(j => (if (j.endMs < 0) t1 else j.endMs.toDouble) - j.startMs).sum,
                "codegen_ms" -> (codegenNs() - cg0) / 1e6, "jvm_gc_ms" -> (gcMs() - gc0)))
            tracer.detach()
            emit("traced")
          case other => throw new IllegalStateException(s"unknown command '$other'")
        }
        line = in.readLine()
      }
    } finally running.stop()
    val resultPath = s"$runDir/result.json"
    Files.write(Paths.get(resultPath), Json(Map(
      "traced" -> traced.getOrElse(Map.empty), "peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> HeapAfterGc.mb,
      "disk_bytes" -> treeUsage(storeRoot)._1, "prebuild_ms" -> prebuildMs.toMap,
      "fixture_bytes" -> fixtureBytes, "spark_version" -> spark.version, "spans" -> Seq.empty)).getBytes("UTF-8"))
    emit("result", "path" -> resultPath)
  }
}

/** Row comparison with the normalisation of tools/parity.py: columns in
  * name order, timestamps in microseconds, row order as produced. Numbers
  * compare by value (pandas turns a nullable integer column into doubles
  * on both sides), and null equals NaN as it does in pandas. */
object Answer {
  type Rows = (Seq[String], Seq[Seq[Any]])

  def canonical(rows: Seq[Row], columns: Seq[String]): Rows = {
    val order = columns.zipWithIndex.sortBy(_._1)
    (order.map(_._1), rows.map(r => order.map { case (_, i) => value(r.get(i)) }))
  }

  private val TwoTo53 = 9007199254740992.0

  private def number(d: Double): Any =
    if (d.isNaN) null
    else if (d == math.rint(d) && math.abs(d) < TwoTo53) d.toLong
    else d

  def value(v: Any): Any = v match {
    case null => null
    case d: Double => number(d)
    case f: Float => number(f.toDouble)
    case b: java.math.BigDecimal => number(b.doubleValue)
    case b: scala.math.BigDecimal => number(b.toDouble)
    case n: java.lang.Number => n.longValue
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000000L
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).toVector
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => value(k) -> value(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(value).toVector
    case other => other
  }
}

/** Minimal JSON writer for the control protocol and the result file. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }
}
