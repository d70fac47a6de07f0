package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The repository benchmark: one closed-loop client runs a workload's
  * catalog queries one after another on `local[nproc]`, with Bench's
  * session settings. See perfbench/README.md. */
object Main {

  final case class Workload(name: String, queries: Seq[String])

  val workloads: Seq[Workload] = Seq(
    Workload("spatial", Seq(
      "sjoin_points_in_diamonds", "sjoin_lines", "sjoin_knn", "cx_bbox_points", "area_polygons",
      "wkb_roundtrip", "morton_codes", "sindex_probe")),
    Workload("pipeline", Seq("dedup_clusters", "stream_geoparquet_sink")))

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "query_p50_s" -> "s", "cpu_s" -> "s", "peak_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "geom.pip_ns" -> "ns", "geom.area_ns" -> "ns", "geom.length_ns" -> "ns", "geom.bounds_ns" -> "ns",
    "geom.hilbert_ns" -> "ns", "geom.rtree_probe_ns" -> "ns", "geom.wkb_parse_ns" -> "ns",
    "geom.wkt_parse_ns" -> "ns", "text.minhash_ns" -> "ns", "text.simhash_ns" -> "ns",
    "plan.warm_s" -> "s", "plan.cold_s" -> "s", "plan.executions" -> "count",
    "sjoin.candidates" -> "count", "sjoin.matches" -> "count", "sjoin.refine_ratio" -> "ratio",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_s" -> "s",
    "exec.core_util" -> "ratio", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.gc_s" -> "s",
    "io.files_written" -> "count", "io.bytes_written_mb" -> "MB", "io.files_read" -> "count",
    "io.bytes_read_mb" -> "MB", "driver.self_s" -> "s",
    "stream.batches" -> "count", "stream.batch_p50_ms" -> "ms", "stream.batch_p90_ms" -> "ms",
    "stream.state_commit_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.state_rows" -> "count",
    "query.build_s" -> "s", "query.action_s" -> "s", "trace.overhead" -> "ratio")

  val SetupRounds = 3
  val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (pos - lo)
    }

  def newSession(cpus: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.graft.sjoin.cellSize", "128")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def conditions(cpus: Int): String = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    f"nproc=$cpus heap_used_mb=${heap.getUsed / MB}%.0f heap_max_mb=${heap.getMax / MB}%.0f " +
      f"load_avg_1m=${os.getSystemLoadAverage}%.2f"
  }

  private def flag(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = workloads.find(_.name == flag(args, "workload"))
      .getOrElse(sys.error(s"unknown workload; expected one of ${workloads.map(_.name).mkString(", ")}"))
    val seed = flag(args, "seed").toLong
    val seconds = flag(args, "seconds").toDouble
    val trace = flag(args, "trace") == "1"
    val data = flag(args, "data")
    val refs = References.load(Paths.get(flag(args, "refs")))
    val out = Paths.get(flag(args, "out"))
    val missing = workload.queries.filterNot(q => refs.contains(q) && SparkEntry.queries.contains(q))
    require(missing.isEmpty, s"queries without a catalog entry or a reference: ${missing.mkString(", ")}")

    val cpus = Runtime.getRuntime.availableProcessors
    val tmp = System.getProperty("java.io.tmpdir")
    System.err.println(s"[perfbench] start ${workload.name} seed=$seed trace=${if (trace) 1 else 0} ${conditions(cpus)}")
    val result = new Run(workload, seed, seconds, trace, data, refs, cpus, tmp).execute()
    System.err.println(s"[perfbench] end ${conditions(cpus)} ${result.summary}")
    if (trace) result.writeTrace(out.resolve(s"${workload.name}-seed$seed"), conditions(cpus))
    val metrics = (if (trace) perLayer else endToEnd).map { case (name, unit) =>
      val v = result.metrics(name)
      require(!v.isNaN && !v.isInfinite, s"metric $name is not finite")
      "\"" + name + "\": {\"value\": " + v + ", \"unit\": \"" + unit + "\"}"
    }
    println(s"""{"correct": ${result.correct}, "attempted": ${result.attempted}, "failed": ${result.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }
}

/** Wall and CPU seconds of each query execution in one timed pass. */
final case class Pass(traced: Boolean, latency: Map[String, Double], cpu: Map[String, Double]) {
  def wall: Double = latency.values.sum
}

final class Run(workload: Main.Workload, seed: Long, seconds: Double, trace: Boolean, data: String,
                refs: Map[String, Reference], cpus: Int, tmp: String) {
  import Main._

  private val t0Nanos = System.nanoTime()
  private val tracer = if (trace) Some(new Tracer(System.currentTimeMillis())) else None
  private val memory = ManagementFactory.getMemoryMXBean
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread. JIT compiler and GC
    * threads are not Java threads, so their work is left out: the JIT
    * compiles the classes Spark generates for every execution, and in a
    * run this short that work is as large as the query's own and varies
    * from run to run. A thread that ends during an execution is not
    * counted either. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  var attempted, failed = 0
  private var execId = 0
  private var peakHeap = 0L
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private val setupPlanS = mutable.ArrayBuffer.empty[Double]
  private var probes: Seq[ProbeResult] = Nil
  private var refine = (0L, 0L)

  /** Every execution returned its reference output and every kernel probe
    * matched its check. */
  def correct: Boolean = failed == 0 && probes.forall(_.wrong == 0)

  def summary: String = f"setups_s=${setupS.map(s => f"$s%.2f").mkString(",")} " +
    f"passes_s=${passes.map(p => f"${p.wall}%.2f${if (p.traced) "t" else ""}").mkString(",")}"

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(workload.queries)

  /** Runs one query: catalog call, then the fingerprint action. Hygiene
    * (fresh checkpoint dir, clearCache, GC) stays outside the timed region. */
  private def executeQuery(spark: SparkSession, query: String, pass: Int, traced: Boolean): (Double, Double) = {
    execId += 1
    val ckpt = s"$tmp/ckpt/$execId"
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)
    spark.catalog.clearCache()
    System.gc()
    if (pass >= 0) peakHeap = math.max(peakHeap, memory.getHeapMemoryUsage.getUsed)
    val record = if (traced) tracer.map(t => { val r = new ExecRecord(execId, pass, query); t.begin(r); r }) else None
    spark.sparkContext.setLocalProperty(Tracer.ExecProperty, execId.toString)
    val gc0 = Tracer.gcMillis
    val cpu0 = threadCpu()
    val t0 = System.nanoTime()
    var t1 = t0
    val outcome =
      try {
        val df = SparkEntry.queries(query)(spark, data)
        t1 = System.nanoTime()
        Right(Fingerprint.of(df))
      } catch { case t: Throwable => Left(t) }
    val t2 = System.nanoTime()
    val cpu1 = threadCpu()
    val cpu = cpu1.map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e9
    spark.sparkContext.setLocalProperty(Tracer.ExecProperty, null)
    for (t <- tracer; r <- record) {
      def ms(n: Long) = (n - t0Nanos) / 1e6
      r.start = ms(t0); r.buildEnd = ms(if (t1 == t0) t2 else t1); r.end = ms(t2)
      r.gcS = (Tracer.gcMillis - gc0) / 1000.0
      val root = t.span(-1, query, "graft.queries", r.id, query, r.start, r.end)
      t.span(root, "catalog call", "query.build", r.id, query, r.start, r.buildEnd)
      t.span(root, "fingerprint", "query.action", r.id, query, r.buildEnd, r.end)
      Internals.drainListenerBus(spark)
      t.finish()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    attempted += 1
    val ref = refs(query)
    outcome match {
      case Left(t) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $query: ${t.getClass.getSimpleName}: ${t.getMessage}")
      case Right(fp) if !ref.matches(fp) =>
        failed += 1
        System.err.println(s"[perfbench] WRONG OUTPUT $query: rows=${fp.rows} hash=${fp.hash}, expected ${ref.describe}")
      case _ =>
    }
    ((t2 - t0) / 1e9, cpu)
  }

  private def runPass(spark: SparkSession, pass: Int, traced: Boolean): Pass = {
    val queries = order(pass)
    val results = queries.map(q => executeQuery(spark, q, pass, traced))
    System.err.println(f"[perfbench] pass $pass${if (traced) " (traced)" else ""}: " +
      queries.zip(results).map { case (q, (s, cpu)) => f"$q $s%.2f/$cpu%.2f" }.mkString(", "))
    System.gc()
    peakHeap = math.max(peakHeap, memory.getHeapMemoryUsage.getUsed)
    Pass(traced, queries.zip(results.map(_._1)).toMap, queries.zip(results.map(_._2)).toMap)
  }

  def execute(): Run = {
    // Set-up: session start plus one execution of every query, which pays
    // the cold planner caches and code generation. Repeated in one JVM so
    // that its median is steady.
    var spark: SparkSession = null
    for (round <- 1 to SetupRounds) {
      if (spark != null) stopSession(spark)
      val plan0 = tracer.map(_.setupPlanS).getOrElse(0.0)
      val s0 = System.nanoTime()
      spark = newSession(cpus, tmp)
      tracer.foreach(_.attach(spark))
      val session = (System.nanoTime() - s0) / 1e9
      val warm = order(-round).map(q => q -> executeQuery(spark, q, -round, traced = false)._1)
      setupS += (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] set-up $round: session $session%.2f s, " +
        warm.map { case (q, s) => f"$q $s%.2f" }.mkString(", "))
      tracer.foreach { t => t.detach(spark); setupPlanS += t.setupPlanS - plan0 }
    }

    // Timed passes. A traced run alternates untraced and traced passes,
    // attaching the listeners only for the traced ones.
    val start = System.nanoTime()
    def done = (System.nanoTime() - start) / 1e9 >= seconds &&
      (!trace || passes.count(_.traced) >= 2 && passes.count(!_.traced) >= 2)
    var pass = 0
    while (!done) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.foreach(_.attach(spark))
      passes += runPass(spark, pass, traced)
      if (traced) tracer.foreach(_.detach(spark))
      pass += 1
    }

    for (t <- tracer) {
      val lastTraced = t.execs.filter(_.pass == passes.lastIndexWhere(_.traced))
      refine = lastTraced.flatMap(_.refinedPlans).map(Internals.refineCounts)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    stopSession(spark)

    probes = new Probes(seed).run(timed = trace)
    for (p <- probes if p.wrong > 0)
      System.err.println(s"[perfbench] WRONG KERNEL RESULT ${p.metric}: ${p.wrong} wrong (${p.detail})")
    for (t <- tracer; p <- probes) {
      val layer = if (p.metric.startsWith("text.")) "graft.functions" else "graft.geom"
      t.span(-1, p.metric, layer, 0, "kernel probes", (p.start - t0Nanos) / 1e6, (p.end - t0Nanos) / 1e6)
    }
    this
  }

  def metrics: Map[String, Double] = if (trace) layerMetrics else endToEndMetrics

  private def untraced = passes.filterNot(_.traced)

  // A pass's time is the sum of each query's median over the passes, so
  // that one slow execution moves it less than a median of pass sums would.
  private def perQueryMedian(f: Pass => Map[String, Double]): Double =
    workload.queries.map(q => median(untraced.map(p => f(p)(q)).toSeq)).sum

  private def endToEndMetrics: Map[String, Double] = Map(
    "setup_s" -> median(setupS.toSeq),
    "pass_s" -> perQueryMedian(_.latency),
    "query_p50_s" -> median(untraced.flatMap(_.latency.values).toSeq),
    "cpu_s" -> perQueryMedian(_.cpu),
    "peak_heap_mb" -> peakHeap / MB)

  private def layerMetrics: Map[String, Double] = {
    val t = tracer.get
    val tracedPasses = passes.indices.filter(passes(_).traced)
    def perPass(f: ExecRecord => Double): Double =
      median(tracedPasses.map(p => t.execs.filter(_.pass == p).map(f).sum))
    val batches = t.execs.flatMap(_.batchMs).toSeq
    val walls = tracedPasses.map(passes(_).wall)
    val coreUtil = median(tracedPasses.map { p =>
      t.execs.filter(_.pass == p).map(_.taskS).sum / (passes(p).wall * cpus)
    })
    probes.map(p => p.metric -> p.nsPerOp).toMap ++ Map(
      "plan.warm_s" -> perPass(_.planS),
      "plan.cold_s" -> median(setupPlanS.toSeq),
      "plan.executions" -> perPass(_.sqlExecutions),
      "sjoin.candidates" -> refine._1.toDouble,
      "sjoin.matches" -> refine._2.toDouble,
      "sjoin.refine_ratio" -> (if (refine._1 == 0) 0.0 else refine._2.toDouble / refine._1),
      "exec.jobs" -> perPass(_.jobs),
      "exec.stages" -> perPass(_.stages),
      "exec.tasks" -> perPass(_.tasks),
      "exec.task_s" -> perPass(_.taskS),
      "exec.core_util" -> coreUtil,
      "exec.shuffle_write_mb" -> perPass(_.shuffleWrite / MB),
      "exec.shuffle_read_mb" -> perPass(_.shuffleRead / MB),
      "exec.spill_mb" -> perPass(_.spill / MB),
      "exec.gc_s" -> perPass(_.gcS),
      "io.files_written" -> perPass(_.filesWritten),
      "io.bytes_written_mb" -> perPass(_.bytesOut / MB),
      "io.files_read" -> perPass(_.filesRead),
      "io.bytes_read_mb" -> perPass(_.bytesIn / MB),
      "driver.self_s" -> perPass(_.driverSelfS),
      "stream.batches" -> perPass(_.batchMs.size),
      "stream.batch_p50_ms" -> median(batches),
      "stream.batch_p90_ms" -> quantile(batches, 0.9),
      "stream.state_commit_ms" -> perPass(_.stateCommitMs),
      "stream.wal_commit_ms" -> perPass(_.walCommitMs),
      "stream.state_rows" -> perPass(_.stateRows.values.sum),
      "query.build_s" -> perPass(_.buildS),
      "query.action_s" -> perPass(_.actionS),
      "trace.overhead" -> median(walls) / median(untraced.map(_.wall).toSeq))
  }

  /** spans.jsonl: every span with its parent and self time.
    * breakdown.tsv: per query, the mean per traced execution of each
    * layer's self time and counters, so that a regression points at both
    * a query and a layer. */
  def writeTrace(dir: Path, endConditions: String): Unit = {
    val t = tracer.get
    Files.createDirectories(dir)
    val nested = Tracer.nest(t.spans.toSeq)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(dir.resolve("spans.jsonl"), nested.map { case (s, self) =>
      f"""{"id": ${s.id}, "parent": ${s.parent max 0}, "name": "${esc(s.name)}", "layer": "${s.layer}", """ +
        f""""exec": ${s.exec}, "query": "${esc(s.query)}", "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, """ +
        f""""self_ms": $self%.3f}"""
    }.asJava)

    val layers = Seq("graft.queries", "query.build", "query.action", "graft.plans", "spark.job", "spark.stage",
      "graft.streaming")
    val selfMs = nested.groupBy { case (s, _) => (s.query, s.layer) }.map { case (k, v) => k -> v.map(_._2).sum }
    val counters: Seq[(String, ExecRecord => Double)] = Seq(
      "wall_s" -> (_.wall), "build_s" -> (_.buildS), "action_s" -> (_.actionS), "plan_s" -> (_.planS),
      "driver_self_s" -> (_.driverSelfS), "sql_executions" -> (_.sqlExecutions), "jobs" -> (_.jobs),
      "stages" -> (_.stages), "tasks" -> (_.tasks), "task_s" -> (_.taskS),
      "shuffle_write_mb" -> (_.shuffleWrite / MB), "shuffle_read_mb" -> (_.shuffleRead / MB),
      "gc_s" -> (_.gcS), "files_read" -> (_.filesRead), "files_written" -> (_.filesWritten),
      "stream_batches" -> (_.batchMs.size), "state_commit_ms" -> (_.stateCommitMs),
      "wal_commit_ms" -> (_.walCommitMs))
    val header = (Seq("query", "traced_executions") ++ counters.map(_._1) ++ layers.map(l => s"self_s.$l"))
      .mkString("\t")
    val rows = t.execs.groupBy(_.query).toSeq.sortBy(_._1).map { case (q, rs) =>
      val n = rs.size.toDouble
      (Seq(q, rs.size.toString) ++ counters.map { case (_, f) => f"${rs.map(f).sum / n}%.4f" } ++
        layers.map(l => f"${selfMs.getOrElse((q, l), 0.0) / 1000 / n}%.4f")).mkString("\t")
    }
    Files.write(dir.resolve("breakdown.tsv"),
      (s"# ${workload.name} seed=$seed end: $endConditions" +: header +: rows).asJava)
  }
}
