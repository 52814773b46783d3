package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What one operation did: `units` of the workload's throughput unit
  * (pairs or lookups) and `rows` moved (committed or
  * returned). `check` compares its answer with the expected one and
  * `counts` gives exact counts for the per-layer report; both run after
  * the operation's clock has stopped. */
final case class Op(units: Double, rows: Double,
                    check: () => Option[String] = () => None,
                    counts: () => Map[String, Double] = () => Map.empty)

/** A finished operation of the measured loop. `stealMs` is the host's
  * steal over all of its CPUs while the operation ran. */
final case class Done(id: Int, units: Double, rows: Double, counts: Map[String, Double],
                      startMs: Double, endMs: Double, gcMs: Long, statCalls: Long,
                      stealMs: Long) {
  def secs: Double = (endMs - startMs) / 1e3
  /** Wall time less the mean steal per host CPU: what the operation
    * would have taken had the hypervisor not run other guests on this
    * host's CPUs meanwhile. */
  def netSecs: Double = secs - stealMs / 1e3 / Main.hostCpus
}

/** One benchmark workload. A fresh instance is set up for every
  * set-up repetition; only the last one is measured. */
trait Workload {
  /** Percentile reported as `op_tail_s`. */
  def tailPct: Double
  /** Operations run once after the last set-up, untimed and not part
    * of `setup_s`, to warm the JIT and the caches before measuring. They
    * run one after another on the thread that then measures, so the
    * measured loop starts where they left off. */
  def warmupOps: Int
  /** Operations a measured loop runs at least, however long they take:
    * enough for a median that one slow operation does not move. */
  def minOps: Int = 1
  /** Operations run before [[warmupOps]] on [[warmupThreads]] threads;
    * only where operations are independent of each other's order. */
  def parallelWarmupOps: Int = 0
  def warmupThreads: Int = 1
  /** Operations that make one round of the workload's mix. The measured
    * loop runs whole rounds, and throughput is taken over round times. */
  def roundOps: Int = 1
  /** Traced operations over which counters are summed; they follow
    * set-up directly, so a seed fixes them exactly. */
  def counterOps: Int
  def setup(s: SparkSession, dir: Path, tr: Tracer): Unit
  def run(i: Int): Op
  /** Workload-specific per-layer metrics from the counts of the
    * counter window and of every traced operation. */
  def layerMetrics(window: Seq[Map[String, Double]], traced: Seq[Map[String, Double]]): Map[String, Double]
  /** Mismatches between the final outputs and the expected ones. */
  def verify(): Seq[String]
  /** Perturbs one expectation and reports whether [[verify]] caught it. */
  def selfTest(): Boolean
  /** Workload-specific notes for the artifact, from the counts of the
    * measured operations; not compared. */
  def annotations(measured: Seq[Map[String, Double]]): Seq[(String, Double)] = Nil
}

/** Benchmark main: sets a workload up several times, runs it as a
  * closed loop with one client for a fixed time, checks every answer,
  * and writes the metrics as JSON. See perfbench/README.md. */
object Main {
  val SetupRepeats = 3
  /** Traced operations (and as many untraced) a traced run makes at
    * least, so `trace.overhead` compares medians of several each. */
  val OverheadOps = 8

  /** Every per-layer metric the traced run reports, with its unit. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "text.tokenize_s" -> "s/op", "text.tokens" -> "count/op",
    "score.run_s" -> "s/op", "score.cpu_s" -> "s/op", "score.items" -> "count/op",
    "score.task_skew" -> "ratio", "score.broadcast_bytes" -> "B",
    "islands.find_s" -> "s/op", "islands.time_ranges_s" -> "s/op",
    "islands.shuffle_bytes" -> "B/op", "islands.rows_per_pair" -> "ratio",
    "core.commit_s" -> "s/op", "core.commits" -> "count/op", "core.files_added" -> "count/op",
    "core.append_s" -> "s/op",
    "core.bytes_written_per_row" -> "B/row", "core.live_bytes_per_row" -> "B/row",
    "core.snapshot_s" -> "s/op",
    "core.rows_read_per_row_returned" -> "ratio", "core.bytes_read_per_lookup" -> "B",
    "core.plan_stat_calls" -> "count/op",
    "spark.plan_s" -> "s/op", "spark.jobs_per_op" -> "count/op",
    "spark.stages_per_op" -> "count/op", "spark.tasks_per_op" -> "count/op",
    "spark.driver_gap_s" -> "s/op", "spark.shuffle_bytes" -> "B/op",
    "spark.spill_bytes" -> "B/op", "spark.cpu_s" -> "s/op", "spark.run_s" -> "s/op",
    "jvm.gc_s" -> "s/op",
    "host.steal_s" -> "s", "host.iowait_s" -> "s", "trace.overhead" -> "ratio")

  /** Layer metrics that are exact counts: a seed fixes them, so two
    * runs with one seed must report the same values. */
  val Counters: Seq[String] = Seq("text.tokens", "score.items", "score.broadcast_bytes",
    "islands.shuffle_bytes", "islands.rows_per_pair", "core.commits", "core.files_added",
    "core.bytes_written_per_row", "core.live_bytes_per_row", "core.rows_read_per_row_returned",
    "core.bytes_read_per_lookup", "core.plan_stat_calls", "spark.jobs_per_op",
    "spark.stages_per_op", "spark.tasks_per_op", "spark.shuffle_bytes")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cpus: Int, out: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString).toInt,
      Paths.get(need("out")))
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "score_islands" => new ScoreIslands(seed)
    case "lake_lookup" => new LakeLookup(seed)
    case other => sys.error(s"unknown workload '$other'")
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cpus}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.catalog.graft", "graft.core.GraftCatalog")
    graft.core.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  /** A timestamped progress line in the run's log. */
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    HeapWatch.install()

    // ---- set-up, repeated; the last repetition is the one measured.
    // Warm-up runs once, after it.
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    val setupWallSecs = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var s: SparkSession = null
    var w: Workload = null
    var tr: Tracer = null
    for (rep <- 0 until SetupRepeats) {
      if (s != null) { s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      System.gc()
      val st0 = hostStallMillis()._1
      val t0 = System.nanoTime()
      s = session(a)
      tr = new Tracer(s)
      w = workload(a.workload, a.seed)
      w.setup(s, a.work.resolve(s"setup$rep"), tr)
      val wall = (System.nanoTime() - t0) / 1e9
      setupWallSecs += wall
      // net of host steal, as the measured operations are
      setupSecs += wall - (hostStallMillis()._1 - st0) / 1e3 / hostCpus
      phase(s"set-up $rep done")
    }
    // the footprint of the measured set-up: models, lake and session state
    System.gc()
    val heapSetupMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val warmupSecs = new java.util.concurrent.ConcurrentSkipListMap[Int, Double]()
    def warmOne(i: Int): Option[String] = {
      val t0 = System.nanoTime()
      val op = w.run(i)
      warmupSecs.put(i, (System.nanoTime() - t0) / 1e9)
      op.counts()
      op.check()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(w.warmupThreads)
    try {
      (0 until w.parallelWarmupOps).map(i => pool.submit(() => warmOne(i)))
        .foreach(_.get().foreach(m => failures += s"warm-up $m"))
    } finally pool.shutdown()
    (w.parallelWarmupOps until w.parallelWarmupOps + w.warmupOps)
      .foreach(i => warmOne(i).foreach(m => failures += s"warm-up $m"))

    phase("warm-up done")

    // ---- measurement: one client, closed loop
    val done = mutable.ArrayBuffer.empty[Done]
    var next = w.parallelWarmupOps + w.warmupOps
    def runOne(): Unit = {
      val gc0 = gcMillis()
      val st0 = hostStallMillis()._1
      val stat0 = graft.core.ManifestLake.planStatCalls.get()
      tr.beginOp(next)
      val t0 = tr.nowMs
      val id = next
      val op = try w.run(id) catch {
        case e: Exception => Op(0, 0, check = () => Some(s"op $id threw ${e.toString.take(300)}"))
      }
      val t1 = tr.nowMs
      tr.endOp()
      val gc = gcMillis() - gc0
      val st = hostStallMillis()._1 - st0
      val statCalls = graft.core.ManifestLake.planStatCalls.get() - stat0
      op.check().foreach(m => failures += m)
      done += Done(id, op.units, op.rows, op.counts(), t0, t1, gc, statCalls, st)
      next += 1
    }
    /** Runs whole rounds for `seconds` and at least `minOps` operations. */
    def loop(seconds: Double, minOps: Int): (Seq[Done], Double) = {
      val from = done.length
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || done.length - from < minOps ||
          (done.length - from) % w.roundOps != 0) runOne()
      (done.drop(from).toSeq, (System.nanoTime() - t0) / 1e9)
    }

    val (steal0, iowait0) = hostStallMillis()
    val jit0 = jitMillis()
    HeapWatch.reset()
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var breakdown = "null"
    var opSpans = "null"
    var overheadOps = 0
    val (measured, elapsed) =
      if (!a.trace) loop(a.seconds, w.minOps)
      else {
        // Traced and untraced operations alternate as T U U T, T U U T,
        // ..., so drift during the run (JIT, caches) weighs on both
        // alike, and the loop ends with as many of each. The counter
        // window is the first traced operations, which the seed fixes.
        tr.start()
        val traced = mutable.ArrayBuffer.empty[Done]
        val untraced = mutable.ArrayBuffer.empty[Done]
        val t0 = System.nanoTime()
        var k = 0
        while ((System.nanoTime() - t0) / 1e9 < a.seconds ||
            traced.length < math.max(w.counterOps, OverheadOps) || k % 2 == 1) {
          val on = k % 4 == 0 || k % 4 == 3
          tr.enable(on)
          runOne()
          (if (on) traced else untraced) += done.last
          k += 1
        }
        val el = (System.nanoTime() - t0) / 1e9
        tr.stop()
        layer ++= layerMetrics(w, tr, traced.toSeq)
        breakdown = spanBreakdown(tr, traced.toSeq).map { case (k, v) =>
          s""""$k":""" + v.map { case (f, x) => s""""$f":$x""" }.mkString("{", ",", "}") }
          .mkString("{", ",", "}")
        opSpans = traced.map { d =>
          tr.spans.filter(_.op == d.id).map(sp => s""""${sp.layer}.${sp.name}":${sp.ms / 1e3}""")
            .mkString("{", ",", "}") }.mkString("[", ",", "]")
        layer("trace.overhead") = Tracer.median(traced.map(_.secs).toSeq) /
          Tracer.median(untraced.map(_.secs).toSeq)
        overheadOps = traced.length
        (done.toSeq, el)
      }
    val (steal1, iowait1) = hostStallMillis()
    val jit1 = jitMillis()
    val heapPeakMb = HeapWatch.peakMb
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    phase("measurement done")

    // ---- correctness, outside every timed region
    failures ++= w.verify()
    val selfTestFired = w.selfTest()
    if (!selfTestFired) failures += "negative self-test: a perturbed expectation was not caught"

    val mLat = measured.map(_.secs)
    // Throughput is work per round over the median round time, net of
    // host steal: a stall that slows a few rounds does not move it, nor
    // does a host that lends this guest's CPUs to others for the whole
    // run; a change that slows every round of the mix does.
    val rounds = measured.grouped(w.roundOps).filter(_.length == w.roundOps).toSeq
    val roundSecs = Tracer.median(rounds.map(_.map(_.netSecs).sum))
    val roundWallSecs = Tracer.median(rounds.map(_.map(_.secs).sum))
    def perRound(f: Done => Double) = rounds.map(_.map(f).sum).sum / rounds.length
    val attempted = measured.length
    val failed = math.min(attempted, failures.length)
    val endToEnd = Seq(
      "setup_s" -> (Tracer.median(setupSecs.toSeq), "s"),
      "op_p50_s" -> (percentile(mLat, 0.5), "s"),
      "op_tail_s" -> (percentile(mLat, w.tailPct), "s"),
      "throughput_per_s" -> (perRound(_.units) / roundSecs, "1/s"),
      "rows_per_s" -> (perRound(_.rows) / roundSecs, "1/s"),
      "heap_live_mb" -> (heapSetupMb, "MB"))
    layer("host.steal_s") = (steal1 - steal0) / 1e3
    layer("host.iowait_s") = (iowait1 - iowait0) / 1e3
    val perLayer = LayerUnits.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def metricJson(m: Seq[(String, (Double, String))]) = m.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val correct = failures.isEmpty
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${metricJson(if (a.trace) perLayer else endToEnd)}}"""
    val detail = Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "seconds" -> num(a.seconds), "trace" -> a.trace.toString, "cpus" -> a.cpus.toString,
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "heap_peak_mb" -> num(heapPeakMb),
      "heap_live_end_mb" -> num(heapLiveMb),
      "throughput_wall_per_s" -> num(perRound(_.units) / roundWallSecs),
      "host_cpus" -> hostCpus.toString,
      "setup_runs_s" -> setupSecs.map(num).mkString("[", ",", "]"),
      "setup_runs_wall_s" -> setupWallSecs.map(num).mkString("[", ",", "]"),
      "ops" -> attempted.toString, "elapsed_s" -> num(elapsed),
      "tail_percentile" -> num(w.tailPct),
      "tail_samples_beyond" -> math.floor(attempted * (1 - w.tailPct)).toLong.toString,
      "fail_frac" -> num(if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "selftest_fired" -> selfTestFired.toString,
      "trace_overhead_ops_each" -> overheadOps.toString,
      "annotations" -> w.annotations(measured.map(_.counts))
        .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"),
      "failures" -> failures.take(20).map(f => "\"" + escape(f) + "\"").mkString("[", ",", "]"),
      "steal_s" -> num((steal1 - steal0) / 1e3), "iowait_s" -> num((iowait1 - iowait0) / 1e3),
      "jit_compile_s" -> num((jit1 - jit0) / 1e3),
      "end_to_end" -> metricJson(endToEnd),
      "per_layer" -> (if (a.trace) metricJson(perLayer) else "null"),
      "counters" -> (if (a.trace) Counters.map(k => s""""$k":${num(layer.getOrElse(k, 0.0))}""")
        .mkString("{", ",", "}") else "null"),
      "spans" -> breakdown,
      "op_spans_s" -> opSpans,
      "op_latencies_s" -> mLat.map(num).mkString("[", ",", "]"),
      "op_steal_s" -> measured.map(d => num(d.stealMs / 1e3)).mkString("[", ",", "]"),
      "warmup_latencies_s" -> warmupSecs.values.asScala.map(num).mkString("[", ",", "]"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.write(a.out, (s"""{"result":$result,"detail":$detail}""" + "\n")
      .getBytes(StandardCharsets.UTF_8))
    phase("checked")
    s.stop()
    phase("stopped")
    System.exit(if (correct) 0 else 1)
  }

  /** Per-layer metrics of the traced phase: times are means over every
    * traced operation, counts are means over the counter window (the
    * first [[Workload.counterOps]] traced operations). */
  def layerMetrics(w: Workload, tr: Tracer, traced: Seq[Done]): Map[String, Double] = {
    val n = traced.length.toDouble
    val window = traced.take(w.counterOps)
    val wn = window.length.toDouble
    val all = traced.map(_.id).toSet
    val win = window.map(_.id).toSet
    val opAt = (t: Double) => traced.find(d => t >= d.startMs && t <= d.endMs).map(_.id)
    tr.resolveTags(opAt)
    def tagged[T](xs: Iterable[T], tag: T => String) = xs.toSeq.flatMap { x =>
      Tracer.opLayer(tag(x)).collect { case (o, l) if all(o) => (o, l, x) } }
    val stages = tagged[StageRec](tr.stages.values, _.tag)
    val jobs = tagged[JobRec](tr.jobs.values, _.tag)
    val spans = tr.spans.filter(sp => all(sp.op)).toSeq
    val wStages = stages.filter(x => win(x._1))
    val m = mutable.LinkedHashMap.empty[String, Double]
    def runS(l: Option[String]) = stages.filter(x => l.forall(_ == x._2)).map(_._3.runMs).sum / 1e3 / n
    def cpuS(l: Option[String]) = stages.filter(x => l.forall(_ == x._2)).map(_._3.cpuNs).sum / 1e9 / n
    m("spark.run_s") = runS(None)
    m("spark.cpu_s") = cpuS(None)
    m("score.run_s") = runS(Some("score"))
    m("score.cpu_s") = cpuS(Some("score"))
    m("spark.plan_s") = tr.planPhases.filter(p => opAt(p._1).isDefined).map(_._2).sum / 1e3 / n
    m("jvm.gc_s") = traced.map(_.gcMs).sum / 1e3 / n
    def jobSpan(j: JobRec, end: Double) = (j.startMs.toDouble, if (j.endMs < 0) end else j.endMs.toDouble)
    m("spark.driver_gap_s") = traced.map { d =>
      d.endMs - d.startMs - Tracer.unionMs(jobs.filter(_._1 == d.id).map(j => jobSpan(j._3, d.endMs)))
    }.sum / 1e3 / n
    spans.groupBy(sp => s"${sp.layer}.${sp.name}_s").foreach { case (k, v) => m(k) = v.map(_.ms).sum / 1e3 / n }
    val jobsByTag = jobs.groupBy(_._3.tag)
    m("core.commit_s") = spans.filter(_.layer == "core").map { sp =>
      sp.ms - Tracer.unionMs(jobsByTag.getOrElse(sp.tag, Nil).map { j =>
        val (a, b) = jobSpan(j._3, sp.endMs)
        (math.max(a, sp.startMs), math.min(b, sp.endMs))
      })
    }.sum / 1e3 / n
    m("score.task_skew") = Tracer.median(stages.collect {
      case (_, "score", st) if st.taskMs.size >= 2 =>
        val t = st.taskMs.map(_.toDouble).toSeq
        t.max / math.max(1.0, Tracer.median(t))
    })
    m("spark.jobs_per_op") = jobs.count(x => win(x._1)) / wn
    m("spark.stages_per_op") = wStages.length / wn
    m("spark.tasks_per_op") = wStages.map(_._3.tasks).sum / wn
    m("spark.shuffle_bytes") = wStages.map(_._3.shuffleWrite).sum / wn
    m("spark.spill_bytes") = wStages.map(_._3.spill).sum / wn
    m("islands.shuffle_bytes") = wStages.filter(_._2 == "islands").map(_._3.shuffleWrite).sum / wn
    m("core.plan_stat_calls") = window.map(_.statCalls).sum / wn
    val coreStages = wStages.filter(_._2 == "core").map(_._3)
    val returned = window.map(_.counts.getOrElse("rows_returned", 0.0)).sum
    val lookups = window.map(_.counts.getOrElse("lookups", 0.0)).sum
    if (returned > 0) m("core.rows_read_per_row_returned") = coreStages.map(_.inRecords).sum / returned
    if (lookups > 0) m("core.bytes_read_per_lookup") = coreStages.map(_.inBytes).sum / lookups
    m ++= w.layerMetrics(window.map(_.counts), traced.map(_.counts))
    m.toMap
  }

  /** Per span name: wall seconds, seconds covered by Spark jobs, and
    * executor run and CPU seconds, each per traced operation. */
  def spanBreakdown(tr: Tracer, traced: Seq[Done]): Seq[(String, Seq[(String, Double)])] = {
    val n = traced.length.toDouble
    val all = traced.map(_.id).toSet
    val jobsByTag = tr.jobs.values.groupBy(_.tag)
    val stagesByTag = tr.stages.values.groupBy(_.tag)
    tr.spans.filter(sp => all(sp.op)).groupBy(sp => s"${sp.layer}.${sp.name}").toSeq.sortBy(_._1).map {
      case (k, sps) =>
        val jobS = sps.map(sp => Tracer.unionMs(jobsByTag.getOrElse(sp.tag, Nil).toSeq
          .map(j => (j.startMs.toDouble, if (j.endMs < 0) sp.endMs else j.endMs.toDouble)))).sum
        val st = sps.flatMap(sp => stagesByTag.getOrElse(sp.tag, Nil))
        k -> Seq("wall_s" -> sps.map(_.ms).sum / 1e3 / n, "jobs_s" -> jobS / 1e3 / n,
          "jobs" -> sps.map(sp => jobsByTag.getOrElse(sp.tag, Nil).size).sum / n,
          "tasks" -> st.map(_.tasks).sum / n,
          "run_s" -> st.map(_.runMs).sum / 1e3 / n, "cpu_s" -> st.map(_.cpuNs).sum / 1e9 / n)
    }
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.sorted
      val pos = p * (v.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(v.length - 1, lo + 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }

  private def escape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  /** Time the JIT compilers have spent so far; compilation still going
    * on in the measured loop means the warm-up was short of the plateau. */
  def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPUs the host's /proc/stat counts steal over. */
  lazy val hostCpus: Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try math.max(1, src.getLines().count(_.matches("cpu\\d+ .*"))) finally src.close()
    } catch { case _: Exception => 1 }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Host steal and iowait in milliseconds since boot, from /proc/stat;
    * zeros where it cannot be read. */
  def hostStallMillis(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
      finally src.close()
      val tick = 10L // USER_HZ = 100
      (if (f.length > 8) f(8).toLong * tick else 0L, if (f.length > 5) f(5).toLong * tick else 0L)
    } catch { case _: Exception => (0L, 0L) }
}

/** Peak heap in use during the measured loop, as the largest heap
  * occupancy left after any collection since [[reset]]; falls back to
  * the current occupancy when no collection ran. It depends on when
  * collections happen, so it is recorded as an annotation only. */
object HeapWatch {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  def peakMb: Double = {
    val p = synchronized(peak)
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (p > 0) p else now) / 1048576.0
  }
}
