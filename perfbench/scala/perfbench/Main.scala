package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.etl.EtlRunner

/** One timed unit of work: an ETL job, a JDBC load round, a dedup/search
  * pipeline call or a micro-batch. `out` names what the output checks
  * read. */
final case class UnitRec(name: String, durS: Double, rows: Long, ok: Boolean,
                         err: String = "", out: Map[String, String] = Map.empty)

/** State shared by the run loop and the workloads. */
final class Ctx(opts: Map[String, String]) {
  val seed: Long = opts("seed").toLong
  val inputs: String = opts("inputs")
  /** Inputs the engine generates itself, written by `--phase prepare`. */
  val prepared: String = opts("prepared")
  val work: String = opts("work")
  val nproc: Int = GraftSession.cpus.toInt
  val tracer = new Tracer(opts("run-id"))
  val exec = new ExecListener
  val stream = new StreamListener
  var spark: SparkSession = _
  var runner: EtlRunner = _

  /** Per-layer samples of traced rounds; each metric reports their median. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    if (tracer.enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def traced: Boolean = tracer.enabled

  def out(tag: String): String = s"$work/out/$tag"

  /** Run one unit, turning an engine exception into a failed unit. */
  def timed(name: String, out: Map[String, String] = Map.empty)(
      body: => (Long, Boolean)): UnitRec = {
    val t0 = Clock.now
    try {
      val (rows, ok) = body
      UnitRec(name, (Clock.now - t0) / 1e9, rows, ok, out = out)
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] unit $name failed: $e")
      e.printStackTrace()
      UnitRec(name, (Clock.now - t0) / 1e9, 0L, ok = false, err = e.toString, out = out)
    }
  }

  def startSession(): Unit = {
    spark = GraftSession.build("perfbench")
    spark.streams.addListener(stream)
    runner = new EtlRunner(spark)
  }

}

/** A workload: registers its sources once per set-up and runs rounds.
  * A round is what the closed loop repeats; it yields one or more units. */
trait Workload {
  /** Input preparation that needs the engine: run once per build in a JVM
    * of its own (`--phase prepare`), never in a timed one. */
  def prepare(ctx: Ctx): Unit = ()
  def register(ctx: Ctx): Unit
  def round(ctx: Ctx, tag: String): Seq[UnitRec]
  /** Workload-specific per-layer samples from a traced round's spans and
    * Spark jobs. */
  def traceLayers(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec],
                  stages: Seq[StageRec]): Unit = ()
  /** Per-layer figures that need the work taken apart; runs after each
    * traced round, outside its wall time and its Spark listener window. */
  def probe(ctx: Ctx, tag: String): Unit = ()
}

/** Benchmark JVM: set up, run rounds in a closed loop for
  * `--seconds`, and write `result.json` (plus `spans.json` when traced)
  * into `--work`. Outputs are checked afterwards by `perfbench/check.py`,
  * outside the engine. */
object Main {
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case t: Throwable =>
      // Spark leaves non-daemon threads behind; exit explicitly so the
      // caller sees the failure instead of a hung JVM
      t.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val mainNs = Clock.epochNs()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spawnNs = opts("spawn-ns").toLong
    val trace = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val ctx = new Ctx(opts)
    val wl = Workloads(opts("workload"))
    if (opts.get("phase").contains("prepare")) {
      ctx.startSession()
      wl.prepare(ctx)
      ctx.spark.stop()
      sys.exit(0)
    }

    // Set-up, once and cold: from process spawn through JVM start,
    // session build, source registration and one unmeasured warm-up round.
    // Repeating it inside this JVM would not repay one-time work (class
    // loading, JVM-wide lazy state), which is what set-up time must show.
    val start = Clock.now - (mainNs - spawnNs)
    val t0 = Clock.now
    ctx.startSession()
    val t1 = Clock.now
    wl.register(ctx)
    val t2 = Clock.now
    wl.round(ctx, "w0").find(!_.ok).foreach(u =>
      throw new IllegalStateException(s"warm-up unit ${u.name} failed: ${u.err}"))
    val t3 = Clock.now
    val setup = Map("total_s" -> ((t3 - start) / 1e9),
      "boot_s" -> ((t0 - start) / 1e9), "build_s" -> ((t1 - t0) / 1e9),
      "register_s" -> ((t2 - t1) / 1e9), "warmup_s" -> ((t3 - t2) / 1e9))

    // Measured phase: a single client runs rounds back to back. A traced
    // run alternates untraced and traced rounds, at least untraced, traced,
    // untraced, so the overhead of tracing is measured in the same process.
    val cpu0 = Env.cpuJiffies()
    val gc0 = Env.gcSeconds()
    val flt0 = Env.minorFaults()
    val load0 = Env.loadAvg1()
    val m0 = Clock.now
    val deadline = m0 + (seconds * 1e9).toLong
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var r = 0
    while (Clock.now < deadline || r < (if (trace) 3 else 1)) {
      val traced = trace && r % 2 == 1
      ctx.tracer.enabled = traced
      if (traced) ctx.spark.sparkContext.addSparkListener(ctx.exec)
      val mark = ctx.tracer.size
      val rs = Clock.now
      val units = ctx.tracer.span("round")(wl.round(ctx, s"r$r"))
      val wall = (Clock.now - rs) / 1e9
      if (traced) {
        val (jobs, stages, tasks) = ctx.exec.drain()
        ctx.spark.sparkContext.removeSparkListener(ctx.exec)
        jobs.foreach(j => ctx.tracer.external("exec.job", j.start, j.end))
        execLayers(ctx, wall, jobs, stages, tasks)
        wl.traceLayers(ctx, ctx.tracer.since(mark), jobs, stages)
        ctx.tracer.span("probe")(wl.probe(ctx, s"r$r"))
      }
      ctx.tracer.enabled = false
      rounds += Map("round" -> r, "traced" -> traced, "wall_s" -> wall,
        "units" -> units.map(u => Map("name" -> u.name, "dur_s" -> u.durS,
          "rows" -> u.rows, "ok" -> u.ok, "err" -> u.err, "out" -> u.out)))
      r += 1
    }
    val measuredS = (Clock.now - m0) / 1e9
    val (iowait, steal) = Env.iowaitStealPct(cpu0, Env.cpuJiffies())
    val env = Map("nproc" -> ctx.nproc, "load1_start" -> load0, "load1_end" -> Env.loadAvg1(),
      "jvm_gc_s" -> (Env.gcSeconds() - gc0), "minflt" -> (Env.minorFaults() - flt0),
      "iowait_pct" -> iowait, "steal_pct" -> steal, "code_cache_mb" -> Env.codeCacheMb(),
      "peak_rss_mb" -> Env.peakRssMb(), "spark_version" -> ctx.spark.version,
      "java_version" -> System.getProperty("java.version"))
    ctx.spark.stop()

    val layers = ctx.samples.map { case (k, v) => k -> median(v.toSeq) }.toMap
    if (trace) {
      val spans = ctx.tracer.resolved.map { case (s, self) =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> self,
          "run" -> ctx.tracer.runId)
      }
      write(s"${ctx.work}/spans.json", Json.render(Map("run" -> ctx.tracer.runId,
        "env" -> env, "spans" -> spans)))
    }
    write(s"${ctx.work}/result.json", Json.render(Map(
      "workload" -> opts("workload"), "seed" -> ctx.seed, "trace" -> trace,
      "setup" -> setup, "measured_s" -> measuredS, "rounds" -> rounds.toSeq,
      "layers" -> layers, "env" -> env)))
    sys.exit(0)
  }

  def median(v: Seq[Double]): Double =
    if (v.isEmpty) 0.0 else {
      val s = v.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def write(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))

  /** Spark execution of one traced round, from the benchmark's listener. */
  private def execLayers(ctx: Ctx, wallS: Double, jobs: Seq[JobRec],
                         stages: Seq[StageRec], tasks: Seq[TaskRec]): Unit = {
    val runS = tasks.map(_.runMs).sum / 1000.0
    ctx.sample("exec.jobs", jobs.size)
    ctx.sample("exec.stages", stages.size)
    ctx.sample("exec.tasks", tasks.size)
    ctx.sample("exec.task_retries", tasks.count(_.attempt > 0))
    ctx.sample("exec.task_busy_s", runS)
    ctx.sample("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    ctx.sample("exec.gc_s", tasks.map(_.gcMs).sum / 1000.0)
    ctx.sample("exec.slot_util", runS / (wallS * ctx.nproc))
    ctx.sample("exec.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble)
    ctx.sample("exec.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble)
    ctx.sample("exec.spill_bytes", tasks.map(_.spill).sum.toDouble)
    val skews = tasks.groupBy(t => (t.stage, t.attempt)).values.filter(_.size >= 2)
      .map { ts =>
        val med = median(ts.map(_.durMs.toDouble))
        if (med > 0) ts.map(_.durMs).max / med else 1.0
      }
    ctx.sample("exec.task_skew", if (skews.isEmpty) 1.0 else skews.max)
    ctx.sample("sources.scan_rows", tasks.map(_.inRecords).sum.toDouble)
    ctx.sample("sources.scan_bytes", tasks.map(_.inBytes).sum.toDouble)
    val outRows = tasks.map(_.outRecords).sum
    if (outRows > 0)
      ctx.sample("sources.write_bytes_per_row", tasks.map(_.outBytes).sum.toDouble / outRows)
  }
}
