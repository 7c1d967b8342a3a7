package perfbench

import org.apache.spark.sql.SparkSession

/** One measured operation: a key, a statement or a read. */
final case class Op(id: Int, pass: Int, name: String, kind: String,
    module: String, t0Ms: Long, t1Ms: Long, ms: Double, ok: Boolean,
    error: String, traced: Boolean, fp: String = "")

/** What a workload run hands back: its measured ops, one (wall seconds,
  * traced) pair per measured pass, and workload-specific figures. */
final case class Outcome(ops: Seq[Op], passes: Seq[(Double, Boolean)],
    extra: Map[String, Any] = Map.empty)

final case class Ctx(spark: SparkSession, data: String, out: String,
    seed: Long, seconds: Double, trace: Boolean)

trait Workload {
  def name: String
  /** `SparkEntry.queries` keys the workload runs (checked at start-up). */
  def keys: Seq[String]
  def run(ctx: Ctx): Outcome
}

/** Entry point of the benchmark JVM. Launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <fixture dir> --out <result dir>
  *     [--keys k1,k2,...]
  *
  * Writes `result.json` (ops, pass walls, layer metrics) and, when
  * traced, `spans.json` under `--out`. */
object Main {
  val workloads: Seq[Workload] = Seq(KeyWorkload.analytics, Roundtrip)

  /** local[n] with n ≤ the machine's cores; shuffle partitions = n. Two
    * cores: the fixtures are small, most stages run one task, and the
    * free cores keep the JIT and GC threads off the measured path. */
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = opts.getOrElse(k, fail(s"missing --$k"))
    val base = workloads.find(_.name == need("workload")).getOrElse(
      fail(s"unknown workload ${need("workload")}; known: " +
        workloads.map(_.name).mkString(", ")))
    val w = opts.get("keys").map(ks => base match {
      case k: KeyWorkload => k.copy(keys = ks.split(",").toSeq)
      case _ => fail("--keys applies to key workloads only")
    }).getOrElse(base)
    // start-up guard: a key renamed or dropped from the engine stops
    // the run here, before a session exists, naming the key
    val missing = w.keys.filterNot(graft.SparkEntry.queries.contains)
    if (missing.nonEmpty)
      fail(s"workload ${w.name}: keys missing from SparkEntry.queries: " +
        missing.mkString(", "))
    val out = need("out")
    new java.io.File(out).mkdirs()
    val trace = need("trace") == "1"
    val spark = session(trace, out)
    val ctx = Ctx(spark, need("data"), out, need("seed").toLong,
      need("seconds").toDouble, trace)
    val t0 = System.nanoTime()
    val res = w.run(ctx)
    val runS = (System.nanoTime() - t0) / 1e9
    val heapMb = liveHeapMb()
    // stopping the context drains the listener bus, so every event of
    // the run has been delivered before the layers are summed
    spark.stop()
    val layers = if (trace) Layers(res) else Map.empty[String, Double]
    if (trace) Json.write(s"$out/spans.json", Trace.spanDump())
    Json.write(s"$out/result.json", Map(
      "workload" -> w.name, "seed" -> ctx.seed, "cores" -> cores,
      "run_s" -> runS, "heap_live_mb" -> heapMb,
      "passes" -> res.passes.map { case (s, t) =>
        Map("wall_s" -> s, "traced" -> t) },
      "ops" -> res.ops.map(o => Map("id" -> o.id, "pass" -> o.pass,
        "name" -> o.name, "kind" -> o.kind, "module" -> o.module,
        "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error,
        "traced" -> o.traced)),
      "extra" -> res.extra, "layers" -> layers))
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(trace: Boolean, out: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        new java.io.File(out, "warehouse").getAbsolutePath)
      .config("spark.local.dir",
        new java.io.File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[Trace.BatchListener].getName)
    if (trace) b.config("spark.sql.queryExecutionListeners",
      classOf[Trace.PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) spark.sparkContext.addSparkListener(new Trace.JobListener)
    spark
  }

  /** Driver heap in use after full collections, in MiB. Collects until
    * the figure stops falling: Spark's context cleaner frees shuffle and
    * broadcast state only after a collection has cleared its weak
    * references, so one collection can leave that state counted. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); Thread.sleep(100); mx.getHeapMemoryUsage.getUsed }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last && rounds < 8) { last = next; next = used(); rounds += 1 }
    math.min(last, next) / 1048576.0
  }

  /** Run the measured passes. The first pass's wall sets how many fit
    * in `seconds`, and every pass runs to its end; there are at least
    * `minPasses`, and at least two in a traced run, where every second
    * pass is untraced, so the traced and untraced pass walls of the same
    * run give the cost of tracing. */
  def passes(ctx: Ctx, minPasses: Int = 1)(pass: Int => Unit)
      : Seq[(Double, Boolean)] = {
    val walls = Seq.newBuilder[(Double, Boolean)]
    val least = if (ctx.trace) math.max(2, minPasses) else minPasses
    var n = least
    var i = 0
    while (i < n) {
      Trace.enabled = ctx.trace && i % 2 == 0
      val p0 = System.nanoTime()
      pass(i)
      val wall = (System.nanoTime() - p0) / 1e9
      walls += ((wall, Trace.enabled))
      if (i == 0) n = math.max(least, math.round(ctx.seconds / wall).toInt)
      i += 1
    }
    Trace.enabled = false
    walls.result()
  }

  /** Time one op on the client thread; jobs it starts carry its id. */
  def timed(ctx: Ctx, pass: Int, name: String, kind: String,
      module: String)(body: => String): Op = {
    val id = Trace.newId()
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (ok, err, fp) =
      try { val fp = body; (true, "", fp) }
      catch { case e: Throwable =>
        (false, Option(e.getMessage).getOrElse(e.toString).take(300), "") }
    val ms = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpProperty, null)
    if (Trace.enabled)
      Trace.spans.add(Trace.Span(id, 0, kind, name, t0, t1))
    if (!ok) System.err.println(s"perfbench: op $name failed: $err")
    Op(id, pass, name, kind, module, t0, t1, ms, ok, err, Trace.enabled, fp)
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for no values. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val i = (s.size - 1) * q
      val lo = i.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (i - lo)
    }
}
