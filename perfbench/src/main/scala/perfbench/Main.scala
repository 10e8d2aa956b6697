package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs ONE workload for a fixed time in one
  * `local[n]` session with one closed-loop client, and writes raw
  * samples, spans and job records for `run.py` to turn into metrics.
  *
  * {{{
  * perfbench.Main --workload curate --seed 1 --seconds 10 --trace 0
  *   --inputs <dir> --work <dir> --out <dir> --cores 4
  * }}}
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, work: String, out: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("work"), m("out"), m("cores").toInt)
  }

  /** What a workload provides to the timed loop. `step` runs the next
    * closed-loop operation(s) and returns how many it attempted; `cycle`
    * counts the steps, and traced runs alternate tracing per cycle. */
  trait Workload {
    def setup(): Unit
    def cycle: Int
    def step(): Int
    /** Outside the timed region: write what the output checks read and
      * return the workload's own counts. */
    def finish(): Map[String, Any]
    /** Traced runs only, after the timed loop: per-module probes. */
    def probes(): Unit = ()
  }

  final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
    def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
      tracer.span(name, attrs)(body)
    def input(name: String): String = s"${args.inputs}/$name"
    def out(name: String): String = s"${args.out}/$name"
    def work(name: String): String = s"${args.work}/$name"
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed job, timed after the warm-up and after the timed loop: a
    * slow canary marks a run made in a noisy window. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(hash(id) % 1000) AS s")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadavg()
    val spark = session(a)
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(a.trace)
    val probe = if (a.trace) Some(JobProbe.install(spark.sparkContext)) else None
    val ctx = new Ctx(spark, a, tracer)
    val w: Workload = a.workload match {
      case "curate" => new CurateWorkload(ctx)
      case "query_mix" => new QueryMixWorkload(ctx)
      case "table_cdc" => new TableCdcWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val s0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    val canaryBefore = canary(spark)
    tracer.spans.clear()
    tracer.samples.clear()
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var steps = 0
    val t0 = tracer.now()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // A traced run traces every second step, starting with the second:
    // the first step may still be cold, and the overhead compares traced
    // steps with the untraced steps after it (so at least three steps).
    while (System.nanoTime() < deadline || (a.trace && steps < 3)) {
      steps += 1
      tracer.tracing = a.trace && w.cycle % 2 == 1
      try attempted += w.step() catch {
        case e: Exception =>
          attempted += 1
          errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
    }
    val t1 = tracer.now()
    tracer.tracing = a.trace
    val extra = w.finish()
    if (a.trace) w.probes()
    val canaryAfter = canary(spark)
    val hwm = vmHwmKb()
    probe.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    if (a.trace) {
      val spans = tracer.spans.map(s => Json.obj("kind" -> "span", "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "module" -> s.module,
        "start" -> s.start, "end" -> s.end, "traced" -> s.traced,
        "attrs" -> s.attrs))
      val jobs = probe.get.snapshot().map(j => Json.obj("kind" -> "job",
        "id" -> j.id, "start" -> j.start, "end" -> j.end,
        "stages" -> j.stages.size, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
        "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill))
      Files.write(Paths.get(ctx.out("trace.jsonl")),
        (spans ++ jobs).map(_.text).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "canary_before_s" -> canaryBefore, "canary_after_s" -> canaryAfter,
      "session_ready_ms" -> readyMs, "setup_in_jvm_s" -> setupS,
      "timed_start" -> t0, "timed_end" -> t1,
      "attempted" -> attempted, "errors" -> errors.toSeq,
      "vmhwm_kb" -> hwm,
      "roots" -> tracer.roots.map(s => Json.obj("name" -> s.name,
        "start" -> s.start, "end" -> s.end, "traced" -> s.traced,
        "attrs" -> s.attrs)),
      "samples" -> tracer.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "extra" -> extra)
    Files.write(Paths.get(ctx.out("result.json")), result.text.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON writer for the result files (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  /** An already rendered JSON value. */
  final case class Raw(text: String) { override def toString: String = text }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, x) => quote(k) + ":" + value(x) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case r: Raw => r.text
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
