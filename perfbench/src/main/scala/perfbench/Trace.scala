package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed interval. `module` is the layer the benchmark called into
  * ("ops", "functions", "operators", "sources", "streaming") or "bench"
  * for the benchmark's own loop; times are epoch nanoseconds.
  */
final case class Span(id: Int, parent: Int, name: String, module: String,
    start: Long, end: Long, traced: Boolean, attrs: Map[String, Any])

/** In-memory span recorder. Every call's duration is kept as a sample
  * under its span name (the end-to-end metrics come from these); the
  * span itself, with its parent, is kept only while `tracing` is on, and
  * root spans always. Everything is written out once, at the end.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Switched per iteration in a traced run: traced and untraced
    * iterations alternate, so the overhead is measured in one window. */
  var tracing: Boolean = enabled

  /** Epoch nanoseconds on the monotonic clock (listener events carry
    * epoch milliseconds, so spans and jobs share one time axis). */
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffset

  /** Time `body` as span `name` (module = the part before the first dot).
    * `attrs` is evaluated after `body`, so it may read what body set. */
  def span[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T = {
    val keep = tracing || stack.isEmpty
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = now()
    var ok = false
    try {
      val r = body
      ok = true
      r
    } finally {
      val t1 = now()
      stack = stack.tail
      if (ok) samples.getOrElseUpdate(name, ArrayBuffer.empty) += (t1 - t0) / 1e9
      if (stack.isEmpty || tracing)  // progress, in the JVM log only
        System.err.println(f"[perfbench] ${"  " * stack.size}$name ${(t1 - t0) / 1e9}%.3f s")
      if (keep) {
        val a = if (ok) attrs else Map[String, Any]("failed" -> true)
        spans += Span(id, parent, name, name.takeWhile(_ != '.'), t0, t1,
          tracing, a)
      }
    }
  }

  def roots: Seq[Span] = spans.filter(_.parent == 0).toSeq
}

/** Spark's own layers, seen through a listener the benchmark registers:
  * one record per job with the summed task metrics of its stages. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int],
      var tasks: Long = 0, var cpuNs: Long = 0, var runMs: Long = 0,
      var gcMs: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var spill: Long = 0)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time * 1000000L, 0L, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for (j <- stageJob.get(si.stageId).flatMap(jobs.get)) {
        val m = si.taskMetrics
        j.tasks += si.numTasks
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def snapshot(): Seq[Job] = synchronized(jobs.values.toSeq)
}

object JobProbe {
  def install(sc: SparkContext): JobProbe = {
    val p = new JobProbe
    sc.addSparkListener(p)
    p
  }
}

/** Per-trigger phase times of a streaming query, from the public
  * `StreamingQueryProgress.durationMs`. */
object StreamPhases {
  val Keys = Seq("triggerExecution", "latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit")

  def of(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.map { p =>
      val d = p.durationMs
      Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows) ++
        Keys.map(k => k -> (if (d.containsKey(k)) d.get(k).longValue else 0L))
    }
}
