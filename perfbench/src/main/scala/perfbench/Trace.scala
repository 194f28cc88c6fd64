package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Counters are the span's own; the
  * summary adds the descendants' in. */
final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val depth: Int,
    val round: Int,
    val startNs: Long,
    val startMs: Long
) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var liveRdds = 0
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run.
  *
  * Every call the benchmark makes into a layer opens a span on the
  * calling thread. Spark jobs are charged to the innermost open span
  * through a local property (and a matching job description) set
  * around the call; task counters follow their stage's job. Catalyst's
  * planning phases arrive through a [[QueryExecutionListener]] and are
  * charged to the innermost span whose interval holds the phase. Every
  * counter is read only after Spark's listener bus has drained.
  *
  * With tracing off, [[span]] runs its body and records nothing.
  */
object Trace {
  val SpanKey = "perfbench.span"

  private var spark: SparkSession = _
  private var requested = false
  @volatile private var on = false
  /** The measured round the next spans belong to. */
  var round = 0
  // RDDs the trace itself persisted (see [[hold]]): not the program's
  private val owned = mutable.Set.empty[Int]
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  // run-level Spark counters, kept in both modes
  private val totalJobs = new java.util.concurrent.atomic.AtomicLong()
  private val totalTasks = new java.util.concurrent.atomic.AtomicLong()
  private val totalTaskCpuNs = new java.util.concurrent.atomic.AtomicLong()

  def enabled: Boolean = on

  /** Starts recording, if this is the traced run; the warm-up before it
    * leaves no spans. */
  def begin(): Unit = on = requested

  def install(session: SparkSession, tracing: Boolean): Unit = {
    spark = session
    requested = tracing
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        totalJobs.incrementAndGet()
        val owner = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SpanKey)))
          .flatMap(id => Option(byId.get(id.toInt)))
        owner.foreach { s =>
          s.synchronized(s.jobs += 1)
          e.stageIds.foreach(stageSpan.put(_, s))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        totalTasks.incrementAndGet()
        val s = stageSpan.get(e.stageId)
        val m = e.taskMetrics
        if (m != null) totalTaskCpuNs.addAndGet(m.executorCpuTime)
        if (s != null && m != null) s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.inputBytes += m.inputMetrics.bytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    })
    if (tracing)
      session.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          chargePlanning(qe)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          chargePlanning(qe)
      })
  }

  private val planPhases = Set("analysis", "optimization", "planning")

  private def chargePlanning(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      if (planPhases(phase)) {
        val owner = spans.synchronized {
          spans.filter(s => s.startMs <= p.startTimeMs && p.startTimeMs <= s.endMs)
            .maxByOption(_.depth)
        }
        owner.foreach(s => s.synchronized(s.planMs += p.durationMs))
      }
    }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def jobs: Long = totalJobs.get()
  def tasks: Long = totalTasks.get()
  /** Executor CPU seconds of every task that has ended so far. */
  def taskCpuS: Double = totalTaskCpuNs.get() / 1e9

  /** Runs `body` inside a span named `name` (`layer.function`). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = spans.synchronized {
        val s = new Span(spans.length, name, parent.fold(-1)(_.id), stack.length, round,
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        s
      }
      byId.put(s.id, s)
      stack.push(s)
      def label(of: Option[Span]): Unit = {
        sc.setLocalProperty(SpanKey, of.map(_.id.toString).orNull)
        sc.setJobDescription(of.map(o => s"perfbench ${o.name}").orNull)
      }
      label(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        drain()
        s.liveRdds = sc.getPersistentRDDs.keySet.count(id => !owned(id))
        stack.pop()
        label(parent)
        if (parent.isEmpty) release()
      }
    }

  /** Materializes `df` inside the current span, so that its cost is
    * charged there rather than to whichever later call runs it. The
    * checkpoint is the trace's own: it is left out of `live_rdds` and
    * released when the outermost span ends. */
  def hold(df: DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = df.localCheckpoint(eager = true)
    owned ++= sc.getPersistentRDDs.keySet -- before
    held
  }

  private def release(): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    owned.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    owned.clear()
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Writes every span, one JSON object a line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    drain()
    val kids = children
    val lines = spans.toSeq.map { s =>
      val self = s.wallS - kids.getOrElse(s.id, Nil).map(_.wallS).sum
      Json.obj(
        "run_id" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "round" -> s.round.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "wall_s" -> Json.num(s.wallS),
        "self_s" -> Json.num(self), "jobs" -> s.jobs.toString, "tasks" -> s.tasks.toString,
        "cpu_s" -> Json.num(s.cpuNs / 1e9), "shuffle_bytes" -> s.shuffleBytes.toString,
        "input_bytes" -> s.inputBytes.toString, "spill_bytes" -> s.spillBytes.toString,
        "plan_s" -> Json.num(s.planMs / 1e3), "live_rdds" -> s.liveRdds.toString)
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Per-name summary: `<name>.<counter>` -> value. Each counter is
    * summed over the calls of that name in a round (times and counters
    * include descendants, except `self_s`), then the median is taken
    * over rounds; `live_rdds` is the largest count seen after a call. */
  def summary(): Map[String, Double] = {
    drain()
    val kids = children
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def self(s: Span) = s.wallS - kids.getOrElse(s.id, Nil).map(_.wallS).sum
    spans.toSeq.groupBy(_.name).toSeq.flatMap { case (name, calls) =>
      val rounds = calls.groupBy(_.round).values.toSeq
      def perRound(f: Span => Double) = Stats.median(rounds.map(_.map(f).sum))
      def incl(f: Span => Long) = perRound(s => subtree(s).map(f).sum.toDouble)
      Seq(
        "wall_s" -> perRound(_.wallS),
        "self_s" -> perRound(self),
        "jobs" -> incl(_.jobs),
        "tasks" -> incl(_.tasks),
        "cpu_s" -> incl(_.cpuNs) / 1e9,
        "shuffle_bytes" -> incl(_.shuffleBytes),
        "input_bytes" -> incl(_.inputBytes),
        "spill_bytes" -> incl(_.spillBytes),
        "plan_s" -> incl(_.planMs) / 1e3,
        "live_rdds" -> calls.map(_.liveRdds).max.toDouble
      ).map { case (k, v) => s"$name.$k" -> v }
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Just enough JSON for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
