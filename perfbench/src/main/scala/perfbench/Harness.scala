package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operation accounting for one run: every call into the program is one
  * operation. A call that throws is counted as failed and reports no
  * timing; its checks are skipped. */
final class Ops(val spark: SparkSession) {
  var attempted = 0L
  var failed = 0L
  private val steps = mutable.ArrayBuffer.empty[Ops.Cost]
  private var round = Ops.Cost(0, 0, 0)

  /** Times `body` as the call `name` (`layer.function`); a `step` is
    * the flow's repeated call on a small new input. */
  def call[T](name: String, step: Boolean = false)(body: => T): Option[T] = {
    attempted += 1
    Trace.drain()
    val k0 = Trace.taskCpuS
    val c0 = Ops.processCpuS
    val t0 = System.nanoTime()
    try {
      val r = Trace.span(name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = Ops.processCpuS - c0
      Trace.drain()
      val task = Trace.taskCpuS - k0
      val cost = Ops.Cost(dt, cpu, task)
      if (step) steps += cost
      round = round + cost
      System.err.println(
        f"[perfbench] $name%-40s ${dt}%8.3f s  cpu ${cpu}%8.3f s  live_rdds=${spark.sparkContext.getPersistentRDDs.size}")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $name FAILED: $e")
        e.printStackTrace()
        None
    }
  }

  /** A layer probe: a direct call into one layer, made only in the
    * traced run and kept out of the end-to-end timings. */
  def probe(name: String)(body: => Unit): Unit =
    if (Trace.enabled) {
      attempted += 1
      try Trace.span(name)(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] probe $name FAILED: $e")
      }
    }

  /** Cost of the timed calls since the last take, and of each step call
    * among them. */
  def takeRound(): (Ops.Cost, Seq[Ops.Cost]) = {
    val taken = (round, steps.toSeq)
    round = Ops.Cost(0, 0, 0)
    steps.clear()
    taken
  }
}

object Ops {
  /** Wall seconds, process CPU seconds and Spark task CPU seconds. */
  final case class Cost(wallS: Double, cpuS: Double, taskCpuS: Double) {
    def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS, taskCpuS + o.taskCpuS)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, all threads. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9
}

/** What a round hands back besides its timings. */
final case class RoundOutcome(storedBytes: Long, layerCounts: Map[String, Double] = Map.empty)

/** One benchmark workload: inputs made from a seed, and a round of
  * calls into the program, repeated for the length of the run. */
trait Workload {
  type Input

  def name: String

  /** The per-layer metrics its traced run must produce. */
  def layerMetrics: Seq[String]

  /** Generates the inputs for `seed` and stages them under `dir`. */
  def stage(spark: SparkSession, seed: Long, dir: String): Input

  /** Runs the whole flow once on fresh state under `dir`, then checks
    * its outputs; a failed check throws [[CheckFailed]]. */
  def round(ops: Ops, in: Input, dir: String): RoundOutcome
}

/** Two flows run one after the other in each round, on one set of
  * inputs each. */
final class Both(val name: String, val first: Workload, val second: Workload) extends Workload {
  type Input = (first.Input, second.Input)

  def layerMetrics: Seq[String] = first.layerMetrics ++ second.layerMetrics

  def stage(spark: SparkSession, seed: Long, dir: String): Input =
    (first.stage(spark, seed, s"$dir/${first.name}"), second.stage(spark, seed, s"$dir/${second.name}"))

  def round(ops: Ops, in: Input, dir: String): RoundOutcome = {
    val a = first.round(ops, in._1, s"$dir/${first.name}")
    val b = second.round(ops, in._2, s"$dir/${second.name}")
    RoundOutcome(a.storedBytes + b.storedBytes, a.layerCounts ++ b.layerCounts)
  }
}

object Workload {
  /** `<prefix>.<counter>` for each counter. */
  def metrics(prefix: String, counters: String*): Seq[String] = counters.map(c => s"$prefix.$c")
}

final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  /** `a` and `b` agree within `tol` times the larger of 1 and their size. */
  def close(a: Double, b: Double, tol: Double, what: => String): Unit =
    apply(
      (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b))),
      s"$what: $a vs $b")
}

object Util {
  /** Runs a DataFrame to Spark's no-op sink: all of the work, no output. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def bytesUnder(dir: String): Long = files(dir).map(_.length).sum

  /** Data files under `dir` (Spark's marker and checksum files excluded). */
  def files(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def delete(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
  }

  /** Releases every persistent RDD a round left behind, so that rounds
    * start alike. */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  final case class Timed[T](value: T, wallS: Double, cpuS: Double)

  /** Runs `body`; its wall seconds and the process's CPU seconds. */
  def timed[T](body: => T): Timed[T] = {
    val c0 = Ops.processCpuS
    val t0 = System.nanoTime()
    val r = body
    Timed(r, (System.nanoTime() - t0) / 1e9, Ops.processCpuS - c0)
  }
}
