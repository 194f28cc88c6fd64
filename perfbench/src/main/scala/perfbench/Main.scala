package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.LocalSession

/** One run of one workload:
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir>
  * }}}
  * Set-up starts the session, generates and stages the seed's inputs
  * (three times; the median counts) and warms Spark up; it is reported
  * in process CPU seconds. Then whole
  * rounds of the flow run, each on fresh state, until `seconds` have
  * passed. The last line of standard output is one JSON object:
  * `correct`, `attempted`, `failed`, the metrics by name, and
  * `elsewhere`: the per-layer metrics only other workloads produce. A
  * traced run that misses one of its own per-layer metrics fails. It
  * also writes its spans and their per-layer summary under `--out`.
  */
object Main {
  val workloads: Seq[Workload] = Seq(
    new Monitor(MonitorShape(histDays = 90, newDays = 4, rowsPerDay = 500, numeric = 8, strings = 2, vocab = 100)),
    new Both("corpus-graph",
      new CorpusIncremental(CorpusShape(initial = 2000, daily = 800, days = 4)),
      new GraphAnn(GraphShape(nodes = 3000, links = 3, islands = 8, islandSize = 25, vectors = 6000,
        dim = 32, clusters = 16, queryBatches = 2, queries = 100)))
  )

  /** Per-layer metrics of the whole run, on every workload. */
  private val runLayerMetrics = Seq("spark.jobs", "spark.tasks", "jvm.gc_s", "jvm.peak_rss_mb")

  private val setupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = workloads.find(_.name == opt("workload")).getOrElse {
      System.err.println(s"unknown workload ${opt("workload")}; known: ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val tracing = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = LocalSession.create()
    val code =
      try {
        Trace.install(spark, tracing)
        val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
        // set-up is charged in process CPU seconds, like the rounds:
        // JVM start to session ready, one staging pass, the warm-up
        val sessionCpuS = Ops.processCpuS
        val staged = (0 until setupRepeats).map { i =>
          Util.timed(workload.stage(spark, seed, s"$work/input-$i"))
        }
        (0 until setupRepeats - 1).foreach(i => Util.delete(s"$work/input-$i"))
        val input = staged.last.value
        val warm = Util.timed(warmUp(spark, s"$work/warmup"))
        val setupS = sessionCpuS + Stats.median(staged.map(_.cpuS)) + warm.cpuS

        Trace.begin()
        val ops = new Ops(spark)
        val gc0 = gcSeconds
        val jobs0 = Trace.jobs
        val tasks0 = Trace.tasks
        val t0 = System.nanoTime()
        val rounds = Iterator.from(0).map { r =>
          Trace.round = r
          val dir = s"$work/round-$r"
          val outcome = workload.round(ops, input, dir)
          val (cost, steps) = ops.takeRound()
          Util.releaseAll(spark)
          Util.delete(dir)
          (outcome, cost, steps)
        }
        val done = collectRounds(rounds, t0, seconds)
        val n = done.length.toDouble
        Trace.drain()

        val metrics: Seq[(String, Double)] =
          if (!tracing)
            Seq(
              "setup_s" -> setupS,
              "round_cpu_s" -> Stats.median(done.map(_._2.cpuS)),
              "round_task_cpu_s" -> Stats.median(done.map(_._2.taskCpuS)),
              // a round's first step call also compiles the step's plans;
              // its cost stays in round_cpu_s
              "step_cpu_s" -> Stats.median(done.flatMap(_._3.drop(1)).map(_.cpuS)),
              "stored_bytes" -> Stats.median(done.map(_._1.storedBytes.toDouble)))
          else {
            val layerCounts = done.flatMap(_._1.layerCounts).groupBy(_._1)
              .map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }
            val summary = Trace.summary() ++ layerCounts ++ Seq(
              "spark.jobs" -> (Trace.jobs - jobs0) / n,
              "spark.tasks" -> (Trace.tasks - tasks0) / n,
              "jvm.gc_s" -> (gcSeconds - gc0) / n,
              "jvm.peak_rss_mb" -> peakRssMb)
            val dirOut = java.nio.file.Paths.get(out)
            java.nio.file.Files.createDirectories(dirOut)
            val stem = s"${workload.name}-seed$seed"
            Trace.writeSpans(dirOut.resolve(s"$stem.spans.jsonl"))
            java.nio.file.Files.write(dirOut.resolve(s"$stem.summary.json"),
              summary.toSeq.sorted.map { case (k, v) => s"  ${Json.str(k)}: ${Json.num(v)}" }
                .mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
            val missing = (workload.layerMetrics ++ runLayerMetrics).filterNot(summary.contains)
            Check(missing.isEmpty, s"traced run produced no ${missing.mkString(", ")}")
            summary.toSeq.sorted
          }
        // the per-layer metrics only other workloads produce: they read 0 here
        val elsewhere = workloads.filter(_ ne workload).flatMap(_.layerMetrics)
          .filterNot((workload.layerMetrics ++ runLayerMetrics).toSet).distinct
        System.err.println(f"[perfbench] ${workload.name}: ${done.length} rounds, round wall " +
          f"${Stats.median(done.map(_._2.wallS))}%.2f s, setup cpu ${setupS}%.2f s (wall: session " +
          f"$sessionS%.2f, staging ${Stats.median(staged.map(_.wallS))}%.2f, warm-up ${warm.wallS}%.2f)")
        println(Json.obj(
          "correct" -> "true",
          "attempted" -> ops.attempted.toString,
          "failed" -> ops.failed.toString,
          "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*),
          "elsewhere" -> elsewhere.map(Json.str).mkString("[", ", ", "]")))
        0
      } catch {
        case e: CheckFailed =>
          System.err.println(s"[perfbench] CHECK FAILED: ${e.getMessage}")
          1
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  /** Runs rounds until `seconds` have passed since `t0`; at least one. */
  private def collectRounds[T](rounds: Iterator[T], t0: Long, seconds: Double): Seq[T] = {
    val done = Seq.newBuilder[T]
    var elapsed = 0.0
    while (elapsed < seconds && rounds.hasNext) {
      done += rounds.next()
      elapsed = (System.nanoTime() - t0) / 1e9
    }
    done.result()
  }

  /** Warms Spark's own machinery (a parquet write and scan, an
    * aggregate, a window, a join), not the flow: a round is a cold
    * fresh-JVM pass of the flow, like a scheduled daily job. A warm-up
    * pass of the whole flow would cost as much as the round itself, and
    * the benchmark would no longer fit its time budget. */
  private def warmUp(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 20000, 1, 4).select(col("id"), (col("id") % 97).as("k"), rand(1).as("v"))
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val agg = back.groupBy("k").agg(avg("v").as("m"), percentile(col("v"), lit(0.5)).as("p"))
    Util.noop(back.join(agg, "k").withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id"))))
    Util.delete(dir)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident memory of this process (Linux `VmHWM`). */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
