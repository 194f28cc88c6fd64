package perfbench

import scala.collection.mutable

import graft.profiler.{Analyzers, Profiler, ProfilingBuilder, TypeMapping}
import graft.quality.Quality
import graft.repository.ParquetRepository
import graft.service.Service
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Shape of a monitored dataset: `histDays` days of history, then
  * `newDays` new days, `rowsPerDay` rows a day. Columns are `numeric`
  * numbers (x2 is a whole number, x1 has gaps) and `strings` strings
  * drawn from `vocab` values. The last new day carries the planted
  * anomaly: x0 triples, so its Mean must be flagged. */
final case class MonitorShape(
    histDays: Int,
    newDays: Int,
    rowsPerDay: Int,
    numeric: Int,
    strings: Int,
    vocab: Int
) {
  def days: Int = histDays + newDays
  def anomalyDay: Int = days - 1
  def isLong(j: Int): Boolean = j == 2

  def schema: StructType = StructType(
    StructField("ts", TimestampType) +:
      ((0 until numeric).map(j => StructField(s"x$j", if (isLong(j)) LongType else DoubleType)) ++
        (0 until strings).map(k => StructField(s"s$k", StringType))))

  private val day0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  def dayTs(day: Int): java.sql.Timestamp = new java.sql.Timestamp((day0 + day * 86400L) * 1000)

  /** Value of numeric column j in a row; None is a gap. */
  def num(seed: Long, day: Int, row: Int, j: Int): Option[Double] =
    if (j == 1 && Gen.unif(seed, day, row, 1000 + j) < 0.05) None
    else {
      val base = 50.0 + 10 * j
      val level = base * (1 + 0.1 * math.sin(2 * math.Pi * (day % 7) / 7 + j)) * (1 + 0.001 * day)
      val v = level + 0.2 * base * Gen.gauss(seed, day, row, j)
      val planted = if (j == 0 && day == anomalyDay) 3 * v else v
      Some(if (isLong(j)) math.round(planted).toDouble else planted)
    }

  def str(seed: Long, day: Int, row: Int, k: Int): Option[String] =
    if (k == 0 && Gen.unif(seed, day, row, 2000 + k) < 0.02) None
    else Some("v" + Gen.below(vocab, seed, day, row, 100 + k))

  def row(seed: Long, day: Int, r: Int): Row = Row.fromSeq(
    new java.sql.Timestamp(dayTs(day).getTime + (r % 86400) * 1000L) +:
      ((0 until numeric).map { j =>
        num(seed, day, r, j).map[Any](v => if (isLong(j)) v.toLong else v).orNull
      } ++ (0 until strings).map(k => str(seed, day, r, k).orNull)))
}

/** The thoth monitoring loop: backfill a dataset's history with
  * `Service.profileCreateOptimize`, then assess each new day with
  * `Service.assessNewTs`, against a `ParquetRepository`. */
final class Monitor(shape: MonitorShape) extends Workload {
  final case class Input(seed: Long, history: String, newDays: Seq[String])

  val name = "monitor"

  val layerMetrics: Seq[String] = {
    import Workload.metrics
    metrics("profiler.profile", "wall_s", "cpu_s", "spill_bytes", "plan_s") ++
      Seq("quantiles", "moments", "distinct").flatMap(f => metrics(s"profiler.$f", "wall_s")) ++
      metrics("repository.write", "wall_s") ++ metrics("repository.read", "wall_s", "jobs") ++
      Seq("repository.files") ++
      metrics("anomaly.optimize", "wall_s", "cpu_s", "shuffle_bytes", "plan_s") ++
      metrics("anomaly.score", "wall_s", "plan_s") ++ metrics("quality.assess", "wall_s") ++
      metrics("service.profileCreateOptimize", "wall_s") ++ metrics("service.assessNewTs", "jobs", "self_s")
  }

  private val uri = "bench://monitor"

  def stage(spark: SparkSession, seed: Long, dir: String): Input = {
    val shape = this.shape // the task closures capture the shape, not the workload
    def write(days: Range, path: String): Unit = {
      val n = days.length.toLong * shape.rowsPerDay
      val rows = spark.sparkContext
        .range(0L, n, 1L, math.max(1, math.min(8, (n / 20000).toInt)))
        .map(i => shape.row(seed, days.start + (i / shape.rowsPerDay).toInt, (i % shape.rowsPerDay).toInt))
      spark.createDataFrame(rows, shape.schema).write.mode("overwrite").parquet(path)
    }
    write(0 until shape.histDays, s"$dir/history")
    val news = (0 until shape.newDays).map { k =>
      val p = s"$dir/day-$k"
      write(shape.histDays + k to shape.histDays + k, p)
      p
    }
    Input(seed, s"$dir/history", news)
  }

  private def family(mapping: TypeMapping) = new ProfilingBuilder(Seq(mapping), datasetAnalyzers = Nil)
  private val families = Seq(
    "profiler.quantiles" -> family(TypeMapping(_.isInstanceOf[NumericType], Analyzers.Quantiles(Seq(0.25, 0.5, 0.75)))),
    "profiler.moments" -> family(TypeMapping(_.isInstanceOf[NumericType], Seq(Analyzers.Mean, Analyzers.StandardDeviation))),
    "profiler.distinct" -> family(TypeMapping(_.isInstanceOf[StringType], Seq(Analyzers.CountDistinct)))
  )

  def round(ops: Ops, in: Input, dir: String): RoundOutcome = {
    val spark = ops.spark
    val stored = new ParquetRepository(spark, s"$dir/repo")
    val repo = if (Trace.enabled) new TracingRepository(stored) else stored
    val history = spark.read.parquet(in.history)
    families.foreach { case (probe, builder) =>
      ops.probe(probe)(Util.noop(Profiler.profile(history, "ts", builder)))
    }
    val backfilled = ops.call("service.profileCreateOptimize")(
      Service.profileCreateOptimize(history, uri, "ts", repo))
    val assessed = in.newDays.map { day =>
      // the returned assessment carries the alerts; no notification handler
      val a = ops.call("service.assessNewTs", step = true)(
        Service.assessNewTs(spark.read.parquet(day), uri, "ts", repo, handlers = Nil))
      for (done <- a if Trace.enabled) {
        val scoring = Trace.hold(stored.getScoring(uri).where(col("ts") === done.ts))
        val optimization = Trace.hold(stored.getOptimization(uri))
        ops.probe("quality.assess")(
          Util.noop(Quality.assess(scoring, optimization, Service.seriesCols)))
      }
      a
    }
    if (backfilled.isDefined && assessed.forall(_.isDefined)) check(stored, in, assessed.flatten)
    RoundOutcome(
      Util.bytesUnder(s"$dir/repo"),
      Map("repository.files" -> Util.files(s"$dir/repo").length.toDouble))
  }

  /** Recomputes every stored metric, and the trailing-mean scores, from
    * the generated rows, without Spark. */
  private def check(repo: ParquetRepository, in: Input, assessed: Seq[Service.Assessment]): Unit = {
    val daysDone = shape.histDays + assessed.length
    val expected = MonitorCheck.expectedMetrics(shape, in.seed, daysDone)
    val rows = repo.getProfiling(uri).collect().map { r =>
      (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[String]("entity"), r.getAs[String]("instance"),
        r.getAs[String]("name")) -> Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue)
    }
    val stored = rows.toMap
    Check(rows.length == expected.size && stored.size == expected.size,
      s"$name: ${rows.length} stored metric rows, ${stored.size} distinct, expected ${expected.size}")
    expected.foreach { case (key, want) =>
      val got = stored.getOrElse(key, throw new CheckFailed(s"$name: metric $key missing"))
      Check(got.isDefined == want.isDefined, s"$name: metric $key is $got, expected $want")
      got.foreach(g => Check.close(g, want.get, 1e-9, s"$name: metric $key"))
    }
    // newest-point APE of every series whose best model is a trailing mean
    val optimized = repo.getOptimization(uri).collect().map { r =>
      (r.getAs[String]("entity"), r.getAs[String]("instance"), r.getAs[String]("name")) ->
        Option(r.getAs[String]("best_model"))
    }
    val best = optimized.toMap
    Check(best.size == optimized.length, s"$name: ${optimized.length} optimization rows for ${best.size} series")
    val series = expected.groupBy { case ((_, e, i, n), _) => (e, i, n) }
      .map { case (k, pts) => k -> pts.toSeq.sortBy(_._1._1).map(_._2) }
    val scores = repo.getScoring(uri).collect()
    val scored = scores.map(r =>
      (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[String]("entity"), r.getAs[String]("instance"),
        r.getAs[String]("name"))).distinct
    Check(scored.length == scores.length, s"$name: ${scores.length} score rows for ${scored.length} distinct points")
    var checked = 0
    scores.foreach { r =>
      val key = (r.getAs[String]("entity"), r.getAs[String]("instance"), r.getAs[String]("name"))
      val day = ((r.getAs[java.sql.Timestamp]("ts").getTime - shape.dayTs(0).getTime) / 86400000L).toInt
      best.get(key).flatten.filter(_.startsWith("TrailingMean-")).foreach { model =>
        val w = model.stripPrefix("TrailingMean-").toInt
        val pts = series(key)
        val prior = pts.slice(day - w, day)
        val predicted =
          if (day < w || prior.exists(_.isEmpty)) None else Some(prior.map(_.get).sum / w)
        val v = pts(day)
        val ape = for (x <- v; p <- predicted if math.abs(x) >= 1e-4)
          yield math.min(math.abs(x - p) / math.abs(x), 1.0)
        val got = Option(r.getAs[java.lang.Double]("score")).map(_.doubleValue)
        Check(got.isDefined == ape.isDefined, s"$name: score of $key at day $day is $got, expected $ape")
        got.foreach(g => Check.close(g, ape.get, 1e-6, s"$name: score of $key at day $day"))
        checked += 1
      }
    }
    Check(checked > 0, s"$name: no series has a trailing-mean best model, so no score was checked")
    System.err.println(s"[perfbench] $name: ${expected.size} metric values and $checked trailing-mean scores match")
    // the planted anomaly is flagged on its day, on its metric
    if (assessed.length == shape.newDays) {
      val planted = assessed.last
      Check(planted.ts.getTime == shape.dayTs(shape.anomalyDay).getTime,
        s"$name: the last assessment is for ${planted.ts}, not the planted day")
      Check(planted.anomalous.exists(a => a.entity == "Column" && a.instance == "x0" && a.name == "Mean"),
        s"$name: planted anomaly on x0 Mean not flagged; alerts: ${planted.anomalous}")
    }
  }
}

object MonitorCheck {
  type Key = (Long, String, String, String)

  /** Spark's exact `percentile`: linear interpolation at (n - 1) * q. */
  def percentile(sorted: Array[Double], q: Double): Double = {
    val pos = (sorted.length - 1) * q
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val a = sorted(lo.toInt)
    val b = sorted(hi.toInt)
    if (hi == lo || a == b) a else (hi - pos) * a + (pos - lo) * b
  }

  /** Every metric the default profiling builder stores, for days
    * [0, days), computed from the generated rows. */
  def expectedMetrics(shape: MonitorShape, seed: Long, days: Int): Map[Key, Option[Double]] = {
    val out = mutable.Map.empty[Key, Option[Double]]
    val n = shape.rowsPerDay
    for (day <- 0 until days) {
      val ts = shape.dayTs(day).getTime
      def put(e: String, i: String, m: String, v: Option[Double]): Unit = out((ts, e, i, m)) = v
      put("Dataset", "*", "Size", Some(n.toDouble))
      for (j <- 0 until shape.numeric) {
        val c = s"x$j"
        val xs = (0 until n).flatMap(r => shape.num(seed, day, r, j)).toArray
        put("Column", c, "Completeness", Some(xs.length.toDouble / n))
        val mean = if (xs.isEmpty) None else Some(xs.sum / xs.length)
        put("Column", c, "Mean", mean)
        put("Column", c, "StandardDeviation",
          if (xs.length < 2) None
          else Some(math.sqrt(xs.map(x => (x - mean.get) * (x - mean.get)).sum / (xs.length - 1))))
        val sorted = xs.sorted
        for (q <- Seq(0.25, 0.5, 0.75))
          put("Column", c, s"Quantile-$q", if (sorted.isEmpty) None else Some(percentile(sorted, q)))
      }
      for (k <- 0 until shape.strings) {
        val c = s"s$k"
        val ss = (0 until n).flatMap(r => shape.str(seed, day, r, k))
        put("Column", c, "Completeness", Some(ss.length.toDouble / n))
        put("Column", c, "CountDistinct", Some(ss.distinct.length.toDouble))
      }
    }
    out.toMap
  }
}
