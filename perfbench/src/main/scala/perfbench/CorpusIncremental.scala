package perfbench

import graft.dedup.Dedup
import graft.pipelines.{Corpus, Incremental}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** What a generated document is planted as, and the verdict the
  * funnel owes it. */
sealed abstract class DocKind(val reason: String)
object DocKind {
  case object Fresh extends DocKind("kept")
  case object Short extends DocKind("too_short")
  case object German extends DocKind("non_english")
  /** Exact copy of an earlier document of the same batch. */
  final case class DupSame(src: Int) extends DocKind("duplicate")
  /** Exact copy (up to case and punctuation) of an earlier day's document. */
  final case class DupPrior(batch: Int, src: Int) extends DocKind("duplicate_prior")
  /** An earlier day's document with two words replaced. */
  final case class NearPrior(batch: Int, src: Int) extends DocKind("near_duplicate_prior")
}

/** Daily document batches: batch 0 is the initial crawl, `initial`
  * documents; each later batch holds `daily` documents. */
final case class CorpusShape(initial: Int, daily: Int, days: Int) {
  import DocKind._

  def size(batch: Int): Int = if (batch == 0) initial else daily
  def id(batch: Int, i: Int): String = f"d$batch%02d-$i%06d"

  private val stop = Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with")
  private val german = Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "auf", "nicht")
  // seed-independent content vocabulary: 4-8 letter words that are no
  // language's stopword
  private val vocab: IndexedSeq[String] = {
    val reserved = graft.text.Text.stopwords.values.flatten.toSet
    Iterator.from(0).map { w =>
      val len = 4 + Gen.below(5, 7L, w)
      (0 until len).map(p => ('a' + Gen.below(26, 7L, w, p + 1)).toChar).mkString
    }.filterNot(reserved).take(5000).toIndexedSeq
  }

  /** Documents of this band are always fresh: the copies draw their
    * sources from it. */
  private def freshBand(seed: Long, batch: Int, i: Int) = Gen.unif(seed, batch, i, 1) >= 0.20

  private def source(seed: Long, batch: Int, i: Int, tag: Long, from: Long => (Int, Int)) =
    (0 until 16).iterator.map(t => from(Gen.hash(seed, batch, i, tag * 64 + t) >>> 1))
      .find { case (b, j) => freshBand(seed, b, j) }

  def kind(seed: Long, batch: Int, i: Int): DocKind = {
    val u = Gen.unif(seed, batch, i, 1)
    def earlierDay(r: Long) = { val b = (r % batch).toInt; (b, ((r >>> 20) % size(b)).toInt) }
    if (u < 0.02) Short
    else if (u < 0.05) German
    else if (u < 0.10)
      source(seed, batch, i, 2, r => (batch, (r % math.max(1, i)).toInt))
        .filter(_._2 < i).fold[DocKind](Fresh)(p => DupSame(p._2))
    else if (batch > 0 && u < 0.15)
      source(seed, batch, i, 3, earlierDay).fold[DocKind](Fresh)(p => DupPrior(p._1, p._2))
    else if (batch > 0 && u < 0.20)
      source(seed, batch, i, 4, earlierDay).fold[DocKind](Fresh)(p => NearPrior(p._1, p._2))
    else Fresh
  }

  private def words(seed: Long, batch: Int, i: Int, n: Int, stopShare: Double, stops: Seq[String]) =
    (0 until n).map { p =>
      if (Gen.unif(seed, batch, i, 100 + p) < stopShare) stops(Gen.below(stops.length, seed, batch, i, 5000 + p))
      else vocab(Gen.below(vocab.length, seed, batch, i, 10000 + p))
    }

  def text(seed: Long, batch: Int, i: Int): String = kind(seed, batch, i) match {
    case Fresh   => words(seed, batch, i, 60 + Gen.below(60, seed, batch, i, 2), 0.3, stop).mkString(" ")
    case Short   => words(seed, batch, i, 20, 0.3, stop).mkString(" ")
    case German  => (Seq("the", "of", "and") ++ words(seed, batch, i, 60, 0.4, german)).mkString(" ")
    case DupSame(j)     => text(seed, batch, j)
    case DupPrior(b, j) => text(seed, b, j).capitalize + "."
    case NearPrior(b, j) =>
      val ws = text(seed, b, j).split(" ")
      val n = ws.length
      Seq(n / 3, 2 * n / 3).foreach(p => ws(p) = vocab(Gen.below(vocab.length, seed, batch, i, 3 + p)))
      ws.mkString(" ")
  }

  def row(seed: Long, batch: Int, i: Int): Row = Row(id(batch, i), text(seed, batch, i))
}

/** The incremental corpus prepare: `Incremental.prepareBatch` with the
  * cross-batch near-duplicate stage over several daily batches, then the
  * read-back with `preparedCorpus` and a `compactState`. */
final class CorpusIncremental(shape: CorpusShape) extends Workload {
  final case class Input(seed: Long, batches: Seq[String])

  val name = "corpus-incremental"

  val layerMetrics: Seq[String] = {
    import Workload.metrics
    Seq("pipelines.prepareFunnel", "dedup.minhashSignatureTable", "dedup.crossMinhashPairsBetweenSigs",
      "pipelines.preparedCorpus", "pipelines.compactState").flatMap(metrics(_, "wall_s")) ++
      metrics("pipelines.prepareBatch", "wall_s", "jobs", "cpu_s", "shuffle_bytes", "live_rdds")
  }
  val nearDupThreshold = 0.7
  /** prepareBatch's default cap on prior documents per LSH bucket. */
  private val priorBucketCap = 4096
  /** Planted near-duplicates the cross-batch stage must catch at least. */
  val nearRecallFloor = 0.8
  private val schema = StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))

  def stage(spark: SparkSession, seed: Long, dir: String): Input = {
    val shape = this.shape // the task closures capture the shape, not the workload
    val paths = (0 until shape.days).map { b =>
      val rows = spark.sparkContext.range(0L, shape.size(b).toLong, 1L, 4).map(i => shape.row(seed, b, i.toInt))
      val p = s"$dir/batch-$b"
      spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(p)
      p
    }
    Input(seed, paths)
  }

  private def batchId(b: Int) = f"b$b%02d"

  def round(ops: Ops, in: Input, dir: String): RoundOutcome = {
    val spark = ops.spark
    val root = s"$dir/corpus"
    val prepared = in.batches.zipWithIndex.map { case (path, b) =>
      val docs = spark.read.parquet(path)
      if (b > 0) probes(ops, docs, root, b)
      // batch 0 is the initial crawl; the daily batches are the steps
      ops.call("pipelines.prepareBatch", step = b > 0)(
        Incremental.prepareBatch(docs, root, batchId(b), nearDupThreshold = Some(nearDupThreshold)))
    }
    val read = ops.call("pipelines.preparedCorpus")(Util.noop(Incremental.preparedCorpus(spark, root)))
    // counted apart from the timed read, for the check
    val readCount = read.map(_ => Incremental.preparedCorpus(spark, root).count())
    ops.call("pipelines.compactState")(Incremental.compactState(spark, root))
    if (prepared.forall(_.contains(true))) check(spark, in, root, readCount)
    RoundOutcome(Util.bytesUnder(root))
  }

  /** Direct calls into the funnel and the two dedup kernels on a daily
    * batch, before the batch itself is prepared. */
  private def probes(ops: Ops, docs: org.apache.spark.sql.DataFrame, root: String, b: Int): Unit =
    if (Trace.enabled) {
      val spark = ops.spark
      ops.probe("pipelines.prepareFunnel")(Util.noop(Corpus.prepareFunnel(docs, keepFpCol = Some("fp"))))
      ops.probe("dedup.minhashSignatureTable")(
        Util.noop(Dedup.minhashSignatureTable(docs, "text", "doc_id")))
      val prior = spark.read.parquet((0 until b).map(p => s"$root/signatures/batch=${batchId(p)}"): _*)
      val sigs = Trace.hold(Dedup.minhashSignatureTable(docs, "text", "doc_id"))
      ops.probe("dedup.crossMinhashPairsBetweenSigs")(
        Util.noop(Dedup.crossMinhashPairsBetweenSigs(prior, sigs, threshold = nearDupThreshold,
          leftBucketCap = priorBucketCap)))
    }

  private def check(spark: SparkSession, in: Input, root: String, readCount: Option[Long]): Unit = {
    var kept = 0L
    var near = 0
    var nearCaught = 0
    (0 until shape.days).foreach { b =>
      val rows = spark.read.parquet(s"$root/batches/batch=${batchId(b)}")
        .select(col("doc_id"), col("drop_reason"), col("kept")).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2)))
      val n = shape.size(b)
      val reasons = rows.groupBy(_._2._1).map { case (k, v) => k -> v.length }
      Check(reasons.values.sum == n,
        s"corpus: batch $b drop reasons $reasons sum to ${reasons.values.sum}, input has $n")
      val out = rows.toMap
      Check(out.size == n, s"corpus: batch $b has ${rows.length} rows for ${out.size} distinct documents of $n")
      kept += rows.count(_._2._2)
      (0 until n).foreach { i =>
        val (reason, isKept) = out(shape.id(b, i))
        shape.kind(in.seed, b, i) match {
          case k @ (DocKind.Short | DocKind.German | DocKind.DupSame(_)) =>
            Check(reason == k.reason, s"corpus: ${shape.id(b, i)} planted as $k dropped as $reason")
          case k: DocKind.DupPrior =>
            Check(!isKept, s"corpus: cross-day copy ${shape.id(b, i)} of $k kept")
          case _: DocKind.NearPrior =>
            near += 1
            if (reason == "near_duplicate_prior") nearCaught += 1
          case DocKind.Fresh => ()
        }
      }
    }
    val recall = if (near == 0) 1.0 else nearCaught.toDouble / near
    Check(recall >= nearRecallFloor, s"corpus: near-duplicate recall $recall below $nearRecallFloor")
    readCount.foreach(c => Check(c == kept, s"corpus: read back $c documents, batches kept $kept"))
    System.err.println(f"[perfbench] corpus: $kept kept, near-duplicate recall $recall%.3f ($nearCaught/$near)")
  }
}
