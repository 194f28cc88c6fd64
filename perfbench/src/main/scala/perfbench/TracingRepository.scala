package perfbench

import graft.core.DatasetMeta
import graft.repository.MetricsRepository
import org.apache.spark.sql.DataFrame

/** Delegating repository for the traced run, so that the calls `Service`
  * makes into the repository show up as child spans.
  *
  * A read is materialized inside its `repository.read` span; the caller
  * then works on the materialized rows, so the merge-on-read cost is not
  * charged to the layer that consumes them. The rows handed to a write
  * are Service's lazy result of the layer before it, so they are
  * materialized first in a span named after that layer
  * (`profiler.profile`, `anomaly.optimize`, `anomaly.score`), and the
  * `repository.write` span holds the write alone.
  */
final class TracingRepository(inner: MetricsRepository) extends MetricsRepository {
  private def read[T](body: => T): T = Trace.span("repository.read")(body)
  private def readRows(body: => DataFrame): DataFrame = read(Trace.hold(body))
  private def write(producer: String, rows: DataFrame)(store: DataFrame => Unit): Unit = {
    val held = Trace.span(producer)(Trace.hold(rows))
    Trace.span("repository.write")(store(held))
  }

  def registerDataset(meta: DatasetMeta): Unit =
    Trace.span("repository.write")(inner.registerDataset(meta))
  def getDataset(uri: String): Option[DatasetMeta] = read(inner.getDataset(uri))
  def listDatasets(): Seq[DatasetMeta] = read(inner.listDatasets())

  def addProfiling(uri: String, rows: DataFrame): Unit =
    write("profiler.profile", rows)(inner.addProfiling(uri, _))
  def getProfiling(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = readRows(inner.getProfiling(uri, start, end))

  def addOptimization(uri: String, rows: DataFrame): Unit =
    write("anomaly.optimize", rows)(inner.addOptimization(uri, _))
  def getOptimization(uri: String): DataFrame = readRows(inner.getOptimization(uri))

  def addScoring(uri: String, rows: DataFrame): Unit =
    write("anomaly.score", rows)(inner.addScoring(uri, _))
  def getScoring(
      uri: String,
      start: Option[java.sql.Timestamp],
      end: Option[java.sql.Timestamp]
  ): DataFrame = readRows(inner.getScoring(uri, start, end))
}
