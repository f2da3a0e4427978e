package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.schema.Field
import graft.sinks.{Storage, Warehouse}
import graft.sources.DataExportSource

/** One timed interval at a layer boundary. `op` is the shared id of the
  * bundle or query the span belongs to; `parent` is the enclosing span. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run. The innermost open span is
  * published as a Spark local property, so every job the driver thread
  * submits carries the id of the span that caused it. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var op = ""

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), op, name,
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Task metrics of one Spark job, summed over its tasks. */
final class JobStats(val id: Int, val span: Int, val callSite: String,
                     val startMs: Long) {
  var endMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var scanTasks = 0
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Attributes every job's task metrics to the span that was innermost when
  * the job started. Task durations are kept per stage for the skew ratio. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobStats]()
  private val byStage = scala.collection.mutable.Map[Int, JobStats]()
  val stageTaskMs = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .fold(-1)(_.toInt)
    // a job's stages are named by its short call site, e.g.
    // "csv at CsvStage.scala:37"
    val site = e.stageInfos.headOption.map(_.name).getOrElse("")
    val j = new JobStats(e.jobId, span, site, e.time)
    jobs += j
    e.stageIds.foreach(s => byStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    byStage.get(e.stageId).filter(_ => m != null).foreach { j =>
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.recordsRead += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) j.scanTasks += 1
      j.bytesWritten += m.outputMetrics.bytesWritten
      stageTaskMs.getOrElseUpdate((j.id, e.stageId), ArrayBuffer()) +=
        e.taskInfo.duration
    }
  }

  /** max ÷ median task time of the stage with the most task time among
    * `js`; 1 when no stage ran more than one task. */
  def skew(js: Iterable[JobStats]): Double = synchronized {
    val ids = js.map(_.id).toSet
    val stages = stageTaskMs.filter { case ((j, _), ts) => ids(j) && ts.size > 1 }
    if (stages.isEmpty) 1.0
    else {
      val ts = stages.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
  }
}

/** Timing decorators around the program's layer interfaces, in the style
  * of the program's own `TimeoutStorage`: each call runs inside a span. */
final class TracedSource(inner: DataExportSource, t: Tracer)
    extends DataExportSource {
  override def createExport(start: Instant, end: Instant, fields: Seq[String]): String =
    t("sources.create")(inner.createExport(start, end, fields))
  override def getExportProgress(id: String): (Int, Option[String]) =
    t("sources.poll")(inner.getExportProgress(id))
  override def getExport(id: String): DataFrame =
    t("sources.fetch")(inner.getExport(id))
}

final class TracedWarehouse(inner: Warehouse, t: Tracer) extends Warehouse {
  override def initExportTable(schema: Seq[Field]): Boolean =
    t("schema.init")(inner.initExportTable(schema))
  override def getExportTableColumns(): Seq[String] =
    t("schema.columns")(inner.getExportTableColumns())
  override def applyExportSchema(schema: Seq[Field]): Unit =
    t("schema.apply")(inner.applyExportSchema(schema))
  override def loadToWarehouse(ref: String, start: Instant, truncateDay: Boolean): Unit =
    t("sinks.load")(inner.loadToWarehouse(ref, start, truncateDay))
  override def lastSyncPoint(): Option[Instant] =
    t("sinks.sync_read")(inner.lastSyncPoint())
  override def saveSyncPoint(end: Instant): Unit =
    t("sinks.sync_write")(inner.saveSyncPoint(end))
  override def removeOrphanedRecords(syncPoint: Instant): Unit =
    t("sinks.recover")(inner.removeOrphanedRecords(syncPoint))
}

final class TracedStorage(inner: Storage, t: Tracer) extends Storage {
  override def saveContent(name: String, content: String): String =
    t("sinks.storage_save")(inner.saveContent(name, content))
  override def readContent(name: String): Option[String] =
    t("sinks.storage_read")(inner.readContent(name))
  override def deleteFile(name: String): Unit =
    t("sinks.stage_delete")(inner.deleteFile(name))
  override def exists(name: String): Boolean =
    t("sinks.storage_exists")(inner.exists(name))
  override def getFileReference(name: String): String =
    inner.getFileReference(name)
}

object Trace {
  /** Writes spans and job totals as JSON lines. */
  def write(path: String, spans: Seq[Span], jobs: Seq[JobStats]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach(s => w.println(
        s"""{"span":${s.id},"parent":${s.parent},"op":"${s.op}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
      jobs.foreach(j => w.println(
        s"""{"job":${j.id},"span":${j.span},"call_site":"${j.callSite.replace("\"", "'")}",""" +
        s""""wall_s":${j.wallS},"tasks":${j.tasks},"cpu_s":${j.cpuNs / 1e9},""" +
        s""""gc_s":${j.gcMs / 1e3},"shuffle_bytes":${j.shuffleBytes},""" +
        s""""spill_bytes":${j.spillBytes},"records_read":${j.recordsRead},""" +
        s""""bytes_written":${j.bytesWritten}}"""))
    } finally w.close()
  }
}

/** Engine totals over a set of jobs, per operation (bundle or pass). */
object Spark {
  def layers(jobs: Seq[JobStats], listener: JobListener, wallS: Double,
             ops: Int, cores: Int): Map[String, Double] = {
    val cpu = jobs.map(_.cpuNs).sum / 1e9
    Map(
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble / ops,
      "spark.executor_cpu_s" -> cpu / ops,
      "spark.cpu_util" -> cpu / math.max(1e-9, wallS * cores),
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3 / ops,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble / ops,
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble / ops,
      "spark.task_skew" -> listener.skew(jobs))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Least-squares slope of `ys` against their index. */
  def slope(xs: Iterable[Double]): Double = {
    val ys = xs.toIndexedSeq
    val n = ys.size
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      ys.indices.map(i => (i - mx) * (ys(i) - my)).sum /
        ys.indices.map(i => (i - mx) * (i - mx)).sum
    }
  }
}
