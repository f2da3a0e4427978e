package perfbench

import java.io.File
import java.time.{Duration, Instant}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.schema.ExportSchema
import graft.service.{BundleProcessed, ExportService, ServiceConfig, WaitFor}
import graft.sinks.{CsvStage, HadoopStorage, ParquetWarehouse}
import graft.sources.{HttpExportClient, HttpExportSource}
import graft.transform.ExportTransform

/** Shape of a catch-up: window length, windows per pass, and how many
  * earlier bundles the sync log already records when a pass starts. */
final case class EtlShape(hours: Int, windows: Int, history: Int)

/** A catch-up through `ExportService` against the stub API.
  *
  * A pass is one closed-loop catch-up from an empty warehouse over the
  * same fixed windows: one service, one export outstanding at a time,
  * `processNext` until the watermark gate says wait. Every pass does the
  * same work, so passes are comparable and a faster program does not get
  * a longer sync log to scan. Passes repeat until the run's time is up.
  *
  * The warehouse is empty but its sync log is not: it holds the sync
  * points of the `history` windows before the first one, one parquet file
  * each, as a deployment that has been running for a while has. */
final class Etl(spark: SparkSession, shape: EtlShape, windows: Seq[Window],
                work: File, cores: Int) {

  private val stub = new StubApi(windows.map(w => (w.start, w.end) -> w.gz).toMap)
  private val from = windows.head.start
  private val to = windows.last.end
  private val delay = Duration.ofHours(1)

  // CPU seconds (Host.cpuNs) of each recorded bundle and pass
  val bundleCpuS = ArrayBuffer[Double]()
  val passCpuS = ArrayBuffer[Double]()
  val passSetupS = ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()
  // stub traffic and rows of the traced passes
  private var tracedRequests, tracedBytes, tracedRows = 0L
  private var passes = 0
  private var lastPass: Option[(File, ParquetWarehouse)] = None

  // one file per earlier bundle, as ParquetWarehouse.saveSyncPoint appends;
  // written here, before the warm-up pass, so set-up time never includes it
  private val syncHistory: File = {
    import spark.implicits._
    val d = new File(work, "sync-history")
    val step = 3600L * shape.hours
    (0 until shape.history).map { i =>
      val end = java.sql.Timestamp.from(from.minusSeconds(step * i))
      (-1L, end, end)
    }.toDF("ID", "Processed", "BundleEndTime")
      .repartition(shape.history).write.parquet(d.getPath)
    d
  }

  private def newWarehouse(dir: File): ParquetWarehouse = {
    val sync = new File(dir, "table/_sync").toPath
    java.nio.file.Files.createDirectories(sync)
    syncHistory.listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, sync.resolve(f.getName)))
    new ParquetWarehouse(spark, new File(dir, "table").getPath)
  }

  /** One pass; returns its catch-up wall seconds. The pass's and each
    * bundle's CPU seconds are recorded when `record` is set. */
  def pass(tracer: Option[Tracer], record: Boolean): Double = {
    passes += 1
    val p = passes
    val dir = new File(work, s"pass-$p")
    dir.mkdirs()
    val wh = newWarehouse(dir)
    val (r0, b0) = (stub.requests, stub.bytesServed)
    val t0 = System.nanoTime()
    val client = new HttpExportClient(stub.url, "perfbench-token")
    val rawSource = new HttpExportSource(spark, client, new File(dir, "dl").getPath)
    val rawStorage = new HadoopStorage(new File(dir, "stage").getPath)
    val source = tracer.fold[graft.sources.DataExportSource](rawSource)(new TracedSource(rawSource, _))
    val storage = tracer.fold[graft.sinks.Storage](rawStorage)(new TracedStorage(rawStorage, _))
    val warehouse = tracer.fold[graft.sinks.Warehouse](wh)(new TracedWarehouse(wh, _))
    val cfg = ServiceConfig(startTime = from,
      exportDuration = Duration.ofHours(shape.hours), exportDelay = delay)
    val svc = new ExportService(spark, cfg, source, storage, Some(warehouse),
      pollInterval = Duration.ZERO, now = () => to.plus(delay))
    def traced[A](op: String, name: String)(body: => A): A = tracer match {
      case Some(t) => t.op = op; t(name)(body)
      case None => body
    }
    traced(s"p$p-setup", "service.setup") { svc.init(); svc.recover() }
    if (record) passSetupS += (System.nanoTime() - t0) / 1e9

    val start = System.nanoTime()
    val startCpu = Host.cpuNs()
    var b = 0
    var done = false
    var retries = 0
    while (!done) {
      val bc = Host.cpuNs()
      if (record) attempted += 1
      val step =
        try Some(traced(s"p$p-b$b", "service.process")(svc.processNext()))
        catch {
          case e: Exception =>
            if (record) failed += 1
            retries += 1
            if (retries > 3) throw e
            None
        }
      step match {
        case Some(r: BundleProcessed) =>
          if (record) bundleCpuS += (Host.cpuNs() - bc) / 1e9
          val w = windows(b)
          if (r.start != w.start || r.records != w.rows)
            problems += s"pass $p bundle ${r.start}: ${r.records} records, expected ${w.rows} for ${w.start}"
          b += 1
        case Some(WaitFor(_)) =>
          if (record) attempted -= 1 // the gate check is not a bundle
          done = true
        case None => ()
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    if (record) passCpuS += (Host.cpuNs() - startCpu) / 1e9
    if (b != windows.size) problems += s"pass $p processed $b of ${windows.size} windows"
    if (tracer.isDefined) {
      tracedRequests += stub.requests - r0
      tracedBytes += stub.bytesServed - b0
      tracedRows += rows
    }
    lastPass.foreach { case (d, _) => deleteTree(d) }
    lastPass = Some((dir, wh))
    wall
  }

  def rows: Long = windows.map(_.rows).sum

  /** Output checks on the last pass: rows per day partition, an
    * order-independent hash of the table against the expected staged rows,
    * and the final sync point. */
  def check(): Unit = lastPass.foreach { case (_, wh) =>
    val fields = ExportSchema.canonical(includeMobile = false).map(_.dbName)
    val table = wh.readTable()
    val perDay = table.groupBy(col("day").cast("string")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedDays = windows.groupBy(w => w.start.toString.take(10))
      .map { case (d, ws) => d -> ws.map(_.rows).sum }
    if (perDay != expectedDays.filter(_._2 > 0))
      problems += s"rows per day $perDay, expected $expectedDays"
    def digest(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)), sum(xxhash64(c).cast("decimal(38,0)")))
        .collect()(0).toSeq.map(String.valueOf)
    import spark.implicits._
    val got = digest(table, concat_ws(Generator.Sep, fields.map(col): _*))
    val want = digest(windows.flatMap(_.expectedRows).toDF("r"), col("r"))
    if (got != want) problems += s"table digest $got, expected $want"
    val sync = wh.lastSyncPoint()
    if (!sync.contains(to)) problems += s"sync point $sync, expected $to"
  }

  /** Per-row split on one larger bundle `w`, so per-row work outweighs
    * the fixed cost of a Spark job: decode alone, decode plus the
    * staged-string transform, and the full CSV stage, each into a sink that
    * does no further work and each the median of three. Returns seconds
    * per thousand rows for (decode, render, csv encode). */
  def probe(w: Window): (Double, Double, Double) = {
    val dir = new File(work, "probe")
    dir.mkdirs()
    val storage = new HadoopStorage(new File(dir, "stage").getPath)
    val schema = ExportSchema.canonical(includeMobile = false)
    def med(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
      ts.sorted.apply(1)
    }
    val f = new File(dir, "bundle.json.gz")
    java.nio.file.Files.write(f.toPath, w.gz)
    def raw = spark.read.format("graft-export").load(f.getPath)
    val a = med(raw.write.format("noop").mode("overwrite").save())
    val b = med(ExportTransform.toStagedStrings(raw, schema)
      .write.format("noop").mode("overwrite").save())
    val c = med(CsvStage.writeBundleCsv(ExportTransform.toStagedStrings(raw, schema),
      storage, "bundle.csv"))
    val krows = w.rows / 1000.0
    deleteTree(dir)
    (a / krows, (b - a) / krows, (c - b) / krows)
  }

  def close(): Unit = {
    stub.stop()
    lastPass.foreach { case (d, _) => deleteTree(d) }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Per-layer metrics from the traced passes' spans and jobs. */
  def layers(t: Tracer, listener: JobListener): Map[String, Double] = {
    val jobs = listener.jobs.toSeq
    val bundles = t.spans.filter(s => s.name == "service.process" && s.op.contains("-b"))
      .filter(s => t.spans.exists(c => c.parent == s.id && c.name == "sources.fetch"))
    val n = bundles.size.max(1)
    val childrenOf = t.spans.groupBy(_.parent)
    def under(root: Span): Seq[Span] = {
      val kids = childrenOf.getOrElse(root.id, Nil).toSeq
      kids ++ kids.flatMap(under)
    }
    val jobsBySpan = jobs.groupBy(_.span)
    val bundleJobs = bundles.map { root =>
      (under(root).map(_.id) :+ root.id).flatMap(jobsBySpan.getOrElse(_, Nil))
    }
    val perBundle = bundles.zip(bundleJobs).map { case (root, js) =>
      val spans = under(root)
      val atRoot = js.filter(_.span == root.id)
      val csv = atRoot.filter(_.callSite.contains("CsvStage"))
      // processNext's only other Spark action is the re-count; AQE runs its
      // stages from a pool thread, so their call site names no program frame
      val cnt = atRoot.filterNot(_.callSite.contains("CsvStage"))
      val syncIds = spans.filter(_.name == "sinks.sync_read").map(_.id).toSet
      def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      Map(
        "create" -> secs("sources.create"), "poll" -> secs("sources.poll"),
        "fetch" -> secs("sources.fetch"), "load" -> secs("sinks.load"),
        "sync_read" -> secs("sinks.sync_read"), "sync_write" -> secs("sinks.sync_write"),
        "stage_delete" -> secs("sinks.stage_delete"),
        "stage_write" -> csv.map(_.wallS).sum, "count" -> cnt.map(_.wallS).sum,
        "self" -> (root.seconds - spans.filter(_.parent == root.id).map(_.seconds).sum -
          csv.map(_.wallS).sum - cnt.map(_.wallS).sum),
        "jobs" -> js.size.toDouble,
        "decoded" -> (csv ++ cnt).map(_.recordsRead).sum.toDouble,
        "scan_tasks" -> csv.map(_.scanTasks).sum.toDouble,
        "sync_rows" -> js.filter(j => syncIds(j.span)).map(_.recordsRead).sum.toDouble,
        "written" -> js.map(_.bytesWritten).sum.toDouble,
        "wall" -> root.seconds)
    }
    def med(k: String) = Stats.median(perBundle.map(_(k)))
    def total(k: String) = perBundle.map(_(k)).sum
    // sync-read growth within a pass: later bundles against early ones
    val passes = perBundle.zip(bundles).groupBy(_._2.op.takeWhile(_ != '-')).values
    val growth = Stats.median(passes.map { pb =>
      val xs = pb.sortBy(_._2.startNs).map(_._1("sync_read"))
      val k = (xs.size / 10).max(1)
      xs.takeRight(k).sum / math.max(1e-9, xs.take(k).sum)
    }.toSeq)
    val slope = Stats.median(passes.map { pb =>
      Stats.slope(pb.sortBy(_._2.startNs).map(_._1("sync_rows")))
    }.toSeq)
    val allJobs = bundleJobs.flatten.toSeq
    Map(
      "sources.create_s" -> med("create"),
      "sources.poll_s" -> med("poll"),
      "sources.fetch_s" -> med("fetch"),
      "sources.http_requests_per_bundle" -> tracedRequests.toDouble / n,
      "sources.decoded_rows_per_loaded_row" -> total("decoded") / math.max(1L, tracedRows),
      "sources.scan_tasks_per_bundle" -> total("scan_tasks") / n,
      "sinks.stage_write_s" -> med("stage_write"),
      "sinks.load_s" -> med("load"),
      "sinks.bytes_written_per_input_byte" -> total("written") / math.max(1L, tracedBytes),
      "sinks.sync_read_s" -> med("sync_read"),
      "sinks.sync_read_growth" -> growth,
      "sinks.sync_rows_scanned_per_bundle" -> total("sync_rows") / n,
      "sinks.sync_rows_scanned_slope" -> slope,
      "sinks.sync_write_s" -> med("sync_write"),
      "sinks.stage_delete_s" -> med("stage_delete"),
      "service.jobs_per_bundle" -> total("jobs") / n,
      "service.count_s" -> med("count"),
      "service.self_s" -> med("self")) ++
      Spark.layers(allJobs, listener, perBundle.map(_("wall")).sum, n, cores)
  }
}
