package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed operator mix through `SparkEntry.queries`, one query at a time
  * on the driver thread. Each query's full result is written as parquet,
  * so the timed work is the whole answer, and the last pass's results are
  * what the oracle check reads. */
final class Ops(spark: SparkSession, sfDir: String, work: File, seed: Long) {
  import Ops.Mix

  private val mix = Mix.sorted
  private val rng = new scala.util.Random(seed)
  private val results = new File(work, "results")
  // CPU seconds (Host.cpuNs) of each recorded run of each query
  val queryCpuS = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L

  private def runQuery(q: String): Unit =
    SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite")
      .parquet(new File(results, q).getPath)

  /** One pass in a seeded order; returns its wall seconds. */
  def pass(tracer: Option[Tracer], record: Boolean): Double = {
    val order = rng.shuffle(mix)
    val t0 = System.nanoTime()
    order.foreach { q =>
      val qt = System.nanoTime()
      val qc = Host.cpuNs()
      if (record) attempted += 1
      try tracer match {
        case Some(t) => t.op = q; t(s"ops.$q")(runQuery(q))
        case None => runQuery(q)
      } catch {
        case e: Exception =>
          if (record) failed += 1
          System.err.println(s"[perfbench] $q failed: $e")
      }
      val dt = (System.nanoTime() - qt) / 1e9
      val cpu = (Host.cpuNs() - qc) / 1e9
      System.err.println(f"[perfbench] $q%-24s $dt%.2f s cpu $cpu%.2f s")
      if (record) queryCpuS.getOrElseUpdate(q, ArrayBuffer()) += cpu
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The median over the mix of each query's median CPU time, so it does
    * not depend on how many passes fit in the run. */
  def queryCpuP50: Double = Stats.median(queryCpuS.values.map(Stats.median))

  /** A typical pass: the sum of each query's median CPU time. With three or
    * four passes a run, one slow query in one pass moves this less than
    * it moves the median of the pass totals. */
  def passCpu: Double = queryCpuS.values.map(Stats.median).sum

  /** Oracle SQL of the mix, for the check that runs after the JVM exits. */
  def writeOracle(path: File): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    mix.foreach(q => o.put(q, SparkEntry.oracleSql(q)))
    m.writeValue(path, o)
  }

  /** Per-query metrics from the traced passes, whose walls are `passes`. */
  def layers(t: Tracer, listener: JobListener, passes: Seq[Double]): Map[String, Double] = {
    val jobs = listener.jobs.toSeq
    Spark.layers(jobs, listener, passes.sum, passes.size.max(1), Main.Cores) ++
    mix.flatMap { q =>
      val spans = t.spans.filter(_.name == s"ops.$q")
      val n = spans.size.max(1)
      val js = jobs.filter(j => spans.exists(_.id == j.span))
      Seq(
        s"ops.$q.wall_s" -> Stats.median(spans.map(_.seconds).toSeq),
        s"ops.$q.cpu_s" -> js.map(_.cpuNs).sum / 1e9 / n,
        s"ops.$q.jobs" -> js.size.toDouble / n,
        s"ops.$q.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble / n,
        s"ops.$q.spill_bytes" -> js.map(_.spillBytes).sum.toDouble / n,
        s"ops.$q.task_skew" -> listener.skew(js))
    }.toMap
  }
}

object Ops {
  /** The mix: MinHash LSH (Dedup) and an equi-depth histogram behind a
    * FanOut call site (Stats), two families the loop never touches. A pass
    * takes ~5 s on 2 cores, so three or more timed passes fit in a run
    * after three warm-up passes. Left out, because a run must fit its time:
    * q300 (3-4 s a pass; with it only two timed passes fit and the
    * per-query medians swung by a quarter from run to run), q286 (20-26 s a
    * pass on its own), q303 and q290 (8-11 s each), and q81 and q263, whose
    * DuckDB oracles take 90-120 s each. q107 is left out because its sf0.1
    * result differs from its oracle in the last digit of one rank, so every
    * run would fail its check. */
  val Mix: Seq[String] = Seq("q37_dedup_minhash_lsh", "q152_histogram")
}
