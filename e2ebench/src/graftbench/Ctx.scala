package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run shares between its workload and the harness: the
  * session, the trace, the run's directories, and the tallies that
  * become the result line. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val seconds: Int, val workDir: Path, val cores: Int,
    fnLog: Option[LogCounter]) {

  /** (metric name → (value, unit)) for the result line. */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  var attempted = 0L
  var failed = 0L

  /** One output check: counts as attempted, and as failed unless `ok`. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[check] FAIL $name ${detail}")
    } else System.err.println(s"[check] ok   $name")
  }

  /** One measured operation (a pass or a request): exceptions count as
    * failures and do not stop the run. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[op] FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  // ------------------------------------------------------ measured window

  /** Runs `op(i)` back to back while the next operation (as long as
    * the last one) still fits in `seconds`, and until each of the
    * `lanes` lanes has had at least `minOps` attempts (failed ones
    * count, so a failing program still ends its window). Operations
    * come in blocks of `block`: the loop stops on a block boundary,
    * lanes take turns block by block, and `between()` and a heap
    * checkpoint follow each block, outside the timed operations. `op`
    * returns the kind and wall seconds of what it did, or None if it
    * failed; `around(i)` wraps each call. Returns samples per lane. */
  private def loop(minOps: Int, block: Int, lanes: Int, between: () => Unit)(
      around: Long => (=> Unit) => Unit)(
      op: Long => Option[(String, Double)]): IndexedSeq[Seq[(String, Double)]] = {
    val out = IndexedSeq.fill(lanes)(mutable.ArrayBuffer.empty[(String, Double)])
    val tried = Array.fill(lanes)(0)
    val end = System.nanoTime() + seconds * 1000000000L
    var i = 0L
    var lastNs = 0L
    while (tried.exists(_ < minOps) || System.nanoTime() + lastNs < end || i % block != 0) {
      val lane = (i / block % lanes).toInt
      val t0 = System.nanoTime()
      around(i)(op(i).foreach { r =>
        out(lane) += r
        System.err.println(f"[op] $i%d ${r._1} ${r._2}%.3f s")
      })
      lastNs = System.nanoTime() - t0
      tried(lane) += 1
      i += 1
      if (i % block == 0) {
        between()
        heapCheckpoint()
      }
    }
    out.map(_.toSeq)
  }

  /** The measured window: `op` runs back to back for `seconds`.
    * Traced runs alternate blocks untraced and with the listeners
    * attached; the layer metrics are means over
    * the traced operations, and the difference of the two lanes'
    * medians is the tracing overhead. Returns the samples that count
    * (all of them untraced; the traced lane when tracing). */
  def window(minOps: Int, block: Int, between: () => Unit = () => ())(
      op: Long => Option[(String, Double)]): Seq[(String, Double)] = {
    if (!trace.enabled) return loop(minOps, block, 1, between)(_ => f => f)(op).head
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    var gcMs, fnCount, codegenN = 0L
    var codegenMs, wallS = 0.0
    val lanes = loop(minOps, block, 2, between) { i => f =>
      if (i / block % 2 == 0) f
      else {
        trace.attach()
        val (g0, fn0, cn0, cm0) = (gcMillis, fnLog.map(_.count.get).getOrElse(0L),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
        val t0 = System.nanoTime()
        f
        wallS += (System.nanoTime() - t0) / 1e9
        gcMs += gcMillis - g0
        fnCount += fnLog.map(_.count.get).getOrElse(0L) - fn0
        codegenN += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0
        codegenMs += CodeGenerator.compileTime / 1e6 - cm0
        trace.detach()
      }
    }(op)
    val (plain, traced) = (lanes(0), lanes(1))
    val ops = math.max(1, traced.size).toDouble
    val tot = trace.total
    metric("trace.overhead_ms", 1000 * (Stats.median(traced.map(_._2)) - Stats.median(plain.map(_._2))), "ms")
    metric("scheduler.jobs", tot.jobs / ops, "count")
    metric("scheduler.stages", tot.stages / ops, "count")
    metric("scheduler.tasks", tot.tasks / ops, "count")
    metric("scheduler.delay_ms", tot.delayMs.toDouble / math.max(1L, tot.tasks), "ms")
    metric("exec.run_s", tot.runMs / 1000.0 / ops, "s")
    metric("exec.cpu_s", tot.cpuNs / 1e9 / ops, "s")
    metric("exec.gc_s", tot.gcMs / 1000.0 / ops, "s")
    metric("exec.cpu_utilization", tot.cpuNs / 1e9 / (wallS * cores), "ratio")
    metric("exec.peak_exec_mem_mb", tot.peakExecMem / 1048576.0, "MB")
    metric("exec.spill_bytes", tot.spill / ops, "bytes")
    metric("shuffle.write_bytes", tot.shuffleWrite / ops, "bytes")
    metric("shuffle.read_bytes", tot.shuffleRead / ops, "bytes")
    metric("shuffle.fetch_wait_ms", tot.fetchWaitMs / ops, "ms")
    def phase(p: String) = Option(trace.phaseMs.get(p)).map(_.get).getOrElse(0L) / ops
    metric("driver.analysis_ms", phase("analysis"), "ms")
    metric("driver.optimize_ms", phase("optimization"), "ms")
    metric("driver.physical_plan_ms", phase("planning"), "ms")
    metric("driver.codegen_ms", codegenMs / ops, "ms")
    metric("driver.codegen_classes", codegenN / ops, "count")
    metric("jvm.gc_pause_ms", gcMs / ops, "ms")
    metric("core.fn_reregistrations", fnCount / ops, "count")
    traced
  }

  /** A batch workload's measured part: `warmups` untimed passes (the
    * first one cold), then the window of whole passes. `pass(i)`
    * returns its output, or None if it failed; `after()` runs after
    * every pass, outside its time (the harness's cleanup). Reports the
    * end-to-end metrics — throughput in documents per second, also
    * under `alias` — and returns the window's pass times and the last
    * pass's output. */
  def batch[A](docs: Int, warmups: Int, alias: String, after: () => Unit = () => ())(
      pass: Long => Option[A]): (Seq[Double], Option[A]) = {
    var last: Option[A] = None
    def timed(i: Long): Option[Double] = {
      val t0 = System.nanoTime()
      val out = pass(i)
      out.foreach(o => last = Some(o))
      out.map(_ => (System.nanoTime() - t0) / 1e9)
    }
    def warm(i: Long): Option[Double] = {
      val t = timed(i)
      t.foreach(s => System.err.println(f"[warm-up] $i%d pass $s%.3f s"))
      after()
      t
    }
    val cold = warm(-warmups)
    (1 until warmups).foreach(k => warm(k - warmups))
    heapCheckpoint()
    // at least two passes, so that a median is never a single sample
    val samples = window(minOps = 2, block = 1, after)(i => timed(i).map("pass" -> _))
    val times = samples.map(_._2)
    require(times.nonEmpty, "every pass of the window failed")
    val rate = docs * times.size / times.sum
    metric("throughput_per_s", rate, "1/s")
    metric(alias, rate, "docs/s")
    metric("p50_ms", 1000 * Stats.median(times), "ms")
    metric("heap_after_gc_peak_mb", heapAfterGcPeakMb, "MB")
    cold.foreach(c => coldMinusWarm(Map("pass" -> c), samples))
    (times, last)
  }

  /** Cold first operation of each kind minus the median of the
    * measured ones, per kind and summed. */
  def coldMinusWarm(cold: Map[String, Double], samples: Seq[(String, Double)]): Unit =
    if (trace.enabled) {
      val per = cold.toSeq.sortBy(_._1).map { case (k, c) =>
        val warm = samples.filter(_._1 == k).map(_._2)
        val d = if (warm.isEmpty) 0.0 else 1000 * (c - Stats.median(warm))
        metric(s"driver.cold_minus_warm_ms.$k", d, "ms")
        d
      }
      metric("driver.cold_minus_warm_ms", per.sum, "ms")
    }

  def dir(name: String): Path = Files.createDirectories(workDir.resolve(name))

  // ------------------------------------------------------------- JVM state

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p =>
    p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      Seq("Old", "Tenured").exists(p.getName.contains))

  def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Highest old-generation occupancy seen right after a full GC. */
  var heapAfterGcPeakMb = 0.0

  /** Full GC, then read the old generation's after-collection usage.
    * Called between operations, never inside a timed one. */
  def heapCheckpoint(): Unit = {
    def afterGc(): Double = {
      System.gc()
      oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
        .getOrElse(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576.0
    }
    // Spark's context cleaner releases shuffle and broadcast state only
    // after a collection has cleared the references to it: collect again
    // until the reading stops falling (at most four times)
    var used = afterGc()
    var k = 0
    var falling = true
    while (falling && k < 3) {
      Thread.sleep(100)
      val next = afterGc()
      falling = next < 0.95 * used
      used = math.min(used, next)
      k += 1
    }
    heapAfterGcPeakMb = math.max(heapAfterGcPeakMb, used)
  }

  /** Releases what operators persisted (datasets and RDD-level local
    * checkpoints), as the repo's own harnesses do between queries. */
  def dropBlocks(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest percentile with at least ten samples beyond
    * it — the 11th largest sample, at percentile 100·(n−10)/n. Returns
    * (value, percentile); with 10 or fewer samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}
