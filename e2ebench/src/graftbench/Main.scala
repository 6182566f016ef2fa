package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import graft.Graft

/** Benchmark JVM entry point: one workload, one seed, one measured
  * window. Prints human-readable metric lines, then one JSON result
  * line (`correct`, `attempted`, `failed`, `metrics`) as the last line
  * of stdout.
  *
  *   Main --workload ingest|dedup|serve --seed N --seconds S --trace 0|1
  *        --work DIR --out DIR
  */
object Main {
  val SetupRuns = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val out = Files.createDirectories(Paths.get(opts("out")))
    val cores = Runtime.getRuntime.availableProcessors()
    val run: Ctx => Unit = workload match {
      case "ingest" => IngestLoad.run
      case "dedup" => DedupLoad.run
      case "serve" => ServeLoad.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // the session is created once, here; set-up 1 adds its time, and
    // every set-up re-enters the front door (getOrCreate + install),
    // which is what core.install_ms times
    val t0 = System.nanoTime()
    val spark = Graft.session(master = s"local[$cores]", shufflePartitions = Some(cores),
      appName = "graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val fnLog = if (traced) Some(new LogCounter("replaced a previously registered function")) else None
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, opts("seed").toLong, opts("seconds").toInt, work,
      cores, fnLog)
    ctx.metric("core.session_s", sessionS, "s")

    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted += 1
        ctx.failed += 1
    }
    if (traced) writeLines(out.resolve(s"trace-$workload.jsonl"), trace.spanJson)
    fnLog.foreach(_.close())

    ctx.metrics.foreach { case (k, (v, u)) => println(f"[metric] $k%-44s $v%.4f $u") }
    val json = resultJson(ctx)
    if (traced) writeLines(out.resolve(s"layers-$workload.json"), Iterator(json))
    spark.stop()
    println(json)
    System.out.flush()
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit =
    Files.write(p, lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def resultJson(ctx: Ctx): String = {
    val ms = ctx.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${ctx.failed == 0},"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":{$ms}}"""
  }

  /** Runs `setup` [[SetupRuns]] times into fresh directories; returns
    * the last state and the median set-up time. Every set-up must
    * produce the same input digest (same seed ⇒ same bytes). */
  def setups[S](ctx: Ctx)(setup: Path => (S, String)): S = {
    val times = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[String]
    val installs = mutable.ArrayBuffer.empty[Double]
    var last: Option[S] = None
    for (i <- 0 until SetupRuns) {
      val dir = ctx.workDir.resolve(s"setup-$i")
      if (i > 0) deleteTree(ctx.workDir.resolve(s"setup-${i - 1}"))
      val t0 = System.nanoTime()
      // the session already exists: this is the install path a caller
      // pays when it re-enters the front door
      Graft.session(master = s"local[${ctx.cores}]", shufflePartitions = Some(ctx.cores),
        appName = "graftbench")
      installs += (System.nanoTime() - t0) / 1e6
      val (s, digest) = setup(Files.createDirectories(dir))
      times += (System.nanoTime() - t0) / 1e9 + (if (i == 0) ctx.metrics("core.session_s")._1 else 0.0)
      digests += digest
      last = Some(s)
    }
    ctx.check("inputs.same_seed_same_bytes", digests.distinct.size == 1,
      s"set-ups produced ${digests.distinct.size} different input digests")
    ctx.metric("setup_s", Stats.median(times.toSeq), "s")
    ctx.metric("core.install_ms", Stats.median(installs.toSeq), "ms")
    System.err.println(s"[setup] digest ${digests.head} times ${times.map(t => f"$t%.2f").mkString(" ")}")
    ctx.heapCheckpoint()
    last.get
  }

  /** Bytes of the regular files under `p`. */
  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
