package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated name prefixes — dump/check just those queries
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the session a USER of the library runs: graft functions +
    // optimizer rules installed (all equivalence-preserving) — the
    // gate then verifies exactly the plans the recommended session
    // produces, instead of depending on whichever query installs
    // them mid-suite
    Graft.install(spark)
    new java.io.File(outDir).mkdirs()
    // reliable checkpoint dir: the iterative loops' Iterate.truncate
    // then truncates lineage through recoverable checkpoint FILES
    // instead of localCheckpoint blocks — the cluster-safe path
    // (executor loss mid-loop cannot destroy locally-checkpointed
    // partitions), and the dump runs exactly the plans a checkpoint-
    // dir-configured production session would run. Also silences the
    // "locally checkpointed RDD cannot be recomputed" unpersist
    // warnings that used to fill this tool's output. The dir lives
    // outside outDir, so the dump holds only query outputs, and is
    // deleted before the session stops.
    val ckpt = Files.createTempDirectory("graft-verify-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // drop per-query persisted intermediates — INCLUDING RDD-level
        // localCheckpoint blocks, which clearCache() alone leaves
        // behind (they accumulated to an OOM across the full suite)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    spark.stop()
  }
}
