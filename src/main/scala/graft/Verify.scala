package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val only = Harness.only
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    dropMissingChecksumWarnings()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** The scratch drains write checkpoints without checksum sidecars
    * (`StreamingRun.DrainConfs`); the state-store READER then warns
    * once per state file that no sidecar exists before reading the file
    * normally — hundreds of identical benign lines per full verify run.
    * A message filter on that logger drops exactly that line; every
    * other message from it still prints. */
  private[graft] def dropMissingChecksumWarnings(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    val name = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "ChecksumCheckpointFileManager"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    // level null: inherit the parent's level; additive: log through the
    // parent's appenders
    val lc = cfg.getLoggerConfig(name) match {
      case own if own.getName == name => own
      case _ =>
        val own = new LoggerConfig(name, null, true)
        cfg.addLogger(name, own)
        own
    }
    lc.addFilter(StringMatchFilter.newBuilder()
      .setMatchString("No checksum file found")
      .setOnMatch(Filter.Result.DENY)
      .setOnMismatch(Filter.Result.NEUTRAL)
      .build())
    ctx.updateLoggers()
  }
}
