package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import graft.api.{AppConf, Application}

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back: the checked-operation counts and the
  * metrics, end-to-end (untraced) or per-layer (traced). */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)])

/** Command-line entry:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints progress lines, then one JSON result as the last line. */
object Main {

  val workloads: Map[String, Args => Outcome] = Map(
    "window_rocksdb" -> (a => WindowWorkload.run(WindowWorkload.rocksdb, a)),
    "restore_small_state" -> (a => WindowWorkload.run(WindowWorkload.smallState, a)),
    "curation_batch" -> (a => CurationWorkload.run(a)))

  /** Exits explicitly either way, so no engine thread outlives the run;
    * a run that throws prints no result and exits with code 1. */
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = workloads.getOrElse(args.workload,
      usage(s"unknown workload '${args.workload}'"))
    val code = try {
      println(json(run(args)))
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    } finally cleanUp()
    System.out.flush()
    sys.exit(code)
  }

  def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: --workload " +
      workloads.keys.toSeq.sorted.mkString("|") +
      " --seed <n> --seconds <s> --trace <0|1> [--cores <n>]")
    sys.exit(2)
  }

  /** Seconds since the JVM started — the start of `setup_s`. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The session every workload runs on: `local[n]` with n = nproc / 2
    * (the other cores are left to the driver, generator, listener and
    * GC threads, so a run does not measure the scheduler) unless
    * `--cores` says otherwise, shuffle and state parallelism n, and the
    * given state-store provider. */
  def session(backend: String, a: Args): SparkSession = {
    val n = a.cores.getOrElse(
      math.max(1, Runtime.getRuntime.availableProcessors() / 2))
    val s = Application.session(AppConf(appName = "graftbench",
      master = s"local[$n]", parallelism = n, stateBackend = backend))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def slots(s: SparkSession): Int = s.sparkContext.defaultParallelism

  private val work = java.nio.file.Paths.get(
    sys.props.getOrElse("graftbench.work", ".bench_build/work"))
  private val suffix = s"-${ProcessHandle.current().pid()}"

  /** A fresh directory under the checkout's work area, removed when the
    * run ends. */
  def workDir(name: String): String = {
    val d = work.resolve(name + suffix)
    deleteTree(d)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  private def cleanUp(): Unit = if (java.nio.file.Files.isDirectory(work)) {
    val s = java.nio.file.Files.list(work)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix))
        .toList.foreach(deleteTree)
    } finally s.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists)
      } finally s.close()
    }

  def json(o: Outcome): String = {
    val ms = o.metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {$ms}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

/** `cores` (optional, `--cores n`) overrides the `local[n]` size; the
  * single-threaded reference run uses `--cores 1`. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Option[Int])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String): String =
      kv.getOrElse(k, Main.usage(s"missing $k"))
    val a = Args(get("--workload"), get("--seed").toLong,
      get("--seconds").toInt, get("--trace") == "1", kv.get("--cores").map(_.toInt))
    if (a.seconds < 1) Main.usage("--seconds must be >= 1")
    a
  }
}

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile (p in (0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(s.length * p).toInt - 1))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
