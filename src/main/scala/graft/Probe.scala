package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.api.Application

/** Dev probes over bench cells, run on the bench's own session
  * ([[Harness]]: `$SPARK_GRAFT_CPUS`, `$SPARK_GRAFT_SF_DIR`) and timed
  * on the bench's own action ([[Bench.checksum]]):
  *
  * {{{
  * sbt "runMain graft.Probe ab [reps] <query>..."
  * sbt "runMain graft.Probe profile [reps] <query>..."
  * sbt "runMain graft.Probe drain [reps] <query>..."
  * sbt "runMain graft.Probe plan [--static] <query>..." > receipt.txt
  * }}}
  *
  *  - `ab` A/Bs the session-conf set `$SPARK_GRAFT_AB="k=v;k2=v2"`
  *    (variant B) against the session defaults (variant A),
  *    ALTERNATING the variants within one JVM so slow JIT/host drift
  *    hits both sides equally: one untimed warm pair, then `reps`
  *    A-then-B pairs and a final reversed pair; prints per-variant
  *    min/median, every run's wall seconds and the distinct digests
  *    ([[Bench.checksum]]) — two digests mean the variant changed the
  *    answer or the cell is not deterministic.
  *  - `profile` splits each run's wall time into build (the query
  *    function: eager driver work — streaming cells drain here), plan
  *    (analysis + optimization + physical planning, serial driver work
  *    the bench cell pays on every repeat) and execute, one warm run
  *    plus `reps`, each with its digest; every job's wall time and
  *    every stage's task count print as they finish.
  *  - `drain` prints, for every micro-batch of a STREAMING cell, the
  *    engine's phase split (addBatch, queryPlanning, walCommit +
  *    commitOffsets, getBatch + latestOffset) and each stateful
  *    operator's rows, update and commit ms — what separates "the
  *    drained plan is slow" from "the per-batch state commit is the
  *    floor".
  *  - `plan` prints each query's `explain("formatted")`. `--static`
  *    plans under the 100 TB planner regime `PlanAuditSpec` pins (AQE
  *    off, size-based broadcasts off — explicit hints only).
  */
object Probe {

  private val modes: Map[String, (SparkSession, Args) => Unit] = Map(
    "ab" -> ab, "profile" -> profile, "drain" -> drain, "plan" -> plan)

  private final case class Args(mode: String, reps: Option[Int], static: Boolean,
      queries: Seq[String])

  private def usage(msg: String): Nothing = throw new IllegalArgumentException(
    s"$msg\nusage: Probe <${modes.keys.toSeq.sorted.mkString("|")}> " +
      "[reps | --static] <query>...")

  private def parse(argv: Seq[String]): Args = {
    val mode = argv.headOption.filter(modes.contains)
      .getOrElse(usage(s"unknown mode '${argv.headOption.getOrElse("")}'"))
    val static = argv.contains("--static")
    if (static && mode != "plan") usage("--static applies to plan only")
    val rest = argv.tail.filterNot(_ == "--static")
    val reps = rest.headOption.filter(r => r.nonEmpty && r.forall(_.isDigit))
      .map(_.toInt)
    val queries = rest.drop(reps.size)
    if (queries.isEmpty) usage("no query named")
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(",")}")
    Args(mode, reps, static, queries)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    try modes(args.mode)(spark, args)
    finally spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def ab(spark: SparkSession, args: Args): Unit = {
    val confs = sys.env.getOrElse("SPARK_GRAFT_AB", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toSeq
    args.queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(b: Boolean): (Double, Long) = {
        val t0 = System.nanoTime()
        val d = Application.withConfs(spark, if (b) confs else Nil) {
          Bench.checksum(fn(spark, Harness.sfDir))
        }
        (secs(t0), d)
      }
      run(false); run(true) // one untimed warm pair
      val order = (1 to args.reps.getOrElse(3)).flatMap(_ => Seq(false, true)) ++
        Seq(true, false)
      val times = order.map(b => b -> run(b))
      def f(b: Boolean) = {
        val xs = times.collect { case (`b`, (t, _)) => t }.sorted
        val ds = times.collect { case (`b`, (_, d)) => d }.distinct
        // true median: each variant collects reps+1 samples (an even
        // count), and the upper-middle element biased the A/B medians
        // decisions are read from (ADVICE r21)
        val med =
          if (xs.size % 2 == 1) xs(xs.size / 2)
          else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
        f"min=${xs.head}%.2f med=$med%.2f all=[${xs.map(x => f"$x%.2f").mkString(",")}]" +
          s" digest=${ds.mkString("/")}"
      }
      println(s"[$name] A(default) ${f(false)}")
      println(s"[$name] B(confs)   ${f(true)}")
    }
  }

  private def profile(spark: SparkSession, args: Args): Unit = {
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0.put(e.jobId, System.nanoTime())
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val s = e.stageInfo
          println(f"    stage ${s.stageId}%4d tasks=${s.numTasks}%4d " +
            s"name=${s.name.take(70)}")
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          println(f"  job ${e.jobId}%4d ${secs(t0.getOrDefault(e.jobId, 0L)) * 1e3}%8.1f ms")
      })
    args.queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      (0 to args.reps.getOrElse(3)).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, Harness.sfDir)
        val tBuild = secs(t0) * 1e3
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan = secs(t1) * 1e3
        val t2 = System.nanoTime()
        val digest = Bench.checksum(df)
        val tExec = secs(t2) * 1e3
        val tag = if (i == 0) "warm" else s"r$i"
        println(f"[$name%-28s $tag%4s] build=$tBuild%8.1fms plan=$tPlan%8.1fms exec=$tExec%8.1fms digest=$digest")
      }
    }
  }

  private def drain(spark: SparkSession, args: Args): Unit = {
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        println(f"  batch ${p.batchId}%3d rows=${p.numInputRows}%7d " +
          f"trigger=${d("triggerExecution")}%6d ms  addBatch=${d("addBatch")}%6d " +
          f"plan=${d("queryPlanning")}%5d wal=${d("walCommit") + d("commitOffsets")}%5d " +
          f"src=${d("getBatch") + d("latestOffset")}%5d")
        p.stateOperators.foreach { so =>
          println(f"        state ${so.operatorName}%-40s rows=${so.numRowsTotal}%7d " +
            f"upd=${so.numRowsUpdated}%7d updMs=${so.allUpdatesTimeMs}%6d " +
            f"commitMs=${so.commitTimeMs}%6d mem=${so.memoryUsedBytes}%9d")
        }
      }
    }
    spark.streams.addListener(listener)
    try args.queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to args.reps.getOrElse(2)).foreach { i =>
        println(s"=== $name rep $i")
        val t0 = System.nanoTime()
        val df = fn(spark, Harness.sfDir) // streaming cells drain here
        val tBuild = secs(t0)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"  build+drain=$tBuild%.3f s  post-drain noop=${secs(t1)}%.3f s")
      }
    } finally spark.streams.removeListener(listener)
  }

  private def plan(spark: SparkSession, args: Args): Unit = {
    val static =
      if (args.static) Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      else Nil
    Application.withConfs(spark, static) {
      args.queries.foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, Harness.sfDir).explain("formatted")
      }
    }
  }
}
