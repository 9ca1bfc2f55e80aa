package graft

import org.apache.spark.sql.SparkSession
import graft.api.{AppConf, Application}

/** The session the harness mains ([[Bench]], [[Verify]], [[IndexBench]],
  * [[Probe]]) and the test base run on, and the environment they read:
  * each variable is read here, once. */
object Harness {

  /** `$SPARK_GRAFT_CPUS` (default 4): local task slots and shuffle
    * partitions. See [[cpusOf]]. */
  val cpus: Int = cpusOf(sys.env.get("SPARK_GRAFT_CPUS"))

  /** `$SPARK_GRAFT_SF_DIR`: the testdata scale factor Bench and Probe
    * read (default `~/testdata/sf0.1`, the bench scale). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    s"${sys.props("user.home")}/testdata/sf0.1")

  /** `$SPARK_GRAFT_ONLY`: an optional comma-separated query-name filter
    * for local iteration of [[Bench]] and [[Verify]] (None: every
    * query). See [[onlyOf]]. */
  lazy val only: Option[Set[String]] =
    onlyOf(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries.keySet)

  /** Parse a query-name filter against the `known` names. Loud, and
    * fail-fast on unknown names: a stale filter leaking into a bench or
    * verification environment must not silently produce a partial,
    * clean-looking result. */
  private[graft] def onlyOf(filter: Option[String],
      known: Set[String]): Option[Set[String]] =
    filter.map { f =>
      val names = f.split(",").toSet
      val unknown = names -- known
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names unknown queries: " +
        unknown.toSeq.sorted.mkString(","))
      val skipped = (known -- names).toSeq.sorted
      System.err.println(s"SPARK_GRAFT_ONLY active: running " +
        s"${names.toSeq.sorted.mkString(",")}; SKIPPING ${skipped.size} " +
        s"queries: ${skipped.mkString(",")}")
      names
    }

  /** Parse a slot count (default 4). A typo or a non-positive value
    * fails naming the variable, before Spark ever sees `local[0,2]`. */
  private[graft] def cpusOf(raw: Option[String]): Int = raw.fold(4) { r =>
    val n = r.trim.toIntOption
    require(n.exists(_ > 0),
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$r'")
    n.get
  }

  /** The harness session conf for `n` slots: `local[n,2]` allows one
    * task retry (production clusters run `spark.task.maxFailures=4`;
    * the w24/w26 rows inject a task fault that must be retried, not
    * fail the query), n shuffle partitions, and Spark's default
    * HDFS-backed state store — rows that need RocksDB pin it
    * themselves. UTC and the UI switch are [[Application.session]]
    * constants. */
  def conf(n: Int): AppConf = AppConf(master = s"local[$n,2]",
    parallelism = n, stateBackend = "hdfs")

  def session(n: Int = cpus): SparkSession = Application.session(conf(n))
}
