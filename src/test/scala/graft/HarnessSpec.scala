package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("src/main builds sessions and unsets confs only in graft.api.Application") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath.toString)
    val factory = root.resolve("scala/graft/api/Application.scala")
    val forbidden = """SparkSession\.builder|\.conf\.unset\(""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if forbidden.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Code lines of src/main (comment lines dropped), each as
    * ("File.scala:line: text", the name of the def it sits in — the
    * nearest `def` above it — and the raw line). */
  private lazy val mainCode: List[(String, String, String)] = {
    val root = java.nio.file.Paths.get("src/main")
    val comment = """^\s*(\*|/\*|//)""".r
    val defName = """\bdef (\w+)""".r
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        var owner = ""
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap {
          case (line, _) if comment.findFirstIn(line).isDefined => None
          case (line, i) =>
            defName.findFirstMatchIn(line).foreach(m => owner = m.group(1))
            Some((s"${p.getFileName}:${i + 1}: ${line.trim}", owner, line))
        }
      }.toList
    finally walk.close()
  }

  /** Asserts that the defs whose code uses `pattern` (its own def line
    * excluded) are exactly `defs`, one per use. */
  private def onlyIn(pattern: String, defs: List[String]): Unit = {
    val uses = mainCode.filter(c => c._3.contains(pattern) && !c._3.contains(s"def $pattern"))
    assert(uses.map(_._2) == defs, uses.map(_._1).mkString("\n"))
  }

  /** Asserts that `pattern` sits on exactly one code line, in `file`. */
  private def onceIn(pattern: String, file: String): Unit = {
    val uses = mainCode.filter(_._3.contains(pattern)).map(_._1)
    assert(uses.map(_.takeWhile(_ != ':')) == List(file), uses.mkString("\n"))
  }

  test("src/main names no spark.graft key; only stagedStream sets maxFilesPerTrigger; only the stager publishes") {
    onlyIn("\"spark.graft.", Nil)
    onlyIn("maxFilesPerTrigger", List("stagedStream"))
    onlyIn("publishStaged", List("stage"))
    onlyIn("sourceFingerprint", List("stage"))
  }

  test("src/main binds the checkpoint file system only in Application.sessionConfs") {
    onlyIn("fs.AbstractFileSystem.file.impl", List("sessionConfs"))
  }

  test("src/main gives each LSH decision one home: Manku tables, MinHash band check and family, 4/5-prefix rule") {
    onlyIn("posexplode(simHashBandKeys", List("mankuBands"))
    onceIn("\"bands must divide numHashes\"", "NativeTextExprs.scala")
    // the MinHash permutation, once per engine
    onceIn("7919L * i + 13L", "NativeTextExprs.scala")
    onlyIn("7919*i + 13", List("bandSql"))
    // the planted 4/5-prefix rule, once per engine
    onlyIn("size(ts) * 4 / 5", List("prefixTruncated"))
    onceIn("greatest((len(string_split(text, ' ')) * 4) // 5, 1)",
      "OracleSql.scala")
  }

  test("src/main keeps one record per query and one home per repeated oracle block: top-k rank, IVF centroids") {
    onlyIn("ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS \"rank\"", List("topKSql"))
    onlyIn("WHERE vec_id < 8 AND embedding IS NOT NULL", List("ivfCentsCte"))
    onlyIn("def defs", Nil)
    onlyIn("def oracles", Nil)
  }

  test("src/main gives the staged replay protocol one home: its geometry, one Scala and one SQL batch-index rule, one state-store release") {
    // the geometry is spelled only as StreamingRun.Protocol's constants
    Seq("event_id % 97", "event_id % 89", "event_id % 7", "event_id % 11",
      "ntile(5)", "ntile(4)", "172800000", "43200000000", "1800000000",
      "nFiles: Int =", "bumpMod").foreach(onlyIn(_, Nil))
    // the batch-index rule: watermarkBatchIndex and its SQL twin
    onlyIn("lit(BumpMod)", List("watermarkBatchIndex"))
    onceIn("event_id % $BumpMod", "StreamingRun.scala")
    // ...which every staged-events oracle reads through one shared `ev`
    onceIn("$batchIndexSql", "EventTimeQueries.scala")
    onlyIn("StateStore.stop(", List("releaseStateStores"))
  }

  test("Verify's log filter drops only the missing-checksum line") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.impl.Log4jLogEvent
    import org.apache.logging.log4j.message.SimpleMessage
    val name = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "ChecksumCheckpointFileManager"
    Verify.dropMissingChecksumWarnings()
    val lc = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getLoggerConfig(name)
    assert(lc.getName == name)
    def filtered(msg: String): Boolean = lc.isFiltered(Log4jLogEvent.newBuilder()
      .setLoggerName(name).setLevel(Level.WARN)
      .setMessage(new SimpleMessage(msg)).build())
    assert(filtered("No checksum file found for /ckpt/1.delta, hence no checksum verification."))
    assert(!filtered("Checksum verification failed for /ckpt/1.delta"))
  }

  test("SPARK_GRAFT_ONLY: unset runs everything; known names filter loudly; an unknown name fails fast") {
    val known = Set("q1", "q2", "q3")
    assert(Harness.onlyOf(None, known).isEmpty)
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val picked = try Harness.onlyOf(Some("q1,q3"), known)
      finally System.setErr(saved)
    assert(picked.contains(Set("q1", "q3")))
    assert(err.toString.contains("SKIPPING 1 queries: q2"), err.toString)
    val e = intercept[IllegalArgumentException](
      Harness.onlyOf(Some("q1,stale_name"), known))
    assert(e.getMessage.contains("unknown queries: stale_name"), e.getMessage)
  }

  test("SPARK_GRAFT_CPUS: unset means 4, a positive integer is trimmed, anything else fails naming the variable") {
    assert(Harness.cpusOf(None) == 4)
    assert(Harness.cpusOf(Some(" 8 ")) == 8)
    Seq("x", "0", "-2").foreach { raw =>
      val e = intercept[IllegalArgumentException](Harness.cpusOf(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
