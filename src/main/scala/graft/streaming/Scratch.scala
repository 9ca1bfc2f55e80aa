package graft.streaming

/** Placement for SINGLE-USE streaming scratch directories (checkpoints,
  * per-run sink output, restore reveal dirs): tmpfs (/dev/shm) when
  * writable, else java.io.tmpdir.
  *
  * Why (guide §1.4/§5 — measure the computation, not the sink): every
  * oracle drain creates a throwaway checkpoint, and the streaming
  * commit path fsyncs it many times per run (offset log + commit log
  * per micro-batch, plus a state-store delta/changelog per partition
  * per batch). On this container's disk those fsyncs are the dominant
  * and NOISIEST cost — the bench's own streaming legs measured the
  * RocksDB changelog fsync swinging 10× run-to-run on identical runs
  * (see Bench.streamingBench) and moved their checkpoints to tmpfs for
  * exactly that reason. This helper extends the same adjudication to
  * the oracle drains: production checkpoints target HDFS/S3, whose
  * durability cost is a property of the deployment, not of this
  * library; tmpfs keeps the full commit protocol (every file, every
  * rename, every version) while removing the local-disk lottery.
  *
  * Scope: single-use dirs only — each is deleted by its creator at the
  * end of the call. The content-addressed staged-input caches
  * (`StreamingRun.stage`) stay in java.io.tmpdir: they persist
  * across invocations and are read-mostly (page-cached after first
  * read), so tmpfs placement would spend memory for no measured win. */
private[graft] object Scratch {
  private val base: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }
  /** A fresh single-use scratch dir; caller owns deletion. */
  def dir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(base, prefix)
}
