package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch-space placement for the harness mains.
  *
  * Streaming checkpoints are fsync-heavy (offset log, commit log, and one
  * state-store delta per partition per micro-batch), so their latency
  * tracks the backing disk's sync latency, not data volume — under disk
  * contention a finite `AvailableNow` query's wall time inflates several-
  * fold while CPU-bound batch queries barely move (the round-4 bench
  * showed exactly that skew: streaming 2–4× slower, trivial scans 1.3×).
  * Placing the checkpoint base on tmpfs removes the disk from that path
  * entirely; checkpoint payloads here are KBs, so RAM residency is free.
  * On a production cluster the checkpoint location must instead be
  * durable shared storage — this helper is harness policy, not engine
  * policy, which is why it lives next to the mains and not in
  * [[graft.streaming.Streams]] (the `_ingest` query REGISTRATIONS also
  * use [[tempDir]] for their run-unique persisted-table artifacts —
  * registration glue is harness territory; the engine methods
  * themselves take caller-supplied paths).
  */
object Scratch {
  /** A fresh, JVM-unique directory for `spark.sql.streaming.
    * checkpointLocation`, on tmpfs when available (falling back to the
    * default temp dir), deleted on JVM exit. JVM-unique matters for
    * correctness, not just hygiene: a reused base + reused query name
    * would RESUME from committed offsets and emit an empty batch instead
    * of recomputing. */
  def streamingCheckpointBase(): String = tempDir("graft_ckpt_")

  /** Checkpoint file manager for LOCAL-FILESYSTEM checkpoints
    * (`spark.sql.streaming.checkpointFileManagerClass`). The default
    * FileContext-based manager stats checkpoint files through Hadoop's
    * `Stat`, which EXECS a subprocess per call — measured (r13): ONE
    * 8-micro-batch streaming query at 32 partitions forked 25 504
    * processes and its wall time tracked the host's process-spawn
    * latency, not the engine (the mechanism behind the r12
    * q_stream_dedup_windowed "environment drift": the same binaries,
    * 2.9 s → 8.0 s across rounds, restored to ~4.4 s by this manager).
    * The FileSystem-based manager performs the same rename-based atomic
    * commits through the in-JVM FileSystem API: same query 6 070 forks,
    * wall 8.9 → 4.4 s; q_stream_user_counts 4.5 → 2.3 s. Local-FS
    * harness policy only — on HDFS/object stores production keeps
    * Spark's default manager (its FileContext semantics are why it is
    * the default).
    *
    * A second fork layer remained after that switch: with no native
    * Hadoop library, `RawLocalFileSystem.setPermission` EXECS `chmod`
    * per created checkpoint file (sampled live: ~1.6k chmod forks per
    * streaming query, one per state delta tmp + its .crc).
    * [[graft.streaming.NioCheckpointFileManager]] removes those too by
    * running the write paths through java.nio — measured, same query
    * set: q_stream_dedup_windowed 4.4 → 3.0 s class, residual forks at
    * the batch-query floor. */
  val localCheckpointFileManager: String =
    "graft.streaming.NioCheckpointFileManager"

  /** A fresh JVM-unique scratch directory, tmpfs-backed when available,
    * deleted on JVM exit — same placement policy as the checkpoint base. */
  def tempDir(prefix: String): String = {
    val shm = Paths.get("/dev/shm")
    val base =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(base)))
    base.toString
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(Comparator.reverseOrder[Path]())
      try it.forEach(f => Files.deleteIfExists(f))
      finally it.close()
    }
}
