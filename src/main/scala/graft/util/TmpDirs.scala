package graft.util

/** Placement for per-run THROWAWAY stream scratch (checkpoints, drop-file
  * staging, micro-shard outputs): these directories live for one entry
  * invocation and are deleted by their owner's `finally` — durability is
  * deliberately not wanted, so they belong on the fastest local volume.
  * Structured Streaming writes offset/commit metadata plus per-partition
  * state files on EVERY micro-batch; on a disk-backed tmpdir those small
  * synchronous writes are pure fixed overhead per entry (the pack has 17
  * streaming entries). A real deployment's DURABLE checkpoints are
  * explicitly configured elsewhere (uStreamCorpusAppend's artifact
  * commits, for instance, stay on the ArtifactStore root); nothing
  * restart-critical may use this root. */
object TmpDirs {

  /** Least usable space for tmpfs to be chosen: a small /dev/shm (a
    * container's 64 MB default) fills up mid-entry, where a disk-backed
    * tmpdir only costs speed. */
  val MinFastBytes: Long = 512L << 20

  /** The root for a candidate tmpfs dir with `usableBytes` free (0 when
    * it is missing or not writable): the candidate when it has at least
    * [[MinFastBytes]], `fallback` otherwise. */
  def choose(candidate: String, usableBytes: Long, fallback: String): String =
    if (usableBytes >= MinFastBytes) candidate else fallback

  /** tmpfs when available and roomy, `java.io.tmpdir` otherwise. */
  val fastRoot: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val usable =
      if (shm.isDirectory && shm.canWrite) shm.getUsableSpace else 0L
    java.nio.file.Paths.get(
      choose(shm.getAbsolutePath, usable, sys.props("java.io.tmpdir")))
  }

  /** Create a fresh throwaway dir under [[fastRoot]]. The caller owns
    * deletion. */
  def ephemeral(prefix: String): String =
    java.nio.file.Files.createTempDirectory(fastRoot, prefix).toString
}
