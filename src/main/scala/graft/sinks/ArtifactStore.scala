package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Committed on-disk index artifacts — the restart story the per-JVM
  * LRU caches (PQ codebooks, IVF centroids, LSH band indexes,
  * contamination Blooms) deliberately don't have: a serving system
  * restarts, and its indexes must come back from storage, not retrain.
  *
  * Layout: one parquet directory per artifact under `root`, named by a
  * key that encodes the artifact FAMILY, a format version, the corpus
  * fingerprint (count + order-independent xxhash64 — the same idiom the
  * in-memory caches key on), and the build parameters. Keys make
  * artifacts IMMUTABLE: a changed corpus or parameter set is a
  * different artifact, never an overwrite.
  *
  * Commit protocol (the MergeCow discipline): build into a temp
  * directory under the same filesystem, then ONE FileSystem.rename into
  * the final name. Readers see a whole artifact or none. Because keyed
  * artifacts are immutable, a loser of a concurrent-commit race simply
  * discards its temp dir — the winner's content is byte-equivalent by
  * construction (deterministic builds).
  *
  * At scale this is the lakehouse pattern: artifacts live beside the
  * tables (`GRAFT_ARTIFACT_DIR` points at the warehouse), build jobs
  * are idempotent by key, and serving jobs only ever read. */
object ArtifactStore {

  /** The store root. The system property lets a test scope itself to a
    * private store (StoreGcSpec's sweep must not eat the shared suite
    * state); production configuration is the env var. */
  def root: String = sys.props.get("graft.artifact.dir")
    .orElse(sys.env.get("GRAFT_ARTIFACT_DIR"))
    .getOrElse(sys.props("java.io.tmpdir") + "/graft_artifacts")

  private def fs(s: SparkSession) =
    new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)

  def path(name: String): Path = new Path(root, name)

  def exists(s: SparkSession, name: String): Boolean = {
    touch(name)
    fs(s).exists(path(name))
  }

  // ---- reachability GC (round-16 ask #6) ----
  //
  // Committed families are superseded over a store's life: an append's
  // cut moves, compaction folds segments, a retrain re-keys the family
  // under the grown fingerprint — the old keys stay on disk, correct
  // but unreachable, and at 100 TB the dead families ARE the storage
  // bill. Reachability is witnessed at the API: a key is LIVE iff the
  // current registry (code + corpus epoch) derives it, and the ONLY way
  // an artifact is ever read is through exists/load/commit — so the
  // touched-key set after running the serving registry is exactly the
  // root set. (No DuckDB-oracle entry: roots are content fingerprints
  // (xxhash64) DuckDB cannot replay, so the gate is spec-level —
  // StoreGcSpec proves every entry still serves, rebuild-free, after
  // sweeping everything outside the roots.)

  private val touched =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def touch(name: String): Unit = touched.add(name)

  /** Keys touched through the public API since the last reset — the
    * reachability witness `gc` roots come from. */
  def touchedKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    touched.iterator().asScala.toSet
  }

  def resetTouched(): Unit = touched.clear()

  /** Remove every committed artifact whose name is not in `roots`, plus
    * any orphaned commit temp dir (a crashed committer's leftovers).
    * Single-writer maintenance window assumed — like any LSM store's
    * GC, it must not race an in-flight commit's rename. Returns the
    * removed artifact names, sorted. */
  def gc(s: SparkSession, roots: Set[String]): Seq[String] = {
    val f = fs(s)
    val r = new Path(root)
    if (!f.exists(r)) return Seq.empty
    val names = f.listStatus(r).map(_.getPath.getName).toSeq
    val dead = names.filter(n => !roots.contains(n) && !n.startsWith("."))
    dead.foreach(n => f.delete(path(n), true))
    names.filter(_.startsWith(".tmp_"))
      .foreach(n => f.delete(new Path(r, n), true))
    dead.sorted
  }

  /** Write `df` as artifact `name` via temp-dir + single rename. A
    * concurrent committer of the same (immutable) key wins harmlessly:
    * the loser detects the existing destination and drops its temp dir.
    * NB: Hadoop FileSystem.rename with an EXISTING destination directory
    * does not fail — it moves the source INSIDE it (posix mv semantics)
    * and returns true — so the loser must never issue the rename, and a
    * racer that loses between the exists check and the rename must sweep
    * its nested temp dir back out of the winner's artifact. */
  def commit(df: DataFrame, name: String): Unit = {
    touch(name)
    val s = df.sparkSession
    val f = fs(s)
    val tmp = new Path(root,
      s".tmp_${name}_${java.util.UUID.randomUUID().toString.take(8)}")
    try df.write.mode("overwrite").parquet(tmp.toString)
    catch { case t: Throwable => f.delete(tmp, true); throw t }
    val dst = path(name)
    if (f.exists(dst) || !f.rename(tmp, dst)) f.delete(tmp, true)
    else {
      val nested = new Path(dst, tmp.getName)
      if (f.exists(nested)) f.delete(nested, true) // lost the race mid-flight
    }
  }

  /** Commit several INDEPENDENT artifacts concurrently from a small
    * driver thread pool (optimization guide §2.6: actions are only
    * sequential because the driver submits them sequentially — running
    * a few at once lets one commit's planning/codegen gap back-fill
    * another's task tail; measured ~6 s of inter-job driver gaps in one
    * chain entry alone). ONLY for commits with no dependency between
    * them — the commit-order durability contract for DEPENDENT stages
    * stays caller-sequenced. Existing keys are skipped (the call
    * sites' idempotent-commit pattern), each commit keeps the
    * temp-dir + single-rename protocol, and the store's concurrent-
    * committer race rules already cover same-key races, so concurrency
    * adds no new failure mode. On the first failure the commits not yet
    * started are cancelled, the running ones finish (a failed commit
    * removes its temp dir), and the original exception is rethrown:
    * no commit is still running when this returns. */
  def commitAll(pairs: Seq[(DataFrame, String)]): Unit = {
    import java.util.concurrent.{Callable, ExecutionException,
      ExecutorCompletionService, Executors, TimeUnit}
    val todo = pairs.filter { case (df, k) => !exists(df.sparkSession, k) }
    if (todo.size <= 1)
      todo.foreach { case (df, k) => commit(df, k) }
    else {
      // 3-4 jobs in flight is plenty (guide §2.6): enough to fill the
      // driver gaps and task tails, not enough to fight for slots
      val pool = Executors.newFixedThreadPool(math.min(4, todo.size))
      val done = new ExecutorCompletionService[Unit](pool)
      try {
        val futs = todo.map { case (df, k) =>
          done.submit(new Callable[Unit] {
            override def call(): Unit = commit(df, k)
          })
        }
        try futs.foreach(_ => done.take().get())
        catch {
          case e: ExecutionException =>
            futs.foreach(_.cancel(false))
            throw e.getCause
        }
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
  }

  def load(s: SparkSession, name: String): DataFrame = {
    touch(name)
    s.read.parquet(path(name).toString)
  }

  /** The serve-side read: loads the committed artifact, building and
    * committing it first when absent (first request after a deploy). The
    * returned DataFrame ALWAYS reads from disk — serving never uses the
    * in-memory build result, so a load/build divergence cannot hide. */
  def getOrBuild(s: SparkSession, name: String)(build: => DataFrame)
      : DataFrame = {
    if (!exists(s, name)) commit(build, name)
    load(s, name)
  }

  /** Committed artifact names under a prefix — segment discovery for
    * the LSM families (idx_ivf_compact folds every committed posting
    * segment of a base). Metadata-only: one directory listing. */
  def list(s: SparkSession, prefix: String): Seq[String] = {
    val f = fs(s)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && !n.startsWith("."))
      .sorted.toSeq
  }

  /** Committed artifact names under a prefix in COMMIT order (the
    * directory's rename timestamp, name-tiebroken). `list`'s name
    * order sorts content fingerprints lexicographically — unrelated to
    * write time — so a last-writer-wins fold (foldPostings' epoch)
    * must discover segments through THIS listing: the epoch a segment
    * gets has to reflect when it was committed, or a stale segment
    * that happens to sort last would win its conflicts. The timestamp
    * is written once by the commit rename and never modified (readers
    * don't touch it; keyed artifacts are immutable), so the order is
    * stable across reruns. */
  def listByCommitTime(s: SparkSession, prefix: String): Seq[String] = {
    val f = fs(s)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r)
      .filter(st => st.getPath.getName.startsWith(prefix) &&
        !st.getPath.getName.startsWith("."))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .map(_.getPath.getName).toSeq
  }

  /** Drop a committed artifact (tests). */
  def remove(s: SparkSession, name: String): Unit = {
    val f = fs(s)
    if (f.exists(path(name))) f.delete(path(name), true)
  }
}
