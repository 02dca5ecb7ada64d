package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where inventory entries keep scratch state: one directory in the
  * process tmpdir per (kind, data dir), named
  * `graft_<kind>_[<pid>_]<tag>` with `tag` = the data dir, every
  * character outside `[A-Za-z0-9.]` replaced by `_`. Two kinds:
  *
  *   - [[entryDir]]: an entry's OWN state (routed-MV base + summary,
  *     streamed-MV checkpoints). No pid — the entry overwrites or
  *     re-folds it idempotently on every run, so a later JVM may reuse
  *     the directory.
  *   - [[shared]]: a table several entries read (dedup labels, window
  *     fingerprints, curated survivors, rendered variant corpora),
  *     built once per (JVM, data dir) and keyed by pid, so a testdata
  *     regeneration (always a new JVM) can never serve a stale table
  *     and two JVMs never overwrite each other's.
  *
  * The benchmark's per-query reset relies on the split: it deletes
  * `graft_*` directories unless their name carries `_<pid>_`. */
object Scratch {

  private def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  private def tmp(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), name).toString

  def entryDir(kind: String, dir: String): String =
    tmp(s"graft_${kind}_${tag(dir)}")

  def sharedPath(kind: String, dir: String): String =
    tmp(s"graft_${kind}_${ProcessHandle.current().pid()}_${tag(dir)}")

  private val built = new ConcurrentHashMap[String, String]()

  /** Build `kind`'s shared table into its [[sharedPath]] at most once per
    * (JVM, data dir) and return the path. Builds run under this
    * object's monitor, never inside a map update: the monitor is
    * re-entrant, so a build may resolve another shared table it reads
    * (`DedupOps.cleanedDocs` reads `windowFps`) — a
    * `ConcurrentHashMap.computeIfAbsent` re-entered from its own
    * mapping function throws "Recursive update" — and a concurrent
    * first caller blocks until the table is complete instead of reading
    * a half-written one. A failed build records nothing; the next call
    * retries it. */
  def shared(kind: String, dir: String)(build: String => Unit): String = {
    val path = sharedPath(kind, dir)
    if (!built.containsKey(path)) synchronized {
      if (!built.containsKey(path)) { build(path); built.put(path, path) }
    }
    path
  }

  /** [[shared]] for the common one-parquet table: write `df` once, read
    * it back on every call. */
  def sharedTable(s: SparkSession, kind: String, dir: String)(
      df: => DataFrame): DataFrame =
    s.read.parquet(shared(kind, dir)(p => df.write.mode("overwrite").parquet(p)))
}
