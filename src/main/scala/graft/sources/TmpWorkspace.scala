package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.Comparator

/** Process-scoped scratch directories for queries whose OPERATOR INPUT is
  * a physical layout they must first write — q81's raw-XML census fixture,
  * q82's Hive-partitioned fact copy. Two lifecycle guarantees the ad-hoc
  * per-query versions lacked:
  *
  *  - **Keyed by the full sanitized dataset path**, not `path.hashCode`:
  *    a hash collision between dataset paths (or data regenerated at the
  *    same path) silently reused a stale fixture for the WRONG dataset.
  *    The pid suffix keeps concurrent processes fully disjoint, so
  *    cross-process coordination is never needed.
  *
  *  - **Deleted on JVM exit** (one shutdown hook for every dir):
  *    successive driver sessions previously accumulated dirs under
  *    `java.io.tmpdir` without bound. Within one process the dir is
  *    intentionally reused across invocations — repeat executions (bench
  *    reps) measure the read, not the one-time ETL, like any table that
  *    was laid out once.
  */
object TmpWorkspace {

  private val pid: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getPid.toString

  /** Every dir handed out by this process; one shutdown hook deletes
    * them all. */
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.forEach(p => scala.util.Try(deleteRecursively(Paths.get(p))))))

  /** Workspace directory for (kind, dataset) — stable within this process,
    * unique across processes, removed at JVM shutdown. */
  def dir(kind: String, dataset: String): String = {
    val key = dataset.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = System.getProperty("java.io.tmpdir") +
      s"/graft_${kind}_${key}_$pid"
    registered.add(base)
    base
  }

  /** Run `write` exactly once per workspace dir for this process; later
    * callers (and concurrent sessions in the same JVM — the lock is
    * JVM-wide) see the completed layout. The `_graft_ready` marker is only
    * created AFTER `write` returns, and atomically (Files.createFile
    * throws on pre-existence rather than racing an exists-then-create
    * window); cross-process races don't exist because dirs are pid-keyed. */
  def once(base: String)(write: => Unit): Unit = registered.synchronized {
    val marker = Paths.get(base, "_graft_ready")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(base))
      write
      try Files.createFile(marker)
      catch { case _: FileAlreadyExistsException => () }
    }
  }

  /** A fresh random-suffixed scratch dir — for callers that need a NEW
    * directory every call (test fixtures, streaming checkpoint dirs,
    * which must never be reused across different queries) — still
    * deleted at JVM exit instead of accumulating under tmp. */
  def fresh(kind: String): Path = {
    val p = Files.createTempDirectory(s"graft_${kind}_")
    registered.add(p.toString)
    p
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
    }
}
