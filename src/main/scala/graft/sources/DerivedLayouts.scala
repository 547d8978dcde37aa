package graft.sources

import java.io.File

/** Write-once cache for derived on-disk layouts (partitioned copies,
  * schema-evolution waves) that layout-demonstration queries build from
  * a source table, plus the per-JVM scratch directories of the keys that
  * checkpoint. Keyed by (layout kind, source dir): the first
  * invocation in a JVM pays the write, every later one (interleaved
  * bench passes, Verify + Smoke in one JVM) reuses the same directory
  * instead of accumulating an unbounded pile of full table copies in
  * /tmp. This also matches the queries' stated cost model — "layout is
  * paid once; every later read pays only for what it prunes". Every
  * directory handed out here is deleted at JVM exit, so a run leaves
  * nothing on disk. */
object DerivedLayouts {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // the exit hook is registered with the first directory handed out, so
  // touching this object during shutdown (`rm` from another exit hook)
  // never tries to register a hook then
  private lazy val owned = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(rm(_))))
    dirs
  }

  /** Symlink-safe recursive delete: File.isDirectory follows links, so
    * recursing through a planted symlink would delete the TARGET's
    * contents — unlink the link itself instead. */
  private[graft] def rm(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Materialize `write(path)` under a fresh temp dir the first time
    * `key` is seen; return the memoized path afterwards. The write runs
    * at most once per key (computeIfAbsent's per-key lock). */
  def once(key: String)(write: String => Unit): String =
    cache.computeIfAbsent(key, { _ =>
      val base = java.nio.file.Files.createTempDirectory(
        "graft_" + key.replaceAll("[^A-Za-z0-9]+", "_")).toFile
      owned.add(base)
      write(base.toString)
      base.toString
    })

  /** The path `graft_<name>_<pid>` under java.io.tmpdir, with nothing at
    * it (a streaming query creates its checkpoint there). Stable within a
    * JVM (bench passes reuse it, and each call empties it so /tmp stays
    * bounded), but PID-scoped, so two concurrent JVMs never delete each
    * other's LIVE checkpoint. */
  def scratchDir(name: String): File = {
    val dir = new File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${ProcessHandle.current().pid()}")
    owned.add(dir)
    rm(dir)
    dir
  }
}
