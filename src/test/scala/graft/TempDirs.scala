package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Temp directories for specs: each is deleted at JVM exit, through the
  * same symlink-safe recursive delete as `DerivedLayouts`' directories,
  * so a test run leaves nothing in java.io.tmpdir. */
object TempDirs {
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => made.forEach(graft.sources.DerivedLayouts.rm(_))))

  /** A new empty directory `<prefix><random>` under java.io.tmpdir. */
  def apply(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir.toFile)
    dir
  }
}
