package graft.io

import java.io.File
import java.nio.file.Files

/** Temp directories deleted, recursively, when the JVM exits — so repeated
  * Verify/Bench loops and test runs do not leak them into the temp dir.
  * Exit-time (not eager) deletion because a DataFrame reads its files
  * lazily at action time. One shared shutdown hook reaps them all; it
  * deletes a symbolic link, never what the link points to. */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[File]()
  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: File): Unit = {
        if (!Files.isSymbolicLink(f.toPath)) {
          val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        }
        f.delete()
      }
      dirs.forEach(d => rm(d))
    }))

  /** A new directory named `prefix` + a random suffix in the temp dir. */
  def fresh(prefix: String): String = {
    hook
    val d = Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.toString
  }
}
