package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils

/** The one owner of staged query artifacts: each (name, dir) pair is
  * built once and replayed thereafter. An entry is one of two kinds:
  *
  *  - [[perJvm]]: a fresh temp dir, deleted at JVM exit and by
  *    [[clear]]. Per-JVM on purpose: cross-JVM reuse would let a bench
  *    record another process's replay as the build cost.
  *  - [[shared]]: a deterministic dir under `java.io.tmpdir` keyed by
  *    (dir, source file mtime), which other JVMs read. [[clear]] only
  *    forgets it, so the next call finds the copy already there.
  *
  * Every key owns a holder that builds outside the map: a build may
  * stage another artifact, and a slow build blocks only its own key
  * (a `computeIfAbsent` mapping function may not update its own map). */
object Staging {

  private final class Entry(deleteOnClear: Boolean, make: () => String) {
    @volatile private var built: Option[String] = None
    def path: String = synchronized {
      built.getOrElse { val p = make(); built = Some(p); p }
    }
    def discard(): Unit =
      if (deleteOnClear) built.foreach(p => FileUtils.deleteQuietly(new java.io.File(p)))
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()

  private def staged(name: String, dir: String, deleteOnClear: Boolean)(make: => String): String =
    entries.computeIfAbsent((name, dir), _ => new Entry(deleteOnClear, () => make)).path

  /** Build `name` for `dir` once per JVM into a fresh temp dir. */
  def perJvm(name: String, dir: String)(build: String => Unit): String =
    staged(name, dir, deleteOnClear = true) {
      val p = Files.createTempDirectory(name)
      Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(p.toFile)))
      build(p.toString)
      p.toString
    }

  /** Build `name` for `dir` once across JVMs, at a path keyed by the
    * full MD5 of (dir, mtime of `dir/source`): the mtime invalidates the
    * copy when a writable fixture is regenerated, and a 32-bit key could
    * collide and silently serve the wrong artifact. Concurrent JVMs race
    * benignly: each builds into its own temp dir and the atomic rename's
    * loser drops its copy and uses the winner's. */
  def shared(name: String, dir: String, source: String)(build: String => Unit): String =
    staged(name, dir, deleteOnClear = false) {
      val mtime = Files.getLastModifiedTime(Paths.get(dir, source)).toMillis
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir:$mtime".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val target = Paths.get(System.getProperty("java.io.tmpdir"), s"${name}_$key")
      if (!Files.exists(target)) {
        val tmp = Files.createTempDirectory(s"${name}_tmp")
        build(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException
             | _: java.nio.file.DirectoryNotEmptyException
             | _: java.nio.file.AccessDeniedException =>
            FileUtils.deleteQuietly(tmp.toFile)
        }
      }
      target.toString
    }

  /** Forget every entry so the next call of each staged query re-runs
    * its build: the bench's stage-measurement lever (per-stage costs
    * re-measured n≥5 times by clearing between reps). Per-JVM dirs are
    * deleted; shared dirs stay for the other JVMs that read them.
    * FileUtils, not an uncloseable `Files.walk` stream: the walk held
    * directory handles open and leaked fds on every bench pass. */
  def clear(): Unit =
    entries.keySet().forEach(k => Option(entries.remove(k)).foreach(_.discard()))
}
