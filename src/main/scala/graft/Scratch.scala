package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils

/** The one home of scratch space. Every temporary directory the engine
  * and its specs use — staged streaming sources, drain sinks and
  * checkpoints, landed query tables, the test warehouse — is a fresh
  * subdirectory of one `graft_*` root per JVM under `java.io.tmpdir`,
  * and the whole root is deleted when the JVM exits: the delete is a
  * Hadoop shutdown hook below the priority of Spark's (40), so it runs
  * after the SparkContext has stopped and no job still reads a file it
  * removes. A main that ends in `Runtime.halt` skips every hook and
  * must call [[clear]] itself.
  *
  * Drain checkpoints ([[memDir]]) go under a second root on tmpfs
  * (`/dev/shm`) when it is writable: a drain never restarts, so its
  * offset/commit log and state files are ephemeral, and tmpfs measured
  * about 15 % off the stream family against disk. */
object Scratch {

  private val TmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  private val Shm = Paths.get("/dev/shm")

  /** This JVM's root under each parent directory used so far. */
  private val roots = new java.util.concurrent.ConcurrentHashMap[Path, Path]()

  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => clear(), 30)

  private def under(parent: Path, prefix: String): Path = Files.createTempDirectory(
    roots.computeIfAbsent(parent, Files.createTempDirectory(_, "graft_")), prefix)

  /** A fresh, empty directory named `prefix*` under this JVM's root. */
  def dir(prefix: String): Path = under(TmpDir, prefix)

  /** [[dir]] on tmpfs when `/dev/shm` is writable, else on disk. */
  def memDir(prefix: String): Path =
    under(if (Files.isDirectory(Shm) && Files.isWritable(Shm)) Shm else TmpDir, prefix)

  /** Delete every root made so far. A later [[dir]] makes a new one. */
  def clear(): Unit = roots.keySet.forEach { parent =>
    Option(roots.remove(parent)).foreach(r => FileUtils.deleteQuietly(r.toFile))
  }
}
