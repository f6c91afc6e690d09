package graft.core

import java.nio.file.{Files, Path}

/** Temp-dir hygiene for gate/bench queries that exercise real sinks
  * (the io and st rows): every scratch dir is registered for recursive
  * deletion at JVM exit, so repeated Verify/Bench runs stop
  * accumulating disk, and recursive deletes close their Files.walk
  * stream (the JDK documents walk() as must-close; a leaked stream
  * holds directory handles for the rest of the run). Callers that are
  * done with a dir earlier delete it themselves with
  * [[deleteRecursively]], as Streams.runAvailableNow does for its
  * checkpoints.
  */
object TempDirs {

  // ONE shutdown hook draining a queue, not one hook thread per dir:
  // st06 alone makes four scratch dirs per invocation, and a long
  // Verify/Bench JVM re-running queries would otherwise accumulate
  // unbounded registered hook threads.
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = pending.poll()
      while (p != null) { deleteRecursively(p); p = pending.poll() }
    }))

  // Sink scratch goes to tmpfs when available so the io/st gate and
  // bench rows time the engine, not neighbor disk I/O — the round-3/4/5
  // driver benches all showed the FS-write rows (io04/io05/io06, SCD2 and
  // history sinks) inflating 3–5x under host load while pure-compute rows
  // held ~1.2x (BASELINE.md quiet-run tables). /dev/shm is the
  // POSIX-standard tmpfs mount on Linux; fall back to java.io.tmpdir
  // elsewhere.
  private lazy val scratchRoot: Option[Path] = {
    val shm = Path.of("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
  }

  /** Create a temp dir (on tmpfs when present) that is recursively
    * deleted at JVM exit.
    */
  def scratch(prefix: String): Path = {
    hookInstalled
    val dir = scratchRoot match {
      case Some(root) => Files.createTempDirectory(root, prefix)
      case None       => Files.createTempDirectory(prefix)
    }
    pending.add(dir)
    dir
  }

  /** Where [[scratch]] creates its dirs. */
  private[graft] def root: Path =
    scratchRoot.getOrElse(Path.of(System.getProperty("java.io.tmpdir")))

  /** Recursive delete with the walk stream properly closed. Quiet on
    * already-missing paths (shutdown hooks may race an explicit clean).
    */
  def deleteRecursively(dir: Path): Unit = {
    if (!Files.exists(dir)) return
    val stream = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally stream.close()
  }
}
