package graft.core

import java.nio.file.{Files, Path}

/** Temp-dir hygiene for gate/bench queries that exercise real sinks
  * (io01–io05, st01–st06): every scratch dir is registered for
  * recursive deletion at JVM exit, so repeated Verify/Bench runs stop
  * accumulating disk, and recursive deletes close their Files.walk
  * stream (the JDK documents walk() as must-close; a leaked stream
  * holds directory handles for the rest of the run).
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
    if (prefix.startsWith("st_ckpt_")) ckptDirs.get() += dir
    dir
  }

  // Streaming checkpoints are tmpfs-backed (scratchRoot), so leaving
  // their state-store files to the JVM-exit hook pins RAM for the rest
  // of a long Verify/Bench run — the same cliff-shaped hazard the
  // Sessions note documents for shm-backed shuffle (ADVICE r15). Track
  // them separately and sweep as soon as the owning row's streams stop.
  //
  // THREAD-local, not global: Verify runs 4 query fns concurrently, so
  // a global queue let one row's sweep delete another row's LIVE
  // checkpoint mid-stream (st09/st16 "commits does not exist" — caught
  // by this round's start-of-round gate). A query fn creates its
  // checkpoint scratch, starts and awaits its streams all on ONE
  // thread, so the thread-local list is exactly "this row's checkpoints"
  // (plus already-terminated leftovers from earlier rows on a reused
  // pool thread, which are safe to delete).
  private val ckptDirs = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Path]] {
    override def initialValue() = scala.collection.mutable.ArrayBuffer.empty[Path]
  }

  /** Await a streaming query's termination, then — once its session has
    * no other active stream (a query fn may run two streams at once, and
    * an early sweep would delete a live state store) — delete every
    * checkpoint scratch dir THIS thread created. Queries are
    * self-contained, so a terminated row's checkpoints are never read
    * again. A stream that fails fails its row, so its exception sweeps
    * this thread's checkpoints unconditionally before propagating —
    * otherwise a failed row's state stores would pin tmpfs until JVM exit.
    */
  def awaitThenSweepCkpt(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try q.awaitTermination()
    catch { case e: Throwable => sweepCkpt(); throw e }
    if (q.sparkSession.streams.active.isEmpty) sweepCkpt()
  }

  private def sweepCkpt(): Unit = {
    val dirs = ckptDirs.get()
    dirs.foreach(deleteRecursively)
    dirs.clear()
  }

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
