package graft.streaming

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

/** Recursive-delete registry for the streaming gates' scratch dirs
  * (parquet spools, JSONL output, checkpoints).
  *
  * `File.deleteOnExit` never removes a non-empty directory, so every
  * bench/correctness invocation used to leak its spool + checkpoint
  * trees in java.io.tmpdir (ADVICE r5). One JVM shutdown hook walks
  * each registered root bottom-up instead. Registration is O(1) and
  * lock-free; deletion cost is paid once at exit.
  */
object TempDirs {
  private val roots = new ConcurrentLinkedQueue[File]()

  Runtime.getRuntime.addShutdownHook(new Thread("graft-tempdir-sweep") {
    override def run(): Unit = {
      var f = roots.poll()
      while (f != null) { deleteTree(f); f = roots.poll() }
    }
  })

  /** Register a scratch root for recursive deletion at JVM exit. */
  def register(dir: File): File = { roots.add(dir); dir }

  /** Base volume for gate scratch (spools, checkpoints, sink dirs):
    * `GRAFT_SCRATCH` if set, else `/dev/shm` when writable, else
    * `java.io.tmpdir`. A streaming micro-batch pays one offset-WAL
    * write, one commit-log write, and per-partition state-store delta
    * files — dozens of tiny files per gate. Their cost was never disk
    * latency: Hadoop's local filesystem forked a `chmod` per created
    * file and a `readlink` per rename side, ~10 ms each on any volume,
    * which is why a RAM disk helped little (−8% on the r10 gate
    * subtotal, lost in the r15 A/B). Graft sessions now use
    * graft.io.ForkFreeLocalFs, which forks neither. Restart gates
    * still recover from these checkpoints because recovery happens
    * within the same host/process lifetime.
    */
  private val GiB = 1024L * 1024 * 1024

  private def shmWithHeadroom(floor: Long): Option[File] =
    Option(new File("/dev/shm")).filter(f =>
      f.isDirectory && f.canWrite && f.getUsableSpace >= floor)

  lazy val scratchBase: File =
    sys.env.get("GRAFT_SCRATCH").map(new File(_))
      // /dev/shm only when it has real headroom: containers default it
      // to 64 MB, and scratch accumulates per-run dirs until JVM exit —
      // a tiny RAM disk would turn a passing suite into mid-run ENOSPC.
      .orElse(shmWithHeadroom(8L * GiB))
      .getOrElse(new File(System.getProperty("java.io.tmpdir")))

  /** A registered scratch dir under [[scratchBase]]. Headroom is
    * re-checked per allocation, not just at the `scratchBase` lazy-val
    * init: scratch dirs (event-table spools, checkpoints, per-run
    * fixture dirs) accumulate until JVM exit, so a RAM-backed base that
    * passed the one-time 8 GiB check can still run dry mid-bench. When
    * a shm-backed base drops under a 2 GiB floor, NEW dirs fall back to
    * java.io.tmpdir (existing dirs stay where they are — paths already
    * handed out must stay valid). An explicit GRAFT_SCRATCH override is
    * honored unconditionally: the operator chose the volume.
    */
  def scratch(name: String): File = {
    val base =
      if (sys.env.contains("GRAFT_SCRATCH")) scratchBase
      else if (scratchBase.getPath == "/dev/shm" && scratchBase.getUsableSpace < 2L * GiB)
        new File(System.getProperty("java.io.tmpdir"))
      else scratchBase
    register(new File(base, name))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteTree)
    }
    f.delete(): Unit
  }
}
