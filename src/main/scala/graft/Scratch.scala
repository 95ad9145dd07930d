package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Per-query scratch directories for side-effecting operators (CSV/JSON
  * round-trips, partitioned sinks, streaming checkpoints). Each key gets a
  * fresh directory under this JVM's root ([[claim]]); the previous run's
  * contents are removed so every invocation starts from a clean slate.
  */
object Scratch {

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
      }

  /** Minimum tmpfs headroom (bytes) below which scratch falls back to
    * disk: tmpfs ENOSPC/OOMs far below disk capacity, so a nearly-full
    * /dev/shm must not receive whole materialized corpora.
    */
  private val MinShmFreeBytes = 8L << 30

  /** Scratch root: GRAFT_SCRATCH_ROOT if set, else a RAM-backed tmpfs
    * (/dev/shm) when one exists WITH >=8 GiB usable, else java.io.tmpdir.
    * Scratch contents are ephemeral BY CONTRACT (every invocation
    * recreates its dir from a clean slate), so RAM backing changes no
    * semantics; it removes disk-latency noise from the single-node
    * harness — measured 10-17% on streaming keys, whose per-micro-batch
    * checkpoint fsyncs are pure harness overhead here. In production the
    * same paths are config-pointed at durable storage (a checkpoint that
    * must survive the process does not belong in Scratch). Bench
    * artifacts are labeled with the backing (NOTES.md) since it shifts
    * the I/O baseline vs disk-backed rounds.
    */
  private def shmUsable(d: String): Boolean = {
    val p = Paths.get(d)
    Files.isDirectory(p) && Files.isWritable(p) &&
      p.toFile.getUsableSpace >= MinShmFreeBytes
  }

  /** True when the root came from GRAFT_SCRATCH_ROOT: explicit config is
    * honored verbatim — the headroom divert below never overrides it,
    * even if the user pointed it at /dev/shm (ADVICE r10).
    */
  private val rootExplicit: Boolean = sys.env.contains("GRAFT_SCRATCH_ROOT")

  private val root: String =
    sys.env.get("GRAFT_SCRATCH_ROOT")
      .orElse(Some("/dev/shm").filter(shmUsable))
      .getOrElse(sys.props("java.io.tmpdir"))

  /** Keys whose scratch was diverted off tmpfs mid-run (headroom guard).
    * Surfaced so artifacts can record that the run's scratch backing was
    * not uniform — without this, a diverted key silently wears the shm
    * label the run started with (ADVICE r10).
    */
  private val diverted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def divertedKeys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    diverted.asScala.toSeq.sorted
  }

  /** Empty, freshly-created scratch dir for `key`. The root is
    * process-unique so concurrently-running harness JVMs (Verify, Bench,
    * sbt test) can never clobber each other's side-effect directories.
    * Per-call guard (AUTO-selected tmpfs root only — an explicit
    * GRAFT_SCRATCH_ROOT is always honored): if headroom has since dropped
    * below 2 GiB (a long run filled it), new scratch dirs divert to
    * java.io.tmpdir rather than driving tmpfs into ENOSPC; the diversion
    * is recorded in [[divertedKeys]] and logged, so artifacts labeled
    * with the scratch backing stay accurate.
    */
  def fresh(key: String): String = {
    val divert = !rootExplicit && root.startsWith("/dev/shm") &&
      Paths.get(root).toFile.getUsableSpace < (2L << 30)
    val base = if (divert) sys.props("java.io.tmpdir") else root
    if (divert && diverted.add(key))
      System.err.println(
        s"[scratch] tmpfs headroom <2GiB; diverting key $key to $base")
    val p = claim(base).resolve(key)
    deleteRec(p)
    Files.createDirectories(p)
    p.toString
  }

  private val RootName = "graft_scratch_(\\d+)".r
  private val roots =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** This JVM's root under `base`, `graft_scratch_<pid>`, deleted when
    * the JVM exits. The first call for a base also removes the roots
    * there whose pid no longer runs (a JVM killed before its exit hook
    * ran); a live JVM's root is never touched.
    */
  private def claim(base: String): Path = roots.computeIfAbsent(base, _ => {
    if (Files.isDirectory(Paths.get(base)))
      scala.util.Using.resource(Files.list(Paths.get(base)))(_.toArray.toSeq)
        .map(_.asInstanceOf[Path]).foreach(r => r.getFileName.toString match {
          case RootName(pid) if pid.toLongOption
              .forall(ProcessHandle.of(_).isEmpty) => release(r)
          case _ => ()
        })
    val own = Paths.get(base, s"graft_scratch_${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => release(own)))
    own
  })

  /** Deletes a root no JVM uses; another JVM may be deleting it too. */
  private def release(root: Path): Unit =
    try deleteRec(root) catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}
