package graft

/** Temp-path hygiene for the scratch artifacts the queries stage under
  * `java.io.tmpdir` (and tmpfs).
  *
  * Every path is keyed by the SANITIZED FULL source path — `hashCode` can
  * collide and silently reuse the wrong corpus's artifact (round-6
  * ADVICE) — and by this process's pid, so two drivers on the same
  * machine (bench and verify) can never watch each other's
  * wipe-and-rebuild windows. Nothing is shared across processes: each
  * path handed out is deleted when the JVM exits.
  */
object TmpPaths {

  /** Collision-free corpus key: a readable sanitized form (every
    * character outside [A-Za-z0-9._-] mapped to '_') plus a SHA-256
    * suffix of the EXACT path. The substitution alone is not injective —
    * '_' is inside the allowed class, so `/a/b` and `/a_b` sanitize
    * identically (round-7 ADVICE) — but the digest is collision-free, so
    * two distinct corpus paths can never alias one artifact. */
  def sanitize(p: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(p.getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    p.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + digest
  }

  /** `name`'s per-process path under `base`, registered for deletion at
    * JVM exit (Spark's temp-dir hook, which runs after the SparkContext
    * has stopped). */
  private def owned(base: java.io.File, name: String, src: String): String = {
    val f = new java.io.File(base,
      s"$name-${sanitize(src)}-p${ProcessHandle.current().pid()}")
    org.apache.spark.sql.graftshim.Shim.deleteOnExit(f)
    f.toString
  }

  /** An EPHEMERAL per-process scratch path for artifacts with no
    * durability contract at all — the replay-feed streaming checkpoints:
    * a MemoryStream source cannot recover from a checkpoint (NOTES.md
    * gotcha 7), so those bytes exist only to satisfy the state-store
    * commit protocol within one run. Prefers tmpfs (/dev/shm) when
    * present so each micro-batch's state commits pay memory latency
    * rather than disk fsync; falls back to java.io.tmpdir. A
    * deployment's checkpoints carry a recovery contract and go to
    * durable storage — never through this helper. */
  def ephemeral(name: String, src: String): String = {
    val shm = new java.io.File("/dev/shm")
    owned(if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(sys.props("java.io.tmpdir")), name, src)
  }

  /** A tmpdir path private to THIS driver process (stable within the
    * process, so reps reuse one location instead of leaking one
    * directory per rep). */
  def perProcess(name: String, src: String): String =
    owned(new java.io.File(sys.props("java.io.tmpdir")), name, src)

  /** `path` emptied for a fresh use: whatever an earlier use left there
    * (a previous rep's sink, index or checkpoint) is removed — a leftover
    * would trip the snapshot stores' stale-batchId guard or make a fresh
    * stream try to resume an old checkpoint. */
  def fresh(path: String): String = {
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
    path
  }
}
