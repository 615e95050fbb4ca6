package graft.core

/** Per-PROCESS scratch root for every fixed-name staging dir, model
  * path, and roundtrip sink the gated queries use
  * (`$TMPDIR/graft_io/p<nonce>/...`).
  *
  * Why a process nonce (the r14 advisor's mm3 finding, generalized):
  * a deterministic path keyed only on the sf dir is shared by every
  * process on the machine, so two harness processes on the same sf —
  * bench and correctness running concurrently — race each other's
  * overwrite-mode writes (one process's lazy parquet scan reads files
  * the other is mid-rewrite: FileNotFoundException or torn reads), and
  * checkpoint scratch shared across processes corrupts streaming state
  * outright. A per-process root keeps every intra-process property the
  * queries rely on — staging memos still pay their copy once per
  * process, Bench's min-of-N overwrites still reuse one directory —
  * while making cross-process interference structurally impossible.
  *
  * Lifecycle: one shutdown hook deletes the whole root best-effort at
  * JVM exit. A SIGKILLed JVM skips its hook and leaves its root behind;
  * the next process to initialize Scratch sweeps sibling roots whose
  * mtime is older than [[staleAfterMs]] (24 h — far past any harness
  * run's lifetime, so concurrent LIVE processes are untouched), closing
  * the one documented residue.
  */
object Scratch {

  /** Sibling roots older than this are presumed orphaned by a killed
    * JVM and swept at startup. 24 h: an order of magnitude past the
    * longest harness run, so a concurrent live process's root (created
    * minutes to hours ago) can never be swept from under it — and a
    * LIVE process older than that keeps its root alive by re-touching
    * the root's mtime on use (see [[touchRoot]]), so the gate stays
    * honest for arbitrarily long-lived JVMs (servers, long sessions),
    * not just harness runs (the r16 advisor note: the mtime was only
    * ever stamped at process start).
    */
  private[graft] val staleAfterMs: Long = 24L * 3600 * 1000

  /** Minimum interval between root-mtime refreshes — dir()/path() are
    * called on hot paths, so the touch is rate-limited to one syscall
    * per hour; 1 h << [[staleAfterMs]], so any process that used its
    * scratch root within the sweep window has a fresh mtime.
    */
  private[graft] val touchIntervalMs: Long = 3600L * 1000

  /** Last root-touch epoch ms; package-visible so ScratchSweepSpec can
    * rewind it and exercise the refresh without a 1 h sleep.
    */
  private[graft] val lastTouchMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** Refresh the live root's mtime (rate-limited, best-effort) so the
    * stale sweep's 24 h gate never fires on a root its own process is
    * still using.
    */
  private def touchRoot(): Unit = {
    val now = System.currentTimeMillis()
    val prev = lastTouchMs.get()
    if (now - prev >= touchIntervalMs && lastTouchMs.compareAndSet(prev, now)) {
      try java.nio.file.Files.setLastModifiedTime(root,
        java.nio.file.attribute.FileTime.fromMillis(now))
      catch { case _: Exception => () }
    }
  }

  /** Delete `dir` recursively, deepest-first, best-effort. The walk
    * stream is closed explicitly (it holds a directory handle);
    * deepest-first comes from reverse-sorting the paths — a child path
    * is lexicographically greater than its parent, so reverse order
    * deletes children before directories (the r16 advisor note: don't
    * rely on walk's preorder plus a reverse).
    */
  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
                      catch { case _: Exception => () })
    } finally walk.close()
  }

  /** Best-effort sweep of stale per-process roots under `base`
    * (`$TMPDIR/graft_io`): every child whose mtime is older than
    * `maxAgeMs` is deleted recursively. mtime-gated so concurrent live
    * processes keep their roots; the gate checks the TOP dir only,
    * which createDirectories stamps at process start and [[touchRoot]]
    * re-stamps on use (rate-limited hourly), hence the generous 24 h
    * margin stays honest even for JVMs that outlive it. Package-visible
    * so ScratchSweepSpec can drive it on a planted directory without
    * touching the live root.
    */
  private[graft] def sweepStale(base: java.nio.file.Path, maxAgeMs: Long): Unit = {
    try {
      if (!java.nio.file.Files.isDirectory(base)) return
      val cutoff = System.currentTimeMillis() - maxAgeMs
      val children = java.nio.file.Files.list(base)
      try {
        import scala.jdk.CollectionConverters._
        children.iterator().asScala.toSeq.foreach { child =>
          try {
            val mtime = java.nio.file.Files.getLastModifiedTime(child).toMillis
            if (mtime < cutoff) deleteRecursively(child)
          } catch { case _: Exception => () }
        }
      } finally children.close()
    } catch { case _: Exception => () }
  }

  private val root: java.nio.file.Path = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_io")
    sweepStale(base, staleAfterMs)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val p = base.resolve(s"p$nonce")
    java.nio.file.Files.createDirectories(p)
    sys.addShutdownHook {
      try deleteRecursively(p) catch { case _: Exception => () }
    }
    p
  }

  /** Path under the process root, created as a directory. */
  def dir(name: String): String = {
    touchRoot()
    val p = root.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Name of a per-sf scratch entry: `tag`, the sanitized `sf` path
    * (readability) and the full md5 of the raw path (collision-freedom).
    * Sanitization alone is not injective (`/a/b` and `/a_b` both
    * sanitize to `_a_b`), and a 32-bit hashCode could collide silently
    * once memoized.
    */
  def stagingName(tag: String, sf: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sf.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${tag}_${sf.replaceAll("[^A-Za-z0-9._-]", "_")}_$digest"
  }

  /** One entry of the [[staged]] memo: the map insert only places this
    * holder, and the build runs under the holder's own lock (a lazy
    * val), so one key's staging never blocks another's. A build that
    * throws leaves the value unset and the next call retries it.
    */
  private final class Once(build: => Any) { lazy val value: Any = build }

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, Once]()

  /** `build(dir)` for the created scratch dir [[stagingName]]`(tag,
    * sf)`, run at most once per key in this process: every later or
    * concurrent call gets the first call's result. The per-sf staging
    * copies the streaming and write gates read are built here, once,
    * and a concurrent first call waits for the build instead of
    * rewriting the same overwrite-mode dir under it.
    */
  def staged[T](tag: String, sf: String)(build: String => T): T = {
    val name = stagingName(tag, sf)
    stagedDirs.computeIfAbsent(name, _ => new Once(build(dir(name)))).value.asInstanceOf[T]
  }

  /** Path under the process root, NOT pre-created — for sinks whose
    * writers own directory creation (parquet/checkpoint writers).
    */
  def path(name: String): String = {
    touchRoot()
    root.resolve(name).toString
  }
}
