package graft

import org.scalatest.funsuite.AnyFunSuite

/** The stale-scratch startup sweep (r15 verdict item 3): a SIGKILLed
  * JVM skips its shutdown hook and leaves `graft_io/p<nonce>/` behind;
  * the next process to initialize `core/Scratch` sweeps sibling roots
  * older than 24 h. The sweep is mtime-gated so a concurrent LIVE
  * process's root is never deleted from under it — both halves pinned
  * here on a planted base directory (never the live root, so this spec
  * is safe to run alongside anything using Scratch).
  */
class ScratchSweepSpec extends AnyFunSuite {

  private def plantRoot(base: java.nio.file.Path, name: String,
                        ageMs: Long): java.nio.file.Path = {
    val root = base.resolve(name)
    val nested = root.resolve("csv").resolve("part")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.writeString(nested.resolve("payload.txt"), "stale bytes")
    val stamp = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - ageMs)
    // only the TOP dir's mtime gates the sweep (Scratch stamps it at
    // process start); leaf mtimes are irrelevant by design
    java.nio.file.Files.setLastModifiedTime(root, stamp)
    root
  }

  test("sweepStale removes orphaned roots and keeps live ones") {
    val base = java.nio.file.Files.createTempDirectory("graft_sweep_spec")
    try {
      val stale = plantRoot(base, "pdeadbeef", ageMs = 48L * 3600 * 1000)
      val live = plantRoot(base, "p12345678", ageMs = 0L)
      graft.core.Scratch.sweepStale(base, graft.core.Scratch.staleAfterMs)
      assert(!java.nio.file.Files.exists(stale),
        "a 48h-old orphaned root survived the startup sweep")
      assert(java.nio.file.Files.exists(live.resolve("csv").resolve("part")
          .resolve("payload.txt")),
        "the sweep deleted a fresh (live-process) root or its contents")
    } finally {
      // best-effort cleanup of the spec's own temp base
      graft.core.Scratch.sweepStale(base, -1L)
      java.nio.file.Files.deleteIfExists(base)
    }
  }

  test("dir()/path() refresh the live root's mtime past the rate limit") {
    // r16 advisor: the root's mtime was only stamped at process start,
    // so a JVM alive > 24 h would have its LIVE root swept by any newly
    // launched process. dir()/path() now re-touch the root, rate-limited
    // by touchIntervalMs — rewind the limiter and age the root instead
    // of sleeping an hour.
    val root = java.nio.file.Paths.get(graft.core.Scratch.dir("touch_probe"))
      .getParent
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 25L * 3600 * 1000)
    java.nio.file.Files.setLastModifiedTime(root, old)
    graft.core.Scratch.lastTouchMs.set(
      System.currentTimeMillis() - graft.core.Scratch.touchIntervalMs - 1)
    graft.core.Scratch.path("touch_probe2")
    val mtime = java.nio.file.Files.getLastModifiedTime(root).toMillis
    assert(System.currentTimeMillis() - mtime < 60000,
      "a dir()/path() call past the rate limit did not refresh the live " +
        "root's mtime — a >24h JVM's scratch would be swept from under it")
  }

  test("sweepStale on a missing base is a no-op, not a throw") {
    val ghost = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_sweep_spec_missing")
    graft.core.Scratch.sweepStale(ghost, graft.core.Scratch.staleAfterMs)
  }

  test("stagingName keeps sf paths apart that sanitize alike") {
    val (a, b) = ("/a/b", "/a_b")
    assert(a.replaceAll("[^A-Za-z0-9._-]", "_") == b.replaceAll("[^A-Za-z0-9._-]", "_"),
      "the fixture paths must collide under sanitization alone")
    val (na, nb) = (graft.core.Scratch.stagingName("e4_events", a),
      graft.core.Scratch.stagingName("e4_events", b))
    assert(na != nb, s"/a/b and /a_b share the staging name $na")
    assert(na.startsWith("e4_events__a_b_") && nb.startsWith("e4_events__a_b_"))
  }

  test("staged runs its build once when two first calls race") {
    // a memo that looks up, builds, then inserts lets both racing first
    // calls build: two staging writes into one overwrite-mode dir
    val sf = s"/staged_spec/${java.util.UUID.randomUUID()}"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val go = new java.util.concurrent.CountDownLatch(1)
    val paths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq.fill(2)(new Thread(() => {
      go.await()
      paths.add(graft.core.Scratch.staged("staged_spec", sf) { dir =>
        builds.incrementAndGet()
        Thread.sleep(300)
        dir
      })
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(60000))
    assert(builds.get == 1, s"the build ran ${builds.get} times for one key")
    val got = paths.toArray(Array.empty[String]).toSeq
    assert(got.size == 2 && got.distinct.size == 1, s"the racing calls got $got")
    assert(got.head.endsWith(graft.core.Scratch.stagingName("staged_spec", sf)))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(got.head)))
  }
}
