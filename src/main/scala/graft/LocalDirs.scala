package graft

/** Shuffle/spill directory selection for the single-node harness.
  *
  * The sandbox's root filesystem is a throttled virtual disk: stack
  * samples of the triangle close at sf1 showed executor threads
  * dominated by `FileOutputStream.write`/`UnixFileSystem.delete`
  * syscalls — shuffle I/O, not compute — with run-to-run wall times
  * swinging 4× under disk contention. Pointing `spark.local.dir` at
  * tmpfs removes the disk from the shuffle path entirely; this is the
  * local-mode analog of the reference's memory-levitated merge
  * (`src/Merger/MergeManager.cc` streams merged runs RDMA-to-memory
  * precisely to keep the reduce path off spinning media). On a real
  * cluster the same knob points at local NVMe — the decision "shuffle
  * never waits on slow storage" is the part that carries to 100 TB.
  *
  * OWNERSHIP, not age: each JVM gets its own `pid-<pid>` subdir, and
  * the sweep removes only pid dirs whose owning process is DEAD. An
  * mtime cutoff cannot distinguish a crashed JVM's leak from a live
  * 9-hour bench session (a Spark local dir's top-level mtime reflects
  * session start, not activity), and dev utilities launched alongside a
  * long round must never delete the live session's shuffle files
  * mid-job (FetchFailed). Liveness via ProcessHandle is exact.
  */
object LocalDirs {
  /** Minimum free tmpfs bytes required to point the shuffle at shm:
    * /dev/shm pages and executor heap share the same physical memory,
    * so building a session against a nearly-full tmpfs trades invisible
    * page-pressure thrash for the disk latency it was avoiding. Below
    * the floor (default 16 GiB, `GRAFT_SHM_MIN_FREE_GB`) the session
    * falls back to the disk tmpdir and says so on stderr — slower but
    * honest. */
  private def shmFloorBytes: Long =
    sys.env.getOrElse("GRAFT_SHM_MIN_FREE_GB", "16").toLong * (1L << 30)

  def dir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val root = new java.io.File(shm, "graft-shuffle")
      root.mkdirs()
      sweepStale(root)
      val free = shm.getUsableSpace
      if (free < shmFloorBytes) {
        System.err.println(f"[graft] /dev/shm free ${free / 1e9}%.1f GB " +
          f"< floor ${shmFloorBytes / 1e9}%.1f GB - shuffle falls back " +
          "to disk tmpdir for this session")
        System.getProperty("java.io.tmpdir")
      } else {
        val mine = new java.io.File(root,
          s"pid-${ProcessHandle.current().pid()}")
        mine.mkdirs()
        mine.getAbsolutePath
      }
    } else System.getProperty("java.io.tmpdir")
  }

  /** Remove scratch dirs owned by DEAD processes (pid-tagged, exact via
    * ProcessHandle) plus any legacy un-tagged spark-* dir older than
    * 24 h (pre-round-10 layout; nothing writes those anymore). */
  private def sweepStale(root: java.io.File): Unit = {
    val legacyCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      val name = f.getName
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) {
        if (name.startsWith("pid-")) {
          val alive = name.stripPrefix("pid-").toLongOption
            .flatMap(p => { val h = ProcessHandle.of(p)
              if (h.isPresent) Some(h.get.isAlive) else Some(false) })
            .getOrElse(false)
          if (!alive) deleteRec(f)
        } else if (f.lastModified() < legacyCutoff) deleteRec(f)
      }
    }
  }

  /** Recursive delete that never FOLLOWS a directory symlink — a link
    * is deleted as a link, so a symlink planted inside the sweep root
    * cannot redirect the recursion outside it. */
  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }
}
