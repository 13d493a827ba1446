package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

/** The one commit protocol for everything built once on disk: the
  * standing indexes ([[StandingIndex]]) and the scale fixtures
  * ([[graft.ScaleFixture]]).
  *
  * A root directory holds numbered generations `g<N>/` and a pointer
  * file naming the committed one. Data becomes real only when the
  * pointer flips (temp file + atomic rename) — the reference's own
  * rule, where a map-output file is served only once its index record
  * exists (src/MOFServer/IndexInfo.h:98-104). A crash anywhere before
  * the flip leaves the committed generation untouched (or nothing
  * committed at all), and the next run sweeps the partial staging dir.
  * Concurrent processes serialize on an OS file lock per root; threads
  * of one JVM on a reentrant lock in front of it.
  *
  * Roots are content-keyed by their callers ([[tag]], [[contentSig]]),
  * so a regenerated-in-place source builds a fresh root instead of
  * serving a stale one; the old root becomes garbage for [[gc]]. A
  * root without a pointer holds nothing committed — including any
  * layout written before this protocol — and is swept before a build.
  */
object Committed {

  /** Content signal of one fixture parquet (dir of part files or a
    * single file): RELATIVE paths + sizes + mtimes, recursing into
    * subdirectories (a hive-partitioned source keeps its leaf files
    * below `col=value/` dirs — a flat listing would miss their churn;
    * relative paths fold layout changes into the signal too). Shared
    * staleness primitive: the standing indexes, the scale fixtures and
    * the BroadcastGuard memo keys use the same signal, so every
    * staleness gate agrees on what "same content" means. */
  private[graft] def contentSig(path: String): String = {
    val f = new File(path)
    if (!f.isDirectory) return s"${f.length}@${f.lastModified}"
    val base = f.toPath
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(d: File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { x =>
        if (x.isDirectory) walk(x)
        else out += s"${base.relativize(x.toPath)}=${x.length}@${x.lastModified}"
      }
    walk(f)
    out.sorted.mkString(",")
  }

  /** 8-hex digest of `parts` joined by `|`. */
  private[graft] def digest(parts: String*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** 8-hex content tag of `<d>/<table>.parquet` (dir + content signal). */
  private[graft] def tag(d: String, table: String): String =
    digest(d, contentSig(s"$d/$table.parquet"))

  private val PointerName = "_GRAFT_CURRENT"
  private val MetaName = "_GRAFT_META"
  private val LastUsedName = "_GRAFT_LAST_USED"
  private val LockName = "_GRAFT_LOCK"

  /** Test-only crash injection: called with a named protocol point;
    * the crash-safety specs make it throw to simulate a kill between
    * steps. */
  private[graft] var crashHook: String => Unit = _ => ()

  /** Committed generation of `root`, or None if nothing was ever
    * committed (by protocol, data becomes real on the pointer flip). */
  private[graft] def currentGen(root: String): Option[Int] = {
    val f = new File(root, PointerName)
    if (!f.exists()) None
    else try Some(new String(Files.readAllBytes(f.toPath), "UTF-8").trim.toInt)
    catch { case _: Throwable => None }
  }

  /** THE commit point: write the generation number to a temp file and
    * atomically rename it over the pointer. Readers see the old
    * generation or the new one, never a partial state. */
  private[graft] def commitGen(root: String, gen: Int): Unit = {
    new File(root).mkdirs()
    val tmp = new File(root, s"$PointerName.tmp")
    Files.write(tmp.toPath, gen.toString.getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(root, PointerName).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def genDir(root: String, gen: Int): String = s"$root/g$gen"

  private[graft] def writeMeta(dir: String, meta: Map[String, String]): Unit = {
    new File(dir).mkdirs()
    Files.write(new File(dir, MetaName).toPath,
      meta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes("UTF-8"))
  }

  private[graft] def readMeta(dir: String): Map[String, String] = {
    val f = new File(dir, MetaName)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator
      .map(_.trim).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
  }

  /** Touch the root's last-used stamp — [[gc]]'s eviction key. */
  private[graft] def touchLastUsed(root: String): Unit =
    try {
      new File(root).mkdirs()
      Files.write(new File(root, LastUsedName).toPath,
        System.currentTimeMillis().toString.getBytes("UTF-8"))
    } catch { case _: Throwable => () }

  private[graft] def deleteRecursive(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete()
  }

  private val jvmLocks = new ConcurrentHashMap[String, ReentrantLock]()

  /** This JVM's lock of `root`, keyed by its normalized path. */
  private def jvmLock(root: String): ReentrantLock =
    jvmLocks.computeIfAbsent(new File(root).getPath, _ => new ReentrantLock())

  /** Serialize work on `root` across threads and PROCESSES (a
    * concurrent Verify and Bench must not double-build or
    * double-append). Reentrant: only the outermost holder in this JVM
    * takes the OS lock, so nested calls never overlap it. */
  private[graft] def withProcessLock[T](root: String)(body: => T): T = {
    val l = jvmLock(root)
    l.lock()
    try {
      if (l.getHoldCount > 1) body
      else {
        new File(root).mkdirs()
        val ch = FileChannel.open(new File(root, LockName).toPath,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try { val fl = ch.lock(); try body finally fl.release() }
        finally ch.close()
      }
    } finally l.unlock()
  }

  /** Remove what a crashed run left behind: every `g<N>` NUMERICALLY
    * NEWER than the pointer is an uncommitted partial (older ones are
    * left for [[gc]]). No pointer at all ⇒ nothing was ever committed
    * ⇒ everything in the root is garbage, except the lock file a
    * holder may have open. */
  private[graft] def sweepUncommitted(root: String): Unit = {
    val children = Option(new File(root).listFiles()).getOrElse(Array.empty)
    currentGen(root) match {
      case None =>
        children.filterNot(_.getName == LockName).foreach(deleteRecursive)
      case Some(g) =>
        children.filter(f => f.isDirectory && f.getName.matches("g\\d+") &&
          f.getName.drop(1).toInt > g).foreach(deleteRecursive)
    }
  }

  /** Build-once: unless `root` already has a committed generation, sweep
    * it, `write` generation 0 into the dir passed, record the build
    * seconds in its meta (`base_sec`), and flip the pointer. Returns the
    * committed generation dir (for an appended index, the newest one). */
  def ensure(root: String)(write: String => Unit): String =
    withProcessLock(root) {
      if (currentGen(root).isEmpty) {
        sweepUncommitted(root)
        val t0 = System.nanoTime()
        write(genDir(root, 0))
        val sec = (System.nanoTime() - t0) / 1e9
        writeMeta(genDir(root, 0), Map("base_sec" -> f"$sec%.3f"))
        crashHook("before_commit")
        commitGen(root, 0)
      }
      touchLastUsed(root)
      genDir(root, currentGen(root).get)
    }

  /** GARBAGE COLLECTION of the roots under `parent`: content-tag churn
    * (every source regeneration mints a new root) orphans whole roots,
    * and each append/compaction leaves its superseded generation behind.
    *
    *  - delete whole roots whose last use (the stamp every [[ensure]]
    *    touches; a root without one: its directory mtime) is older than
    *    `maxAgeMs` — current-content roots are re-touched on every use,
    *    so age-since-use is exactly orphanhood;
    *  - inside every other root with a committed pointer, delete
    *    generation dirs OTHER than the current one whose mtime is older
    *    than `maxAgeMs` (the age gate keeps a generation a concurrent
    *    reader might still hold open).
    *
    * Each root is collected under this JVM's lock of it, so a build,
    * append or compaction in this process never races its collection.
    * Returns (stale generation dirs removed, orphaned roots removed).
    * It only ever deletes what the protocol already defines as garbage. */
  def gc(maxAgeMs: Long, parent: String,
         now: Long = System.currentTimeMillis()): (Int, Int) = {
    val cutoff = now - maxAgeMs
    var gens = 0
    var roots = 0
    for (r <- Option(new File(parent).listFiles()).getOrElse(Array.empty)
         if r.isDirectory) {
      val l = jvmLock(r.getPath)
      l.lock()
      try {
        val lu = new File(r, LastUsedName)
        val lastUsed =
          try new String(Files.readAllBytes(lu.toPath), "UTF-8").trim.toLong
          catch { case _: Throwable => r.lastModified }
        if (lastUsed < cutoff) { deleteRecursive(r); roots += 1 }
        else currentGen(r.getPath).foreach { g =>
          Option(r.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.matches("g\\d+") &&
              f.getName.drop(1).toInt != g && f.lastModified < cutoff)
            .foreach { f => deleteRecursive(f); gens += 1 }
        }
      } finally l.unlock()
    }
    (gens, roots)
  }
}
