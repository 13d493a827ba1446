package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's forced-broadcast budget table is the audit map for the
  * engine's one class of deliberate optimizer bypasses (r12 VERDICT
  * item 7): every `broadcast()` call site must have a declared size
  * model and fallback. This pins the inventory the way DocsCoverageSpec
  * pins the query registry, at CALL-SITE granularity (review r13: a
  * filename pin alone could not catch a new unguarded hint added to an
  * already-listed file): comments are stripped before matching, and the
  * expected per-file site count is pinned below — adding a forced
  * broadcast ANYWHERE fails this test until the new site's size model
  * and fallback are declared in the README table and the count here is
  * bumped. Pure file check. */
class BroadcastBudgetSpec extends AnyFunSuite {

  /** Non-comment `broadcast(` call sites per file — the audited
    * inventory behind README's budget table. */
  private val Budget = Map(
    "BroadcastGuard.scala" -> 1, // admit: the one measured admission
    "ScaleFixture.scala" -> 2, // factor-row replica index (bench tooling)
    "EventsStreaming.scala" -> 1, // stream-static dim enrichment
    "Prefix.scala" -> 3, // one row per bucket carries
    "Upsert.scala" -> 1, // batch key table (upsertSmallSource contract)
    "Ann.scala" -> 5, // few-query query/candidate tables
    "Analytics.scala" -> 6, // star dim, per-source/enum stats, frontier
    "LlmOps.scala" -> 7, // enum/global stats + kmeans centroids
    "Relational.scala" -> 6, // TPC-H dims (star-join contract)
    "Shape.scala" -> 1) // event-type dim

  /** Count `broadcast(` call sites in CODE only — a char-level scanner
    * tracking comment AND string/char-literal state (ADVICE r13: regex
    * comment-stripping treated `//` inside a string literal like
    * "s3://x" as a comment start and silently under-counted the rest of
    * the line, defeating the audit). */
  private[graft] def countBroadcastSites(t: String): Int = {
    val needle = "broadcast("
    var i = 0
    var n = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (t.startsWith("//", i)) { // line comment
        while (i < t.length && t.charAt(i) != '\n') i += 1
      } else if (t.startsWith("/*", i)) { // block comment (non-nested)
        i += 2
        while (i < t.length && !t.startsWith("*/", i)) i += 1
        i = math.min(t.length, i + 2)
      } else if (t.startsWith("\"\"\"", i)) { // triple-quoted string
        i += 3
        while (i < t.length && !t.startsWith("\"\"\"", i)) i += 1
        i = math.min(t.length, i + 3)
      } else if (c == '"') { // plain string literal
        i += 1
        while (i < t.length && t.charAt(i) != '"') {
          if (t.charAt(i) == '\\') i += 1
          i += 1
        }
        i += 1
      } else if (c == '\'' &&
          (t.regionMatches(i + 2, "'", 0, 1) ||
           (t.regionMatches(i + 1, "\\", 0, 1) &&
            t.regionMatches(i + 3, "'", 0, 1)))) {
        // char literal ('x' or '\n'); an unclosed quote (a legacy
        // Symbol) falls through and scans as plain code
        i += (if (t.charAt(i + 1) == '\\') 4 else 3)
      } else if (t.startsWith(needle, i)) {
        n += 1
        i += needle.length
      } else i += 1
    }
    n
  }

  test("scanner: literals and comments never hide or fake a call site") {
    assert(countBroadcastSites("""val u = "s3://x"; broadcast(dim)""") == 1,
      "a // inside a string must not eat the rest of the line")
    assert(countBroadcastSites("""val u = "a/*b"; broadcast(dim)""") == 1,
      "a /* inside a string must not open a comment")
    assert(countBroadcastSites("// broadcast(dim)") == 0)
    assert(countBroadcastSites("/* broadcast(dim) */ val x = 1") == 0)
    assert(countBroadcastSites("val s = \"broadcast(\"; broadcast(d)") == 1,
      "the needle inside a string is not a call site")
    assert(countBroadcastSites("val c = '\"'; broadcast(d)") == 1,
      "a char-literal quote must not open a string")
    assert(countBroadcastSites("\"\"\"x // broadcast( y\"\"\"") == 0,
      "triple-quoted string contents are not code")
    assert(countBroadcastSites("broadcast(a).join(broadcast(b))") == 2)
  }

  test("every forced-broadcast call site is budgeted in README's table") {
    val repo = java.nio.file.Paths.get("").toAbsolutePath // the checkout
    val readme = new String(
      java.nio.file.Files.readAllBytes(repo.resolve("README.md")), "UTF-8")
    val header = "### Forced-broadcast budget"
    assert(readme.contains(header), "README budget section missing")
    val section = readme.substring(readme.indexOf(header))
      .split("\n## ", 2).head
    val srcRoot = repo.resolve("src/main/scala")
    val found = scala.collection.mutable.Map[String, Int]()
    java.nio.file.Files.walk(srcRoot).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = countBroadcastSites(new String(
          java.nio.file.Files.readAllBytes(p), "UTF-8"))
        if (n > 0) found(p.getFileName.toString) = n
      }
    }
    val drift = (found.keySet ++ Budget.keySet).toSeq.sorted.flatMap { f =>
      (found.getOrElse(f, 0), Budget.getOrElse(f, 0)) match {
        case (a, b) if a == b => None
        case (a, b) => Some(s"$f: $a sites vs $b budgeted")
      }
    }
    assert(drift.isEmpty,
      s"forced-broadcast inventory drift — declare each new site's size " +
        s"model + fallback in README's budget table and update Budget " +
        s"here: ${drift.mkString("; ")}")
    val undocumented = found.keySet.filterNot(section.contains)
    assert(undocumented.isEmpty,
      s"files with forced broadcasts missing from README's budget " +
        s"table: ${undocumented.mkString(", ")}")
  }
}
