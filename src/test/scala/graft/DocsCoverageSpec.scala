package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's operator-coverage table is the audit map from SURVEY §2 rows
  * to evidence; the r11 verdict found five registered queries missing
  * from it (holes cost audit time). This pins the invariant: every name
  * in `SparkEntry.queries` must appear in README.md. Pure file check —
  * no Spark session (the registry is a Map of unapplied functions). */
class DocsCoverageSpec extends AnyFunSuite {

  test("every registered query is documented in README.md") {
    val repo = java.nio.file.Paths.get("").toAbsolutePath // the checkout
    val readme = new String(
      java.nio.file.Files.readAllBytes(repo.resolve("README.md")), "UTF-8")
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(readme.contains)
    assert(missing.isEmpty,
      s"queries registered but absent from README's coverage table: " +
        missing.mkString(", "))
  }
}
