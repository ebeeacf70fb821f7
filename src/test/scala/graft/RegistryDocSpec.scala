package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry index: the registry's names are unique, and
  * README.md's generated section equals `RegistryDoc.table` —
  * documenting without regenerating the README fails here with the
  * one command that fixes it. Also pins Verify's oracle_sql.json to
  * the registry's oracle SQL. */
class RegistryDocSpec extends AnyFunSuite {

  test("registry names are unique") {
    // `queries` is `registry.toMap`, which would keep one of two
    // records sharing a name and drop the other without a word
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"names declared twice: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("Verify's oracle_sql.json parses back to exactly the registry's oracle SQL") {
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.oracleJson, classOf[java.util.Map[String, String]])
    val expected = SparkEntry.registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
    assert(expected.size == 114)
    assert(parsed.size == expected.size)
    expected.foreach { case (n, sql) => assert(parsed.get(n) == sql, s"$n round-trips changed") }
  }

  // Stale docs regenerate ONLY when opted in (GRAFT_REGEN_DOCS=1):
  // the default `sbt test` run never writes to the checkout — a CI
  // or read-only tree gets the actionable failure, not a surprise
  // mutation, and a stale-doc rewrite can't slip into a commit
  // unreviewed. With the flag set the run still fails once so the
  // regenerated diff gets looked at before committing.
  private val RegenOptIn = sys.env.get("GRAFT_REGEN_DOCS").contains("1")
  private def regen(): Unit =
    if (RegenOptIn)
      try RegistryDoc.main(Array.empty)
      catch { case e: Throwable => info(s"auto-regeneration failed: $e") }

  private val StaleHint =
    " was stale — run `sbt \"runMain graft.RegistryDoc\"` (or re-run tests " +
      "with GRAFT_REGEN_DOCS=1 to regenerate in place), review " +
      "`git diff README.md ORACLES.md`, commit, and re-run"

  test("README query index matches the generated table") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val b = readme.indexOf(RegistryDoc.Begin); val e = readme.indexOf(RegistryDoc.End)
    assert(b >= 0 && e > b, "README.md lacks the registry:begin/end markers")
    val section = readme.substring(b + RegistryDoc.Begin.length, e).trim
    if (section != RegistryDoc.table.trim) regen()
    assert(section == RegistryDoc.table.trim, "README registry index" + StaleHint)
  }

  test("ORACLES.md matches the generated oracle-SQL dump") {
    val oracles = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("ORACLES.md")), "UTF-8")
    if (oracles != RegistryDoc.oracles) regen()
    assert(oracles == RegistryDoc.oracles, "ORACLES.md" + StaleHint)
  }
}
