package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Registry invariants the docs cite — README/SURVEY counts reference
 * THESE tested constants, so the numbers can't silently drift (it
 * happened three rounds running when they were prose).
 */
class RegistrySpec extends AnyFunSuite {

  test("registry counts match the documented surface") {
    assert(SparkEntry.queries.size == 259)
    assert(SparkEntry.oracleSql.size == 259)
  }

  test("query names and oracle SQL match the pinned digest") {
    // SHA-256 over the UTF-8 bytes of one `name<TAB>oracleSql` line per
    // query, sorted by name and joined with '\n' (no trailing newline).
    // A refactor of the registry keeps it; a deliberate oracle or name
    // change recomputes it and says why in CHANGES.md.
    val lines = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\t$sql" }.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest ==
      "0aa9e9865e2e3b811fe83372444acc44b2524fe6dcb796f2465fcab7a0079f0b")
  }

  test("no oracle carries a lone '|' outside string literals") {
    // the round-8 oracleSql normalization once included stripMargin,
    // which ate the first pipe of any line-leading '||' (two oracles
    // bitten before removal). stripMargin is gone; this guard keeps
    // the corruption class out for good — we never use SQL bitwise
    // OR, so a lone '|' outside string literals is always a mangled
    // concatenation.
    val lone = "(?<!\\|)\\|(?!\\|)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val outsideLiterals = sql.replaceAll("'[^']*'", "''")
      assert(lone.findFirstIn(outsideLiterals).isEmpty,
        s"$name has a lone '|' outside string literals — a mangled " +
          "'||' concatenation; check the oracle literal")
    }
  }

  test("every oracle belongs to a registered query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("the rows-only set is empty — every query is oracle-paired") {
    // round 12 promoted the last 7 sketch/hash-family queries to
    // bounded-error gates (approx AND exact in-plan, constant-row or
    // data-derived oracle verdicts); a rows-only entry reappearing here
    // means a gate was silently demoted
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"rows-only queries crept back: $rowsOnly")
  }
}
