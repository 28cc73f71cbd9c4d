package graft

import org.scalatest.funsuite.AnyFunSuite

/** Docs-code drift tripwire. Round 5 shipped nine queries that were
  * documented as covered but never registered (dead code the harness never
  * ran); the structural fix is asserting the two directions that can rot:
  *
  *   1. every query declared in `SparkEntry.queries` is documented by name
  *      in COVERAGE.md (an undocumented operator is invisible to review);
  *   2. every query name cited in COVERAGE.md resolves to a declared query
  *      (a documented-but-unregistered operator is the round-5 bug).
  *
  * Direction 2 extracts backticked tokens that look like query names and
  * checks only those that share a declared query's family prefix — code
  * identifiers in backticks (methods, classes, configs) don't match.
  */
class CoverageSpec extends AnyFunSuite {
  private lazy val declared: Set[String] = SparkEntry.queries.keySet.toSet
  private lazy val doc: String = java.nio.file.Files.readString(
    java.nio.file.Paths.get("COVERAGE.md"))

  test("every declared query is documented in COVERAGE.md") {
    val undocumented = declared.filterNot(n => doc.contains(s"`$n`"))
    assert(undocumented.isEmpty,
      s"queries declared but absent from COVERAGE.md: ${undocumented.toSeq.sorted}")
  }

  test("every query-shaped name cited in COVERAGE.md is actually declared") {
    val families = declared.map(_.takeWhile(_ != '_')).filter(_.nonEmpty)
    val cited = "`([a-z][a-z0-9]*(?:_[a-z0-9]+)+)`".r
      .findAllMatchIn(doc).map(_.group(1)).toSet
      // only tokens in a declared family's namespace are claims about
      // queries; other snake_case backticks are code/config identifiers
      .filter(n => families.contains(n.takeWhile(_ != '_')))
      // known non-query identifiers sharing a family prefix
      .filterNot(Set("text_quality_gates", "split_thresholds"))
    val phantom = cited -- declared
    assert(phantom.isEmpty,
      s"COVERAGE.md cites query-like names that are not declared " +
        s"(the round-5 dead-code bug): ${phantom.toSeq.sorted}")
  }

  // README drifted off the real totals twice (r5: '9 undeclared queries
  // documented'; r6: '169-query sweep' vs 168 registered) — so the README's
  // own numeric claims are asserted against the live surface too.
  private lazy val readme: String = java.nio.file.Files.readString(
    java.nio.file.Paths.get("README.md"))

  test("README's N-query sweep claim equals the registered surface") {
    val counts = "(\\d+)-query sweep".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(counts.nonEmpty, "README must state the N-query sweep total")
    assert(counts.forall(_ == declared.size),
      s"README claims ${counts.distinct.sorted}-query sweep(s) but " +
        s"${declared.size} queries are registered")
  }

  test("README's oracle-checked/rows-only split matches SparkEntry") {
    // ml_rf_score's compiled-forest oracle appears once a model is trained
    // in-process, so its presence depends on suite order — the README
    // documents the stable fresh-JVM split and notes the dynamic upgrade
    val dynamicOracle = Set("ml_rf_score")
    val nOracle = (SparkEntry.oracleSql.keySet -- dynamicOracle).size
    val nRowsOnly = declared.size - nOracle
    val m = "(\\d+) oracle-checked \\+ (\\d+) rows-only".r
      .findFirstMatchIn(readme)
    assert(m.isDefined, "README must state the oracle/rows-only split")
    assert(m.get.group(1).toInt == nOracle && m.get.group(2).toInt == nRowsOnly,
      s"README says '${m.get.matched}' but the surface is " +
        s"$nOracle oracle-checked + $nRowsOnly rows-only")
  }

  test("each _recall_materialized twin aliases its anchor: same fn, same oracle") {
    val defs = SparkEntry.allDefs.map(q => q.name -> q).toMap
    val twins = defs.keySet.filter(_.endsWith("_recall_materialized"))
    assert(twins == Set("dedup_dfcap_recall_materialized",
      "dedup_minhash_recall_materialized", "dedup_simhash_recall_materialized"))
    twins.foreach { twin =>
      val anchor = defs(twin.stripSuffix("_materialized"))
      assert(defs(twin).fn eq anchor.fn, s"$twin has its own body")
      assert(defs(twin).oracle == anchor.oracle, s"$twin has its own oracle")
    }
  }
}
