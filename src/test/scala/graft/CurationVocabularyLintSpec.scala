package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint guard: each curation verdict reason is spelled as a string
  * literal in at most one `src/main` file, so the gate list in
  * `graft.llm.Curation` stays the only place that names the gates (the
  * verdict used to be written out five times, each with its own copy of
  * the vocabulary). */
class CurationVocabularyLintSpec extends AnyFunSuite {

  private val Reasons = Seq("exact_dup", "domain_capped", "low_quality", "off_label",
    "low_lp", "contaminated", "near_duplicate")

  test("each curation reason literal appears in at most one src/main/scala file") {
    val spread = Reasons.map { r =>
      r -> MainSources.all.collect { case (p, text) if text.contains("\"" + r + "\"") => p.toString }.sorted
    }.filter(_._2.size > 1)
    assert(spread.isEmpty,
      "reason literals in more than one file — name the gate through " +
        "graft.llm.Curation's gate list instead: " +
        spread.map { case (r, files) => s"$r: ${files.mkString(", ")}" }.mkString("; "))
  }
}
