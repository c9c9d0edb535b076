package ptx

import org.scalatest.funsuite.AnyFunSuite

/** Doc lockstep guard: README.md and SURVEY.md carry human-written count
  * literals (total declared queries, oracled count, ◌ count, per-group
  * sizes) that drift under hand-editing. QueryIndex already computes every
  * number from the live registry; this spec pins the DOC literals to those
  * computed values, so adding a query without regenerating the prose fails
  * a named test here. The same holds for tool recipes: every
  * `ptx.tools.<Name>` a doc or script names must still exist.
  */
class DocsLockstepSpec extends AnyFunSuite {

  private def readText(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private lazy val total = QueryRegistry.all.size
  private lazy val oracled = QueryRegistry.oracleSql.size
  private lazy val sketch = total - oracled

  /** Extract the single integer captured by `re` (dot matches newline —
    * the prose wraps mid-sentence). Fails loudly if the anchor text is
    * gone, so a rewording can't silently disable the guard. */
  private def extract(text: String, re: String, what: String): Seq[Int] = {
    val m = ("(?s)" + re).r.findAllMatchIn(text).map(_.group(1).toInt).toSeq
    assert(m.nonEmpty, s"lockstep anchor not found: $what (/$re/)")
    m
  }

  test("README.md count literals match the live registry") {
    val readme = readText("README.md")
    assert(extract(readme, """\*\*(\d+) declared batch queries\*\*""",
      "README declared-batch-queries total") == Seq(total),
      s"README '**N declared batch queries**' drifted from $total")
    assert(extract(readme, """(\d+) of\s+them are verified""",
      "README verified-count sentence") == Seq(oracled),
      s"README oracled count drifted from $oracled")
    assert(extract(readme, """the\s+(\d+) sketch/approximate/iterative ops""",
      "README sketch-op count") == Seq(sketch),
      s"README ◌ count drifted from $sketch")
    // the preflight quote and the last-recorded-preflight line both name
    // the oracled count and the dump size
    assert(extract(readme, """→ "(\d+) ok, 0 bad"""",
      "README preflight quote") == Seq(oracled),
      s"README preflight quote drifted from '$oracled ok, 0 bad'")
    assert(extract(readme, """\*\*(\d+) ok, 0 bad\*\*""",
      "README last-recorded preflight") == Seq(oracled),
      s"README recorded preflight drifted from '$oracled ok'")
    assert(extract(readme, """across the (\d+)-query dump""",
      "README dump size") == Seq(total),
      s"README 'N-query dump' drifted from $total")
  }

  test("SURVEY.md inventory totals match the live registry") {
    val survey = readText("SURVEY.md")
    assert(extract(survey, """(\d+) declared batch queries""",
      "SURVEY inventory total").head == total,
      s"SURVEY 'N declared batch queries' drifted from $total")
    assert(extract(survey, """\((\d+) with oracle ✓""",
      "SURVEY oracled count") == Seq(oracled),
      s"SURVEY oracled count drifted from $oracled")
    assert(extract(survey, """—\s*(\d+) total, kept in lockstep""",
      "SURVEY group-size total") == Seq(total),
      s"SURVEY group-size total drifted from $total")
  }

  test("docs/QUERIES.md totals match the live registry (regen after adding queries)") {
    // the generated index drifts exactly like the prose if QueryIndex
    // isn't re-run after a registry change — pin its Total line too
    val queries = readText("docs/QUERIES.md")
    assert(extract(queries, """Total: (\d+) queries, (\d+) with oracles"""
      .replace("(\\d+) with", "\\d+ with"), "QUERIES.md total") == Seq(total),
      s"docs/QUERIES.md total drifted from $total — run `sbt \"runMain ptx.tools.QueryIndex\"`")
    assert(extract(queries, """Total: \d+ queries, (\d+) with oracles""",
      "QUERIES.md oracled total") == Seq(oracled),
      s"docs/QUERIES.md oracled count drifted from $oracled — regenerate it")
    // and every registry key must appear as a table row
    QueryRegistry.all.keySet.foreach(k =>
      assert(queries.contains(s"`$k`"), s"docs/QUERIES.md is missing `$k` — regenerate it"))
  }

  test("every ptx.tools main named in the docs and scripts exists") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def under(dir: String): Seq[Path] =
      if (!Files.isDirectory(Paths.get(dir))) Nil
      else scala.util.Using.resource(Files.walk(Paths.get(dir)))(
        _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    val docs = Paths.get("README.md") +: (
      under("docs").filter(_.toString.endsWith(".md")) ++
        under("scripts") ++ under(".claude/skills"))
    val named = docs.flatMap { p =>
      """ptx\.tools\.([A-Z]\w*)""".r.findAllMatchIn(readText(p.toString))
        .map(m => s"$p: ptx.tools.${m.group(1)}" -> s"ptx.tools.${m.group(1)}$$")
    }.distinct
    assert(named.nonEmpty, "no ptx.tools recipe found in the docs")
    val missing = named.collect { case (where, cls)
      if scala.util.Try(Class.forName(cls, false, getClass.getClassLoader)).isFailure =>
        where }
    assert(missing.isEmpty,
      s"docs name ptx.tools mains that do not exist: ${missing.mkString("; ")}")
  }

  test("SURVEY.md per-group sizes match each module's query map") {
    val survey = readText("SURVEY.md")
    val sizes = """G(\d+)=(\d+)""".r.findAllMatchIn(survey)
      .map(m => m.group(1).toInt -> m.group(2).toInt).toSeq
    assert(sizes.nonEmpty, "SURVEY group-sizes line not found")
    val want = Map(
      1 -> ops.Scans.queries.size, 2 -> ops.FilterProject.queries.size,
      3 -> ops.Joins.queries.size, 4 -> ops.Aggregates.queries.size,
      5 -> ops.Windows.queries.size, 6 -> ops.SortLimit.queries.size,
      7 -> ops.SetOps.queries.size, 8 -> ops.ScalarFns.queries.size,
      9 -> ops.Telemetry.queries.size, 11 -> ops.LlmData.queries.size,
      12 -> ops.TextAnalysis.queries.size, 13 -> ops.LlmScale.queries.size,
      14 -> ops.Multimodal.queries.size, 15 -> ops.Extras.queries.size,
      16 -> ops.Curation.queries.size, 17 -> ops.Composite.queries.size)
    sizes.foreach { case (g, n) =>
      want.get(g).foreach(w =>
        assert(n == w, s"SURVEY group size G$g=$n drifted from $w"))
    }
    assert(sizes.map(_._1).toSet == want.keySet,
      "SURVEY group-sizes line is missing a group (or names an unknown one)")
  }
}
