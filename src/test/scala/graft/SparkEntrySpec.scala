package graft

import java.nio.file.{Files, Paths}

/** Driver-contract guards: entry() smoke, oracleSql ⊆ queries with
  * consistent naming (a dangling oracle key would silently skip a check),
  * the mains' shared per-query helpers, and the set of mains itself. */
class SparkEntrySpec extends SparkSpec {

  test("entry() returns rows on the sf0.001 fixture (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle entries without queries: $dangling")
  }

  test("every registered query carries an oracle (no rows-only checks left)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"rows-only queries: $rowsOnly")
  }

  test("query names are unique and stable in count") {
    // r13 second wave: +x_privacy_ldiv, x_layout_zorder,
    // x_layout_hilbert, x_layout_zorder3, x_label_vote,
    // x_label_reliability, x_embed_abtt, x_graph_lpa, x_pack_balanced,
    // x_embed_moments, x_sample_pps
    assert(SparkEntry.queries.size == 194)
    assert(SparkEntry.oracleSql.size == 194)
  }

  test("attempt records a non-fatal failure and lets a fatal one through") {
    assert(SparkEntry.attempt(()) == None)
    assert(SparkEntry.attempt(throw new RuntimeException("x")) ==
      Some("RuntimeException: x"))
    assert(SparkEntry.attempt(throw new IllegalStateException("y" * 300))
      == Some("IllegalStateException: " + "y" * 200))
    intercept[StackOverflowError] {
      SparkEntry.attempt(throw new StackOverflowError("deep plan"))
    }
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    assert(SparkEntry.jsonString("a\"b\\c\td\ne\rf\u0001g") ==
      "\"a\\\"b\\\\c\\td\\ne\\rf\\u0001g\"")
  }

  test("the only mains in src/main are Bench, Verify, tools.Explain and " +
    "the jobs.*Job objects") {
    import scala.jdk.CollectionConverters._
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = ("""(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+""" +
      """|case\s+)*object\s+(\w+)""").r
    val main = """def main\(|extends App\b""".r
    val mains = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val prefix = pkg.findFirstMatchIn(src).fold("")(_.group(1) + ".")
        val objects = obj.findAllMatchIn(src).toSeq
        main.findAllMatchIn(src).map { m =>
          prefix + objects.filter(_.start < m.start).lastOption
            .fold(s"<no object in $p>")(_.group(1))
        }
      }.toSet
    val (jobs, others) =
      mains.partition(_.matches("""graft\.jobs\.\w+Job"""))
    assert(jobs.nonEmpty)
    assert(others == Set("graft.Bench", "graft.Verify", "graft.tools.Explain"),
      others)
  }
}
