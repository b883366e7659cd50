package graft

import java.nio.file.{Files, Paths}

/** Driver-contract guards: entry() smoke, one catalog entry per name with
  * a twin that the benchmark's checksums were taken under, the
  * `SPARK_GRAFT_ONLY` selection, the mains' shared per-query helpers, and
  * the set of mains itself. */
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
    val blank = SparkEntry.catalog.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank twins: $blank")
  }

  test("query names are unique and stable in count") {
    // A Seq keeps a duplicate name that the views' toMap would drop.
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"names declared twice: $dups")
    assert(SparkEntry.catalog.size == 194)
    assert(SparkEntry.queries.size == 194)
    assert(SparkEntry.oracleSql.size == 194)
  }

  test("every perfbench checksum names a catalog query with the same twin") {
    // query_mix refuses a query whose twin's sha256 differs from the one
    // its checksum was taken under; changing a twin needs a re-taken
    // perfbench/checksums.json.
    import scala.jdk.CollectionConverters._
    val recorded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get("perfbench/checksums.json")))
      .get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.get("oracle_sql_sha256").asText)
      .toSeq
    assert(recorded.size == 194)
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val bad = recorded.collect {
      case (n, sha) if !SparkEntry.oracleSql.get(n).map(sha256).contains(sha)
        => n
    }
    assert(bad.isEmpty, s"missing from the catalog or twin changed: $bad")
  }

  test("both bench baseline tables key only catalog names") {
    val names = SparkEntry.queries.keySet
    assert((BenchBaseline.local.keySet -- names).isEmpty)
    assert((BenchBaselineFrozen.local.keySet -- names).isEmpty)
  }

  test("SPARK_GRAFT_ONLY selects in catalog order and refuses unknown names") {
    assert(SparkEntry.select(None) == SparkEntry.catalog)
    assert(SparkEntry.select(Some(" x_dedup_exact,,q1_pricing_summary "))
      .map(_.name) == Seq("q1_pricing_summary", "x_dedup_exact"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some("q1_pricing_summary,q1,x_dedup_exct"))
    }
    assert(e.getMessage.endsWith("unknown queries: q1, x_dedup_exct"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
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
