package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `Verify` leaves nothing from an earlier run for selfcheck to read as
  * this run's: not a query's old result when it fails before its write,
  * and not a full contract next to a partial (`SPARK_GRAFT_ONLY`) one. */
class VerifySpec extends AnyFunSuite {

  private def contracts(dir: Path): Set[String] =
    Set("oracle_sql.json", "oracle_sql.partial.json")
      .filter(f => Files.exists(dir.resolve(f)))

  test("a partial contract replaces a stale full one") {
    val dir = Files.createTempDirectory("graft-verify")
    Files.writeString(dir.resolve("oracle_sql.json"), """{"stale": "x"}""")
    Verify.writeContract(dir.toString, """{"q1": "y"}""", partial = true)
    assert(contracts(dir) == Set("oracle_sql.partial.json"))
    assert(Files.readString(dir.resolve("oracle_sql.partial.json")) ==
      """{"q1": "y"}""")
  }

  test("a query that fails before its write leaves no earlier result") {
    val dir = Files.createTempDirectory("graft-verify")
    val stale = Files.createDirectories(dir.resolve("q1/part"))
    Files.writeString(stale.resolve("x.parquet"), "old rows")
    val failed = Verify.dump(dir.toString, "q1")(_ =>
      throw new IllegalStateException("analysis failed"))
    assert(failed == Some("IllegalStateException: analysis failed"))
    assert(!Files.exists(dir.resolve("q1")))
    assert(Verify.dump(dir.toString, "q2")(p =>
      Files.writeString(Path.of(p), "new rows")) == None)
    assert(Files.readString(dir.resolve("q2")) == "new rows")
  }

  test("a full contract replaces a stale partial one") {
    val dir = Files.createTempDirectory("graft-verify")
    Files.writeString(dir.resolve("oracle_sql.partial.json"), "{}")
    Verify.writeContract(dir.toString, """{"q1": "y"}""", partial = false)
    assert(contracts(dir) == Set("oracle_sql.json"))
  }
}
