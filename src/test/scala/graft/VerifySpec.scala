package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `Verify` writes one oracle contract per directory: a partial
  * (`SPARK_GRAFT_ONLY`) dump must not sit next to a full one from an
  * earlier run, which selfcheck would read instead. */
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

  test("a full contract replaces a stale partial one") {
    val dir = Files.createTempDirectory("graft-verify")
    Files.writeString(dir.resolve("oracle_sql.partial.json"), "{}")
    Verify.writeContract(dir.toString, """{"q1": "y"}""", partial = false)
    assert(contracts(dir) == Set("oracle_sql.json"))
  }
}
