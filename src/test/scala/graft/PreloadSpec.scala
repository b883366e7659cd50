package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.engine.Engine

/** The class preload list `Engine.session` walks on idle cores at cold
  * start. A list that no longer loads (a Spark upgrade renamed its
  * classes) fails here instead of silently losing the gain. */
class PreloadSpec extends SparkSpec {

  private val loader = Engine.getClass.getClassLoader

  private lazy val names: IndexedSeq[String] = Engine.preloadNames

  test("every preload entry is a binary class name, listed once") {
    val binary = """[\p{L}_$][\p{L}\p{N}_$]*(\.[\p{L}_$][\p{L}\p{N}_$]*)*""".r
    assert(names.nonEmpty, s"${Engine.PreloadList} is not on the class path")
    val bad = names.filterNot(binary.matches)
    assert(bad.isEmpty, bad.take(10))
    val dup = names.diff(names.distinct)
    assert(dup.isEmpty, dup.take(10))
  }

  test("no preload entry is the benchmark's, a test class, a lambda or " +
    "a generated class") {
    val testClasses =
      Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val bad = names.filter { n =>
      n.startsWith("perfbench.") || n.startsWith("org.scalatest.") ||
        n.startsWith("org.scalactic.") || n.contains("$$Lambda") ||
        n.contains("GeneratedClass") ||
        Files.exists(testClasses.resolve(n.replace('.', '/') + ".class"))
    }
    assert(bad.isEmpty, bad.take(10))
  }

  test("at least 99% of preload entries load on the current class path") {
    val missing = names.filterNot { n =>
      try { Class.forName(n, false, loader); true }
      catch { case _: ClassNotFoundException | _: LinkageError => false }
    }
    assert(missing.size * 100 <= names.size,
      s"${missing.size} of ${names.size} do not load: ${missing.take(10)}")
  }

  test("the class preload thread 0 initializes exists") {
    assert(Class.forName(Engine.IcuTable, false, loader).getName ==
      Engine.IcuTable)
  }

  test("a second Engine.session call starts no new preload threads") {
    assert(spark eq Engine.session()) // the suite's session came first
    val started = Engine.preloaders
    assert(started.size ==
      math.max(0, math.min(4, Runtime.getRuntime.availableProcessors - 1)))
    assert(Engine.session() eq spark)
    val live = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-preload-"))
    assert(Engine.preloaders eq started)
    assert(live.forall(t => started.exists(_ eq t)), live)
    started.foreach(_.join(120000))
    assert(started.forall(!_.isAlive), "a preload thread is still running")
  }
}
