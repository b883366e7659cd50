package graft

import java.util.concurrent.FutureTask
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.graft.JobBudget
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.engine.Engine

/** The context class loader the last probed task ran under. Tasks reach
  * it as a static: in local mode driver and executor share one JVM. */
object LoaderProbe {
  val seen = new AtomicReference[ClassLoader]
  def record(): Unit = seen.set(Thread.currentThread.getContextClassLoader)
}

/** Spark caches each generated class under the compiling thread's
  * context class loader, so a source compiles once per loader that asks
  * for it. `Engine.session` keeps the driver thread, SQL tasks, non-SQL
  * RDD tasks and threads started later on one loader, so a whole-stage
  * class compiles once per JVM instead of once on the driver and again
  * in its first task. */
class CodegenLoaderSpec extends SparkSpec {

  private def current: ClassLoader = Thread.currentThread.getContextClassLoader

  /** The loader seen by the tasks `run` launches. */
  private def taskLoader(run: => Unit): ClassLoader = {
    LoaderProbe.seen.set(null)
    run
    val l = LoaderProbe.seen.get
    assert(l != null, "no probed task ran")
    l
  }

  private def sqlTaskLoader(): ClassLoader = taskLoader(
    spark.range(0, 4, 1, 2).toDF("id")
      .foreachPartition((_: Iterator[Row]) => LoaderProbe.record()))

  /** Runs `body` on a fresh thread and hands back what it returned. */
  private def onNewThread[T](body: => T): T = {
    val task = new FutureTask[T](() => body)
    new Thread(task).start()
    task.get()
  }

  test("driver thread, SQL tasks, RDD tasks and later threads share one loader") {
    val sql = sqlTaskLoader()
    val driver = current // after the first touch of the lazy session
    val probe = udf { (id: Long) => LoaderProbe.record(); id }
      .asNondeterministic()
    val checkpoint = taskLoader(Engine.release(Engine.materialize(
      spark.range(0, 4, 1, 2).select(probe(col("id")).as("id")))))
    val rdd = taskLoader(spark.sparkContext.parallelize(1 to 4, 2)
      .foreachPartition(_ => LoaderProbe.record()))
    val thread = onNewThread(current)
    assert(Seq(sql, checkpoint, rdd, thread).forall(_ eq driver),
      s"driver $driver; SQL task $sql; checkpoint task $checkpoint; " +
        s"RDD task $rdd; new thread $thread")
  }

  test("Engine.session from a new thread returns the shared session and " +
    "pins that thread") {
    val task = sqlTaskLoader()
    val (session, pinned) = onNewThread {
      // A loader no task uses, so the pin has to replace it.
      Thread.currentThread.setContextClassLoader(
        new java.net.URLClassLoader(Array.empty, getClass.getClassLoader))
      (Engine.session(), current)
    }
    assert(session eq spark)
    assert(pinned eq task, s"thread loader $pinned, task loader $task")
  }

  test("a one-stage query compiles its whole-stage class once") {
    // Literals are inlined into the generated source: a fresh one per
    // run keeps the class out of the cache. The first run warms the
    // literal-free classes (the row deserializer) of the same shape.
    def query(k: Long) = spark.range(0, 8, 1, 1)
      .selectExpr(s"id * $k + $k AS v").where(s"v <> ${-k}")
    query(System.nanoTime()).collect()
    val k = System.nanoTime()
    val (rows, c) = JobBudget.measure(spark)(query(k).collect())
    assert(rows.map(_.getLong(0)).toSeq == (0L until 8L).map(_ * k + k))
    assert(c.jobs == 1, c)
    assert(c.compiles == 1, c)
  }
}
