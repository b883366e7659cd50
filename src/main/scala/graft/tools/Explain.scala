package graft.tools

import graft.SparkEntry

/** Plan-audit tool: runs each named query (all registered queries when no
  * names given) to completion against a fixture dir, then prints its
  * formatted plan. Once AQE has executed a query, its plan shows both the
  * `== Final Plan ==` (what actually ran: ReusedExchange / stage-reuse
  * nodes, the join strategies AQE switched to) and the
  * `== Initial Plan ==` (the static shape, which can show duplicate
  * subtrees that AQE dedupes at runtime). Used to keep the shapes honest:
  * pushed filters on scans, broadcast on small sides, no Expand in
  * profile, WholeStageCodegen spans wide.
  *
  *   tools/run.sh graft.tools.Explain /root/testdata/sf0.01 q1_pricing_summary
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.engine.Engine.session("graft-explain",
      Some("local[4]"), shufflePartitions = 4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          SparkEntry.attempt {
            val df = fn(spark, dir)
            df.collect()
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          }.foreach(e => println(s"FAILED: $e"))
        case None => println(s"unknown query '$n'")
      }
    }
    spark.stop()
  }
}
