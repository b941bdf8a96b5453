package graft

/** Plan-audit tool: print the formatted physical plan of named declared
  * queries (with no args, every query `SPARK_GRAFT_ONLY` selects) — the
  * `.explain("formatted")` feedback loop the scale discipline asks for,
  * runnable headless:
  *   scripts/run.sh graft.Explain t_winnow d_winnow_overlap
  * Grep the output for the things that matter at 100 TB: PushedFilters on
  * scans, WholeStageCodegen spans, BroadcastHashJoin vs SortMergeJoin on
  * the small side, absence of CartesianProduct / single-partition Window.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val queries =
      if (args.nonEmpty) args.toSeq.map(name => name -> Harness.query(name))
      else Harness.selected
    queries.foreach { case (name, fn) =>
      println(s"\n==== $name ====")
      // SPARK_GRAFT_EXPLAIN_EXEC=1: materialize first and print the FINAL
      // AQE-resolved physical plan — the only place runtime decisions
      // (ColumnarToRow under the vectorized connector path, AQE join
      // rewrites, coalesced reads) are visible
      Harness.run(spark, sfDir, fn) { df =>
        if (sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")) {
          Harness.materialize(df)
          println(df.queryExecution.executedPlan.toString)
        } else println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
