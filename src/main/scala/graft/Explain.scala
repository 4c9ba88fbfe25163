package graft

/** Plan auditor: prints `explain("formatted")` for selected queries so
  * scan pushdown (`PushedFilters`/`ReadSchema`), join strategies
  * (BroadcastHashJoin vs SortMergeJoin) and WholeStageCodegen spans can
  * be inspected per round. Usage: runMain graft.Explain [sfDir] [name...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "s1_scan_pushdown", "a1_groupby_agg", "j1_broadcast_join",
      "x29_inferdb_probe", "t_dedup_minhash", "m_mlp_score")
    val spark = Sessions.local("graft-explain", dataDir = Some(sfDir))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
