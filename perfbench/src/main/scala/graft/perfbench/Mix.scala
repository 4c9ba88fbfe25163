package graft.perfbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.SparkSession

/** The query layers (`<Family>.s`, `StreamOps.trigger_ms`), measured once
  * per traced serve_cascade run: a fixed list of declared
  * `SparkEntry.queries` rows over a fixed generated corpus (`--corpus`,
  * written by `perfbench/datagen.py` with the table shapes of the
  * oracle-checked test corpus).
  *
  * One pass, in an order set by the seed, runs each row once under its
  * family's span, writing its result to `<out dir>/mix/<name>`; the run
  * script then hash-compares every result against `SparkEntry.oracleSql`
  * in DuckDB. */
object MixLayers {
  /** One to three rows per family, together covering all eight; the
    * stream, text, IVF and window rows are the ones later roadmap items
    * edit. */
  val Rows: Seq[String] = Seq(
    "j2_join_multiway", "x_index_lifecycle", "a16_exact_variance", "s11_zorder",
    "x_stream_topk_update", "x_stream_session_window", "x_stream_probe",
    "t_filter_pipeline", "t_dedup_minhash", "t_containment",
    "x_ann_ivf_kmeans", "w6_ntile")

  val Families: Seq[(String, Set[String])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs.keySet,
    "InferDbQueries" -> InferDbQueries.defs.keySet,
    "TextQueries" -> TextQueries.defs.keySet,
    "LearnedQueries" -> LearnedQueries.defs.keySet,
    "ExtraQueries" -> ExtraQueries.defs.keySet,
    "IvfQueries" -> IvfQueries.defs.keySet,
    "StorageQueries" -> StorageQueries.defs.keySet,
    "AnalyticsQueries" -> AnalyticsQueries.defs.keySet)

  def family(q: String): String = Families.collectFirst { case (f, ks) if ks(q) => f }
    .getOrElse(throw new IllegalStateException(s"$q is in no defs map"))

  def measure(run: Run, tracer: Tracer, spark: SparkSession): Unit = {
    val corpus = run.args.corpus.getOrElse(
      throw new IllegalArgumentException("the query layers need --corpus"))
    val outDir = new java.io.File(run.args.out).getAbsoluteFile.getParent + "/mix"
    val queries = SparkEntry.queries
    val declared = Rows.count(queries.contains)
    run.property("mix_rows_declared", declared, ok = declared == Rows.size, target = s"${Rows.size}")
    val families = Rows.map(family).distinct.size
    run.property("mix_families", families, ok = families == Families.size, target = s"${Families.size}")

    new scala.util.Random(run.args.seed).shuffle(Rows).foreach { q =>
      graft.streaming.StreamOps.batchMillis.remove(q)
      tracer.span(family(q)) {
        queries(q)(spark, corpus).write.mode("overwrite").parquet(s"$outDir/$q")
      }
      val bm = graft.streaming.StreamOps.batchMillis
      if (bm.containsKey(q)) run.sample("StreamOps.trigger_ms", bm.get(q))
    }
    // dynamic oracles embed fitted literals: render them after the rows ran
    val oracle = SparkEntry.oracleSql
    val noOracle = Rows.filterNot(oracle.contains)
    run.property("oracle_coverage", Rows.size - noOracle.size, ok = noOracle.isEmpty,
      target = s"${Rows.size} (every row has an oracle)")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(Rows.map(q => q -> oracle(q)).toMap).getBytes("UTF-8"))
  }
}
