package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [substring...] — optional substrings restrict
    // the run to matching query names (local iteration; the driver
    // always passes exactly two args and gets the full set).
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter = args.drop(2)
    def selected(name: String): Boolean =
      nameFilter.isEmpty || nameFilter.exists(name.contains)
    val spark = Sessions.local("graft-verify", dataDir = Some(sfDir))
    // clear stale outputs: a failed build followed by a re-run must
    // never let the oracle check silently validate old results.
    val outRoot = new java.io.File(outDir)
    if (outRoot.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      outRoot.listFiles().foreach(rm)
    }
    outRoot.mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a name-filtered (local-iteration) run dumps oracles only for the
    // queries it actually wrote — a full oracle map over a partial
    // outDir would reference parquet that doesn't exist
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of EVERY declared query, so the checker can flag a query
    // that crashed (no output dir) instead of silently skipping it
    val manifest = SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
