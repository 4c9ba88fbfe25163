package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The serve path is a fixed plan with no runtime switches; the only
  * environment variables graft reads are deployment settings and the
  * one bench sweep selector. Every `"SPARK_GRAFT_*"` string literal in
  * the main sources is collected here, so a new knob has to change this
  * spec and say why it earns its place.
  *
  *   - CPUS: local-mode core count
  *   - SF_DIR: input data directory
  *   - BENCH_OUT: where Bench writes its full sweep line
  *   - BENCH_ONLY: restrict Bench to a spot run over matching rows
  */
class EnvKnobSpec extends AnyFunSuite {

  test("main sources read exactly the four deployment knobs") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"$root not found from ${sys.props("user.dir")}")
    val literal = "\"(SPARK_GRAFT_[A-Z0-9_]+)\"".r
    val walk = java.nio.file.Files.walk(root)
    val found = try {
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        literal.findAllMatchIn(src).map(_.group(1))
      }.toSet
    } finally walk.close()
    assert(found == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_ONLY"))
  }
}
