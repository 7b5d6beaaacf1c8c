package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint guard on the engine's env surface: every `SPARK_GRAFT_*` name in
  * `src/main/scala` is a setting someone can flip, and each one forks the
  * code path the oracle verifies. A new knob must be added to this list
  * deliberately, with a line under README "Running".
  */
class EnvKnobInventorySpec extends AnyFunSuite {

  private val expected = Set("CPUS", "SF_DIR", "ONLY", "BENCH_ONLY",
    "BENCH_CSV", "CALIB_REF", "CALIB_BW_REF", "STREAM_PLAN")

  test("src/main reads exactly the documented SPARK_GRAFT_* knobs") {
    val knob = "SPARK_GRAFT_([A-Z_]+)".r
    val files = Files.walk(Paths.get("src/main/scala"))
    val found =
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          knob.findAllMatchIn(new String(Files.readAllBytes(p),
            StandardCharsets.UTF_8)).map(_.group(1))
        }.toSet
      finally files.close()
    assert(found == expected,
      s"unexpected: ${(found -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- found).toSeq.sorted}")
  }

  test("SPARK_GRAFT_CPUS parses to a positive integer or fails fast") {
    assert(Session.parseCpus(None).isEmpty)
    assert(Session.parseCpus(Some(" 4 ")).contains(4))
    Seq("0", "-2", "four", "", "2.5").foreach { bad =>
      intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
    }
  }
}
