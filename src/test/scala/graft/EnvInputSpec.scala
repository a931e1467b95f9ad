package graft

import graft.tools.Probe
import org.scalatest.funsuite.AnyFunSuite

/** Bad settings fail with a message that names the setting and the value,
  * never with a bare NumberFormatException or MatchError. */
class EnvInputSpec extends AnyFunSuite {

  private def rejects(name: String, raw: String): Unit = {
    val e = intercept[IllegalArgumentException](
      LocalSession.positiveInt(name, Some(raw), 4))
    assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$raw'"),
      e.getMessage)
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_BENCH_REPS accept positive integers only") {
    assert(LocalSession.positiveInt("SPARK_GRAFT_CPUS", None, 7) === 7)
    assert(LocalSession.positiveInt("SPARK_GRAFT_CPUS", Some(" 16 "), 7) === 16)
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPS");
         raw <- Seq("", "four", "0", "-2", "1.5"))
      rejects(name, raw)
  }

  test("SPARK_GRAFT_CONF parses key=value pairs and names a malformed one") {
    assert(Probe.confPairs("a.b=1, c=x=y,") === Seq("a.b" -> "1", "c" -> "x=y"))
    for (bad <- Seq("spark.sql.adaptive.enabled", "=true")) {
      val e = intercept[IllegalArgumentException](Probe.confPairs(s"k=v,$bad"))
      assert(e.getMessage.contains("SPARK_GRAFT_CONF") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("Probe arguments: mode, --reps and query names") {
    assert(Probe.parseArgs(Seq("time", "q1", "q2")) === (("time", 2, Seq("q1", "q2"))))
    assert(Probe.parseArgs(Seq("stages", "--reps", "3", "q1")) === (("stages", 3, Seq("q1"))))
    assert(Probe.parseArgs(Seq("joblat")) === (("joblat", 60, Nil)))
    val e = intercept[IllegalArgumentException](
      Probe.parseArgs(Seq("time", "--reps", "x", "q1")))
    assert(e.getMessage.contains("--reps") && e.getMessage.contains("'x'"))
    intercept[IllegalArgumentException](Probe.parseArgs(Seq("profile", "q1")))
    intercept[IllegalArgumentException](Probe.parseArgs(Seq("time")))
  }
}
