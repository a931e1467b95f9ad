package graft.tools

import graft.SparkSpec

/** Every Probe mode runs once at sf0.001 and prints its header line. */
class ProbeSpec extends SparkSpec {
  private val Dir = "/root/testdata/sf0.001"
  private val Q = "q01_pricing_summary"
  private val Cert = "q95_ann_ivf_recall"

  private def lines(mode: String, names: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Probe.run(spark, Dir, mode, 1, names))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("time prints one row per query and rep") {
    val out = lines("time", Q)
    assert(out.head === "query,rep,wall_s,rows,jobs")
    assert(out(1).startsWith(s"$Q,1,"), out.mkString("\n"))
    assert(out(1).split(",")(4).toInt >= 1, "a counted query runs at least one job")
  }

  test("phases prints the planning and task split") {
    val out = lines("phases", Q)
    assert(out.head === "query,wall_ms,analysis_ms,optimization_ms,planning_ms,task_ms,jobs")
    assert(out(1).startsWith(s"$Q,") && out(1).split(",").length === 7)
  }

  test("stages prints the per-stage table and the sampled frames") {
    val out = lines("stages", Q)
    assert(out.head.startsWith(s"== $Q rep 1: "), out.mkString("\n"))
    assert(out(1).trim.startsWith("stage  tasks  total_s"))
    assert(out.exists(_.startsWith("stages=")))
    assert(out.contains("top sampled executor frames:"))
  }

  test("explain prints the formatted physical plan") {
    val out = lines("explain", Q)
    assert(out.head === s"== $Q ==")
    assert(out.contains("== Physical Plan =="))
  }

  test("show prints the query's rows") {
    val out = lines("show", Cert)
    assert(out.head === s"== $Cert @ $Dir")
    assert(out.exists(_.contains("ivf_macro_recall_at_5")))
  }

  test("cert prints the measured summary row, and refuses a non-certificate") {
    val out = lines("cert", Cert)
    assert(out.head === s"== $Cert summary @ $Dir")
    assert(out.exists(_.contains("macro_recall")))
    val e = intercept[IllegalArgumentException](lines("cert", Q))
    assert(e.getMessage.contains(Q))
  }

  test("joblat prints per-job latency") {
    val out = lines("joblat")
    assert(out.head === "op,ms_per_op")
    assert(out.tail.map(_.split(",")(0)) ===
      Seq("rdd_1_partition_count", "rdd_4_partition_count", "df_range1_count",
        "df_tiny_global_agg", "df_tiny_shuffle_agg"))
  }
}
