package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The DuckDB differential check for query outputs: the oracle SQL runs in
  * DuckDB (`oracle.py`) over the same parquet tables, and both results are
  * compared as multisets of canonical rows, the way the repository's own
  * comparator does it (columns sorted by name, integers as integers,
  * floats compared exactly, timestamps as UTC microseconds). */
object Oracle {

  /** Run each (name → SQL) in DuckDB over the tables in `dataDir`; returns
    * each result's canonical rows. */
  def run(spark: SparkSession, script: String, dataDir: Path,
      sql: Map[String, String]): Map[String, Seq[String]] = {
    val out = dataDir.resolve("oracle")
    val spec = dataDir.resolve("oracle_sql.json")
    Files.write(spec, sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",\n", "}").getBytes("UTF-8"))
    val proc = new ProcessBuilder("python3", script, dataDir.toString,
        spec.toString, out.toString)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val rc = proc.waitFor()
    require(rc == 0, s"oracle script exited with $rc")
    sql.keys.map(q => q -> canonical(spark.read.parquet(out.resolve(s"$q.parquet").toString))).toMap
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case n: Byte => n.toLong.toString
    case n: Short => n.toLong.toString
    case n: Int => n.toLong.toString
    case n: Float => n.toDouble.toString
    case n: java.math.BigDecimal => n.doubleValue.toString
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  /** Rows with columns in name order, rendered and sorted. */
  def canonical(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.toSeq.map(col): _*).collect()
      .map(_.toSeq.map(value).mkString("|")).toSeq.sorted
  }

  /** Size of the multiset intersection of two sorted row lists. */
  def overlap(a: Seq[String], b: Seq[String]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { n += 1; i += 1; j += 1 } else if (c < 0) i += 1 else j += 1
    }
    n
  }
}
