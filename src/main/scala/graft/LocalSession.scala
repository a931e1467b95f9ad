package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds its SparkSession, so a bench number, a
  * correctness dump, a test result and a profile all come from the same
  * engine configuration: `local[cpus]`, one shuffle partition per
  * executor thread, AQE on, UTC session time, no UI, WARN logging. */
object LocalSession {

  def apply(cpus: Int, extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executor threads: `SPARK_GRAFT_CPUS` when set, else `default`
    * (every core the JVM sees unless the caller sizes it otherwise). */
  def cpus(default: => Int = Runtime.getRuntime.availableProcessors): Int =
    positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** `raw` as a positive integer, `default` when unset; anything else
    * fails naming the setting and the value it was given. */
  def positiveInt(name: String, raw: Option[String], default: => Int): Int =
    raw match {
      case None => default
      case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$s'"))
    }
}
