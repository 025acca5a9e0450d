package graft

import org.apache.spark.sql.SparkSession

/** Quick smoke main: runs the flagship `SparkEntry.entry` and prints its
  * row count — mirrors the driver's rows>0 smoke check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
