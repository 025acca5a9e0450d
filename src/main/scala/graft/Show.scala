package graft

import org.apache.spark.sql.SparkSession

/** Single-query iteration main: runs one `SparkEntry.queries` entry and
  * prints its row count + head rows. Usage:
  * runMain graft.Show <queryName> [sfDir] [nRows]. */
object Show {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: Show <queryName> [sfDir] [nRows]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val n = args.lift(2).map(_.toInt).getOrElse(20)
    val builder = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", TempDirs.scratch("graft-warehouse-"))
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t0 = System.nanoTime()
    val rows = df.count()
    println(f"$name rows=$rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    df.show(n, truncate = false)
    spark.stop()
  }
}
