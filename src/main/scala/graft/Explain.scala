package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints the formatted physical plan of one query (or
  * all) so shuffle/pushdown/broadcast shape can be reviewed without a
  * notebook. Usage: runMain graft.Explain <sfDir> [name1,name2,...]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", TempDirs.scratch("graft-warehouse-"))
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
