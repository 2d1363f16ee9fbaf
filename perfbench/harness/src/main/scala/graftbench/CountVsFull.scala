package graftbench

import org.apache.spark.sql.SparkSession

/** Times each named SparkEntry query two ways on one input directory:
  * `count()`, under which Catalyst prunes every projected column, and a
  * full evaluation (Spark's `noop` write of every row and column). Each
  * is timed once after one untimed full evaluation. Prints one tab-separated
  * line per query: name, count seconds, full seconds.
  *
  * Usage: graftbench.CountVsFull <inputDir> <cores> <query,...>
  */
object CountVsFull {
  def main(args: Array[String]): Unit = {
    val Array(dir, cores, names) = args
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    for (q <- names.split(',')) {
      val build = graft.SparkEntry.queries(q)
      def full(): Unit = build(spark, dir).write.format("noop").mode("overwrite").save()
      full()
      spark.catalog.clearCache()
      val c = time(build(spark, dir).count())
      spark.catalog.clearCache()
      val f = time(full())
      spark.catalog.clearCache()
      println(f"$q\t$c%.3f\t$f%.3f")
    }
    spark.stop()
  }
}
