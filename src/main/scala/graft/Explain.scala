package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    GraftSession.stop(spark)
  }
}
