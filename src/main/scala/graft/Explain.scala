package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.01"
    for (name <- args) {
      println(s"===== $name =====")
      Queries.byName(name).run(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
