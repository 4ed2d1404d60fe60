package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE rows=$n")
    spark.stop()
  }
}
