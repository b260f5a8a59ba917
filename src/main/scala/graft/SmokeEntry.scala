package graft
object SmokeEntry {
  def main(a: Array[String]): Unit = {
    val spark = Harness.session(defaultCpus = 4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(3)
    spark.stop()
  }
}
