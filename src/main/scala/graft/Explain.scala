package graft

/** Dev tool: print the formatted physical plan of named queries at sf0.1.
  *
  * Usage: runMain graft.Explain <q1> [q2 ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = "/root/testdata/sf0.1"
    for (name <- args) {
      println(s"========== $name")
      SparkEntry.queries(name)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
