package graft

/** Plan-audit tool: print the formatted physical plan of one or more
  * SparkEntry queries. Usage: runMain graft.Explain <sfDir> <query>[,query…]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    names.split(",").foreach { n =>
      println(s"==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
