package graft

/** Ad-hoc per-query timing probe: `runMain graft.TimeQueries <sfDir> <q>...`
  * times each named [[SparkEntry.queries]] entry (min over 2 runs, the
  * bench's convention) at local[SPARK_GRAFT_CPUS]. The full-suite timing
  * contract lives in [[Bench]]; this exists to iterate on ONE operator's
  * plan without paying for the whole headline list.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQueries <sfDir> <queryName>...")
    val sfDir = args(0)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { q =>
      def once(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (t1, n) = once(); val (t2, _) = once()
      println(f"TIME $q%-24s ${math.min(t1, t2)}%8.2f s  rows=$n")
    }
    spark.stop()
  }
}
