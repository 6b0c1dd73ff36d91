package graft

/** Dev utility: steady-state timing of one query at sf0.1 (three runs,
  * same session, `SPARK_GRAFT_CPUS` cores) — finer-grained than Bench
  * when chasing a single regression.
  * `runMain graft.TimeMain <key1[,key2,…]> [sfDir]` */
object TimeMain {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    for (key <- args(0).split(',').map(_.trim).filter(_.nonEmpty)) {
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        SparkEntry.queries(key)(spark, d).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"$key run $i: $secs%.3f s")
      }
    }
    spark.stop()
  }
}
