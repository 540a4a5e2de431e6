package graft

/** Plan-audit tool: `runMain graft.Explain <query>[,<query>...] [sfDir]`
  * prints each query's formatted physical plan and warm/steady timings.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.entries.map(_.name).sorted)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: cold=${once()}%.3f warm=${once()}%.3f warm=${once()}%.3f s")
      System.gc() // release broadcast/shuffle debris before the next query
    }
    spark.stop()
  }
}
