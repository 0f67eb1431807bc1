package graft
/** Dev-loop plan audit: print the formatted physical plan of one or more
  * SparkEntry queries (name prefixes, like Verify's filter arg).
  * `runMain graft.Explain <sfDir> <prefix>[,<prefix>...]` */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, prefixes) = args.take(2)
    val wanted = prefixes.split(",")
    val spark = Session.start(Session.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter(kv => wanted.exists(kv._1.startsWith)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
      }
    Session.stop(spark)
  }
}
