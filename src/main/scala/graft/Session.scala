package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of every graft entry point (Verify,
  * Bench, Explain, ProfStream) and of the specs, so the session Verify
  * grades is the session Bench times. Log levels stay with the callers. */
object Session {

  /** Cores for the entry mains: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, the
    * graft SQL functions, and the fork-free local FS (chmod/readlink
    * shell-outs dominate the micro-batch and task-commit floor without
    * the native lib). `spark.sql.extensions` is a static conf consumed
    * only when the SparkContext is created, so it is set here, on the
    * first session of the JVM. */
  def start(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.hadoop.NoForkLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.hadoop.NoForkLocalFs].getName)
    .getOrCreate()

  /** Stop the state-store subsystem, then the session: otherwise the
    * 60 s state-store maintenance tick can fire mid-teardown and
    * stack-trace "SparkEnv not active" onto stderr after the process's
    * final output line. */
  def stop(spark: SparkSession): Unit =
    try org.apache.spark.sql.graftglue.Bridge.stopStateStores()
    finally spark.stop()
}
