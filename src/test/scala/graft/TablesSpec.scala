package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftglue.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.graftglue.Bridge

/** Pins the table loaders: the schema comes from the parquet footer on
  * the driver ([[Bridge.parquetSchema]]), equals what Spark's inference
  * gives, and costs no Spark job. */
class TablesSpec extends SparkTestBase {
  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** `body`'s result and the number of Spark jobs started while it ran,
    * read after the listener bus has delivered every event. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("every loader reads Spark's inferred schema from the footer and starts no job") {
    assert(loaders.size == 10)
    loaders.foreach { case (name, load) =>
      val path = s"$sfDir/$name.parquet"
      val (inferred, inferJobs) = jobsDuring(spark.read.parquet(path).schema)
      // the control: inference itself runs a job, so a zero below is real
      assert(inferJobs >= 1, s"$name: inference started no job")
      val (table, tableJobs) = jobsDuring(Tables.table(spark, sfDir, name))
      assert(tableJobs == 0, s"$name: Tables.table started $tableJobs job(s)")
      assert(table.schema.json == inferred.json, name)
      val (_, loaderJobs) = jobsDuring(load(spark, sfDir))
      assert(loaderJobs == 0, s"$name: its loader started $loaderJobs job(s)")
    }
  }

  test("a missing table fails with Spark's own PATH_NOT_FOUND; a directory is refused") {
    val path = s"$sfDir/no_such_table.parquet"
    val ours = intercept[AnalysisException](Tables.table(spark, sfDir, "no_such_table"))
    val sparks = intercept[AnalysisException](spark.read.parquet(path))
    assert(ours.getCondition == "PATH_NOT_FOUND")
    assert(ours.getMessage == sparks.getMessage)
    intercept[IllegalArgumentException](Bridge.parquetSchema(spark, sfDir))
  }
}
