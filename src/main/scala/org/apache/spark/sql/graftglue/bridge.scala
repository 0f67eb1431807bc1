package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionColumnNode}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Glue in the `org.apache.spark.sql` namespace so graft code can cross the
  * Column ⇄ catalyst-Expression boundary (`private[sql]` in Spark 4's
  * column-node API). This is the standard extension-library pattern; no
  * Spark internals are modified.
  */
object Bridge {
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** The schema `spark.read.parquet(path)` would infer for the parquet
    * FILE at `path`, read from its footer on the driver. Spark's
    * inference runs a one-task job per read to open that same footer;
    * this converts it the same way (`readSchemaFromFooter`: the Spark
    * row-metadata schema when the writer stored one, else the converter
    * under this session's conf, which raises `PARQUET_TYPE_ILLEGAL` for
    * NANOS timestamps exactly as inference does). A missing path fails
    * with Spark's own `PATH_NOT_FOUND`. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val qualified = fs.makeQualified(p)
    val status = try fs.getFileStatus(qualified) catch {
      case _: java.io.FileNotFoundException =>
        throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    }
    require(status.isFile, s"$qualified is not a parquet file")
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(qualified, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Unload every loaded state-store provider now (normally the 60 s
    * maintenance tick does this lazily after a streaming query stops).
    * Run-to-completion verification/bench sessions start many short
    * stateful queries back-to-back; without this each stopped query's
    * in-memory version maps linger and accumulate. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Stop the state-store subsystem outright: unloads every provider AND
    * terminates the background maintenance task. Call before
    * `spark.stop()` in batch mains — otherwise the 60 s maintenance tick
    * can fire mid-teardown and stack-trace "SparkEnv not active" onto
    * stderr after the process's final output line. */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
