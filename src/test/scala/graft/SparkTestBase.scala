package graft

import graft.pointcloud.connector.PackedPartition
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per forked test run). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** The read tasks the batch scans of `df` plan. */
  def plannedTasks(df: DataFrame): Seq[InputPartition] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
      .flatten

  /** The splits inside those tasks, packed tasks flattened. Packing
    * decides how many tasks read, so pruning specs count splits. */
  def plannedSplits(df: DataFrame): Seq[InputPartition] =
    plannedTasks(df).flatMap {
      case p: PackedPartition => p.splits.toSeq
      case p => Seq(p)
    }
}

object SparkTestBase {
  // The production session, on 4 cores. The config-path test asserts a
  // fresh newSession() resolves the extensions' injected functions
  // without any registerAll call.
  lazy val session: SparkSession = Session.start(4)
}
