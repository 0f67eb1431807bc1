package graft.streaming

import graft.ops.Clustering
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Streaming ingest into a SERVED ANN layout — the st×ss composition a
  * live embedding index needs: micro-batches of landing vectors are
  * assigned through a LOADED (train-once) two-level model and appended
  * into the composite-cell layout that
  * [[graft.ops.Clustering.ivfTopKServedTwoLevel]] serves from, under the
  * streaming sink's idempotence discipline (the
  * `PointCloudStreamingWrite` query-token convention): every file an
  * epoch lands is named `part-<epochId>-<seq>-<queryToken>.parquet`, and
  * re-processing an epoch (a restarted query replaying from its
  * checkpoint) first REMOVES that epoch's files and then lands them
  * again — exactly-once layout contents from an at-least-once batch
  * callback.
  *
  * Scale shape: each batch pays one coarse pass + one fine equi-join
  * over ITS OWN rows (never the layout), the staging write is one
  * cell-partitioned shuffle of the batch, and the rename fan-in is
  * metadata-only. The layout is never read, so ingest cost is
  * proportional to the batch at any index size — the same contract as
  * the batch append (ss16/ss18).
  */
object AnnIngest {

  /** Epoch-idempotent append of one micro-batch (the `foreachBatch`
    * callback body). `queryToken` must be STABLE across restarts of the
    * same logical query (use the checkpointed query id or a caller
    * token, never the per-run runId) — the (token, epochId) pair is
    * what makes a replayed epoch overwrite itself instead of
    * duplicating. */
  def appendBatchIdempotent(batch: DataFrame, epochId: Long, idCol: String,
      vecCol: String, model: Clustering.TwoLevelModel, path: String,
      queryToken: String): Unit = {
    require(queryToken.nonEmpty &&
      queryToken.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"queryToken must be a filename-safe stable token, got '$queryToken'")
    require(epochId >= 0, s"epochId must be non-negative, got $epochId")
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // stage under a dot-prefixed dir INSIDE the layout (same filesystem,
    // so the promotion below is a metadata rename; readers ignore hidden
    // dirs, so a crash mid-stage never corrupts a serve)
    val stage = new Path(root, s".graft-stage-$queryToken-$epochId")
    Clustering.writePartitionedByCellTwoLevel(batch, idCol, vecCol, model, stage.toString)
    // the replay rule, step 1: remove every file this (token, epoch)
    // pair landed in a previous attempt — the batch content is the
    // checkpoint's replayed offsets, but its FILE SPLIT need not be
    // byte-reproducible, so delete-then-land is the robust idempotence.
    // Cleanup is confined to the cells this epoch TOUCHES — the staged
    // cell set (assignment through the loaded model is deterministic, so
    // a replayed batch stages exactly the cells its previous attempt
    // landed in) unioned with the epoch's manifest from that previous
    // attempt (belt-and-braces for a crash between promote and manifest
    // write) — never a listing of all k1·k2 `cell=` directories: at
    // production cell counts that full listing is 10^5 metadata calls
    // per micro-batch for a cleanup that only ever matches files in the
    // epoch's own cells.
    val stagedCells = fs.listStatus(stage).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath.getName).toSeq
    val manifest = new Path(root, s".graft-manifest-$queryToken-$epochId")
    val prevCells: Seq[String] =
      if (!fs.exists(manifest)) Seq.empty
      else {
        val in = fs.open(manifest)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      }
    val namePat = s"^part-$epochId-\\d+-$queryToken\\.parquet$$".r
    (stagedCells ++ prevCells).distinct.foreach { name =>
      val d = new Path(root, name)
      if (fs.exists(d))
        fs.listStatus(d).iterator
          .filter(f => namePat.findFirstIn(f.getPath.getName).isDefined)
          .foreach(f => fs.delete(f.getPath, false))
    }
    // step 2: promote the staged files under their deterministic names
    stagedCells.foreach { name =>
      val dest = new Path(root, name)
      fs.mkdirs(dest)
      val files = fs.listStatus(new Path(stage, name)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (src, i) =>
        val dst = new Path(dest, s"part-$epochId-$i-$queryToken.parquet")
        require(fs.rename(src, dst), s"promote $src -> $dst failed")
      }
    }
    // step 3: record the epoch's cell set — the tiny per-epoch manifest a
    // replay's cleanup consults (one file of `cell=` names, written AFTER
    // promote so a crash mid-epoch leaves the previous attempt's manifest
    // in place for the next replay)
    val out = fs.create(manifest, true)
    try out.write(stagedCells.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(stage, true)
  }
}
