package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming near-duplicate ADMISSION GATE — the missing streaming twin
  * of the batch incremental screen ([[graft.ops.Dedup.incrementalNearDupPairs]]):
  * documents arrive continuously, and each is admitted unless one of its
  * MinHash LSH band buckets was already claimed by an earlier (smaller
  * id) document. This is the ingest-time shape a 100 TB training-data
  * pipeline runs at the front door: per-bucket state is ONE long (the
  * smallest doc id seen). State grows with the distinct-bucket count —
  * inherent to the semantics (the gate IS a corpus membership sketch) —
  * but at 8 bytes per bucket it is ~4 orders of magnitude smaller than
  * the corpus; a production deployment backs it with the RocksDB state
  * store (provider-agnostic, pinned by StreamingSpec) instead of heap.
  * No shuffle ever carries more than (id, band, key) rows.
  *
  * Plan shape: the whole signature pipeline is row-local — the fused
  * `graft_minhash_band_keys` kernel computes all permutation minima and
  * band keys in one pass over the shingle-hash array (the batch path's
  * explode+aggregate needs a shuffle Spark disallows before stateful
  * operators; the naive 16× `transform` chain re-evaluates its input per
  * permutation) — so the only exchange is the one `groupByKey` into the
  * state operator.
  *
  * Determinism contract: verdicts are order-dependent chain logic, so
  * "earlier" must be well-defined. Within one micro-batch a bucket's
  * docs are compared smallest-id-first; across micro-batches the file
  * source must deliver ids in non-decreasing order (true for an ingest
  * directory whose files land in id order — and pinned by test for the
  * multi-trigger case). Under that contract the gate's output equals the
  * batch rule "collides iff a smaller-id doc shares a bucket", which is
  * what the DuckDB oracle restates (st07).
  *
  * The contract is CHECKED, not just documented — and checked at the
  * exact soundness boundary: a later batch delivering an id BELOW the
  * bucket's claimed minimum would rewrite history (ids already admitted
  * with hit=false should have collided with it), so that fails the
  * query loudly ([[ContractViolation]]) instead of silently emitting
  * verdicts that differ from the batch rule. An out-of-order id that
  * stays ≥ the bucket minimum is provably benign — every already-emitted
  * verdict and its own verdict equal the order-independent batch rule
  * ("hit iff a smaller id shares the bucket") — so it passes, and state
  * stays ONE long per bucket.
  */
object StreamingDedup {

  /** One band-bucket verdict for one document: `hit` = this bucket was
    * already claimed by a smaller doc id (in this or an earlier batch).
    * A document is near-dup iff ANY of its bands hit. */
  case class BandHit(id: Long, hit: Boolean)

  /** The id-ordering contract was violated in a way that changes
    * verdicts: a micro-batch delivered an id smaller than the minimum an
    * EARLIER batch already claimed for the same bucket, so ids admitted
    * before it carry hit=false the batch rule would flip. */
  final class ContractViolation(msg: String) extends IllegalStateException(msg)

  /** The documents table as a file stream. File sources cannot infer,
    * so the schema is the batch loaders' own: read from the table's
    * footer ([[org.apache.spark.sql.graftglue.Bridge.parquetSchema]]). */
  def readDocumentStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.graftglue.Bridge.parquetSchema(
        spark, s"$sfDir/documents.parquet"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)

  /** Per-(band, key) bucket verdicts for every incoming document; state
    * per bucket is the minimum doc id ever seen. Works on a streaming
    * OR batch frame (the batch run gives the same verdicts, which is
    * how the oracle can check the streaming run). */
  def bandGate(docs: DataFrame, idCol: String, textCol: String): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("id"),
        graft.functions.exprs.minhash_band_keys(
          Dedup.shingleHashes(col(textCol)),
          Dedup.NumHashes, Dedup.Bands, Dedup.RowsPerBand).as("bk"))
      .select(col("id"), posexplode(col("bk")).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("id"))
      .toDF("_1", "_2", "_3")
      .as[(Int, Long, Long)]
      .groupByKey { case (band, key, _) => (band, key) }
      .flatMapGroupsWithState[Long, BandHit](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state) =>
          val ids = rows.map(_._3).toArray
          java.util.Arrays.sort(ids)
          // ordering guard at the soundness boundary: an id below the
          // minimum an earlier batch claimed would flip verdicts already
          // emitted for this bucket — fail loudly, never silently drift
          val hadState = state.exists
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          if (hadState && ids.nonEmpty && ids(0) < minSeen)
            throw new ContractViolation(
              s"st07 ordering contract violated for bucket $bucket: id ${ids(0)} " +
              s"arrived after an earlier micro-batch claimed the bucket at id $minSeen; " +
              "ids at or above the claimed minimum admitted since then carry " +
              "verdicts the batch rule would flip — the file source must " +
              "deliver ids in non-decreasing order")
          val out = new Array[BandHit](ids.length)
          var i = 0
          while (i < ids.length) {
            val id = ids(i)
            out(i) = BandHit(id, minSeen < id)
            if (id < minSeen) minSeen = id
            i += 1
          }
          state.update(minSeen)
          out.iterator
      }
  }
}
