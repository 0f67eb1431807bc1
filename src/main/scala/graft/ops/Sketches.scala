package graft.ops

import graft.functions.exprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable summary sketches as declarative plans — the constant-memory
  * replacements for exact frequency/quantile queries on a 100 TB corpus.
  * Everything here composes built-in operators plus the deterministic
  * `kmv_hash` expression, so the sketch contents are bit-reproducible in
  * the DuckDB oracle (unlike the seeded built-ins `count_min_sketch` /
  * `approx_percentile`, whose binary buffers an oracle cannot check).
  */
object Sketches {

  /** A built count-min sketch: the `(r, bucket, cnt)` counters DataFrame
    * together with the depth/width it was built at, so an estimate can
    * never silently hash with different parameters than the build (a
    * mismatched lookup misses every counter and under-counts — violating
    * the CMS upper-bound guarantee). */
  final case class CountMinSketch(counters: DataFrame, depth: Int, width: Int)

  /** Count-min sketch counters for a token column: `depth` hash rows ×
    * `width` buckets, counter(r, b) = number of tokens with
    * hash_r(token) mod width = b. Row r's hash is kmv_hash("r:token") —
    * independent rows from one hash kernel.
    *
    * The whole build is one hash aggregation with map-side partial
    * combine: at any scale the exchange carries at most depth×width
    * partial counters per partition, and the result is depth×width rows
    * — broadcastable state, the CMS property.
    */
  def countMinBuild(df: DataFrame, tokenCol: String, depth: Int, width: Int): CountMinSketch = {
    require(depth > 0 && width > 0, s"countMin needs depth/width > 0, got $depth/$width")
    CountMinSketch(
      df.select(posexplode(array(Seq.fill(depth)(col(tokenCol)): _*)).as(Seq("r", "tok")))
        .select(col("r"), cmBucket(col("r"), col("tok"), width).as("bucket"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt")),
      depth, width)
  }

  private def cmBucket(r: org.apache.spark.sql.Column, tok: org.apache.spark.sql.Column,
      width: Int): org.apache.spark.sql.Column =
    exprs.kmv_hash(concat(r.cast("string"), lit(":"), tok)) % width

  /** Per-key count-min counters — the rollup rows a partitioned corpus
    * (daily batch, per-source shard) persists: `(key, r, bucket, cnt)`,
    * same hashing as [[countMinBuild]] so the shards can later merge. */
  def countMinBuildBy(df: DataFrame, keyCol: String, tokenCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"countMin needs depth/width > 0, got $depth/$width")
    df.select(col(keyCol).as("key"),
        posexplode(array(Seq.fill(depth)(col(tokenCol)): _*)).as(Seq("r", "tok")))
      .select(col("key"), col("r"), cmBucket(col("r"), col("tok"), width).as("bucket"))
      .groupBy("key", "r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Merge per-key counter shards into one sketch WITHOUT re-reading the
    * data: CMS counters are plain sums, so the cell-wise sum of shard
    * counters EQUALS the single-pass sketch exactly — the lossless
    * pre-aggregated-cube property that makes CMS rollups composable at
    * any hierarchy level (the KMV twin is sk05). One hash agg over
    * shards × depth × width rows — constant work however large the
    * sharded corpus was. */
  def countMinMerge(shards: DataFrame, depth: Int, width: Int): CountMinSketch =
    CountMinSketch(
      shards.groupBy("r", "bucket").agg(sum(col("cnt")).as("cnt")),
      depth, width)

  /** Point-estimate the frequency of each candidate token from the
    * counters: est(tok) = min over rows r of counter(r, hash_r(tok)) —
    * the classic CMS upper-bound estimate (Cormode & Muthukrishnan,
    * J. Algorithms 2005). The counters side is depth×width rows, so the
    * join broadcasts; per-candidate cost is `depth` lookups. An absent
    * (r, bucket) counter means zero, hence the coalesce. Depth/width come
    * from the sketch itself, so the lookup hashing always matches the
    * build hashing. */
  def countMinEstimate(sketch: CountMinSketch, candidates: DataFrame,
      tokenCol: String): DataFrame =
    candidates.select(col(tokenCol).as("tok"))
      .select(col("tok"), explode(sequence(lit(0), lit(sketch.depth - 1))).as("r"))
      .withColumn("bucket", cmBucket(col("r"), col("tok"), sketch.width))
      .join(broadcast(sketch.counters), Seq("r", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** KMV set-overlap estimate between two groups' distinct-key sets —
    * the "how much does shard A's vocabulary/content overlap shard B's"
    * question a corpus census answers WITHOUT a distinct-key join: each
    * side is summarized to its k minimum hash values
    * (`exprs.kmv_sketch`, the constant-size rollup row sk05 persists),
    * and the Beyer et al. 2007 estimator reads everything off those two
    * sketches: S = the k-min set of the union, ρ̂ = |S ∩ minK(A) ∩
    * minK(B)| / |S| estimates the Jaccard similarity, and ρ̂ · est(∪)
    * estimates the distinct intersection. Deterministic for fixed data
    * (hash order statistics — no seeds, no partition dependence).
    *
    * Scale: exactly TWO passes over the hashed keys, both
    * map-side-combined (pinned by SketchSpec). Pass 1 computes all six
    * sketch values in ONE global aggregate — the per-side sketches read
    * conditional inputs (`when(g = A, h)`; the KMV update skips nulls),
    * so no per-side re-scan exists. Pass 2 is the exact baseline: one
    * hash agg on the key (per-key side-membership flags), then a global
    * rollup. At 100 TB one runs ONLY pass 1 — the exact columns are the
    * verification baseline a test-scale run grades. Returns one row:
    * (est_a, est_b, est_union, shared_kmin, jaccard, est_inter,
    * exact_a, exact_b, exact_union, exact_inter).
    *
    * Degenerate input (neither group present after the filter): the
    * per-side/union estimates are a true 0 (the cardinality of an empty
    * set), but `jaccard`/`est_inter` have a 0/0 denominator and are
    * returned as EXPLICIT nulls — the similarity of two empty sets is
    * undefined, and a silent 0 would read as "provably disjoint". */
  def kmvOverlap(df: DataFrame, groupCol: String, keyCol: String,
      gA: String, gB: String, k: Int): DataFrame = {
    require(k > 0, s"kmvOverlap needs k > 0, got $k")
    val hashed = df.filter(col(groupCol).isin(gA, gB))
      .select(col(groupCol).as("g"), col(keyCol).as("key"),
        exprs.kmv_hash(col(keyCol)).as("h"))
    val sk = hashed.agg(
      exprs.kmv_sketch(when(col("g") === gA, col("h")), k).as("sk_a"),
      exprs.kmv_sketch(when(col("g") === gB, col("h")), k).as("sk_b"),
      exprs.kmv_sketch(col("h"), k).as("sk_u"),
      exprs.kmv_distinct(when(col("g") === gA, col("h")), k).as("kmv_a"),
      exprs.kmv_distinct(when(col("g") === gB, col("h")), k).as("kmv_b"),
      exprs.kmv_distinct(col("h"), k).as("kmv_u"))
    val exact = hashed
      .groupBy(col("key"))
      .agg(max(when(col("g") === gA, 1).otherwise(0)).as("in_a"),
        max(when(col("g") === gB, 1).otherwise(0)).as("in_b"))
      .agg(coalesce(sum(col("in_a")).cast("long"), lit(0L)).as("exact_a"),
        coalesce(sum(col("in_b")).cast("long"), lit(0L)).as("exact_b"),
        count(lit(1)).as("exact_union"),
        coalesce(sum(when(col("in_a") + col("in_b") === 2, 1L).otherwise(0L)),
          lit(0L)).as("exact_inter"))
    val shared = size(array_intersect(col("sk_u"),
      array_intersect(col("sk_a"), col("sk_b"))))
    sk.crossJoin(broadcast(exact))
      .select(
        round(col("kmv_a.est"), 2).as("est_a"),
        round(col("kmv_b.est"), 2).as("est_b"),
        round(col("kmv_u.est"), 2).as("est_union"),
        shared.as("shared_kmin"),
        when(size(col("sk_u")) === 0, lit(null))
          .otherwise(round(shared.cast("double") / size(col("sk_u")), 4))
          .as("jaccard"),
        when(size(col("sk_u")) === 0, lit(null))
          .otherwise(round(
            shared.cast("double") / size(col("sk_u")) * col("kmv_u.est"), 2))
          .as("est_inter"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"))
  }

  /** Cumulative fixed-width histogram of `valueCol` in `vals` (already
    * projected to a `b` bucket and `v` value column): one map-side-
    * combined aggregation, then running/total counts over the occupied-
    * bucket summary — a tiny single partition by construction. */
  private def cumHistogram(vals: DataFrame): DataFrame = {
    val hist = vals.groupBy("b").agg(count(lit(1)).as("cnt"))
    // unpartitioned windows, bounded: one row per occupied bucket, not per value
    val wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("n", sum(col("cnt")).over(wn))
  }

  private def bucketed(df: DataFrame, valueCol: String, step: Double): DataFrame =
    df.where(col(valueCol).isNotNull)
      .select(floor(col(valueCol) / step).as("b"), col(valueCol).as("v"))

  /** Exact rank-statistic quantiles located THROUGH the histogram: pass
    * one builds the bucket summary, which pins each target rank
    * ceil(q·n) to the single bucket whose cumulative count first covers
    * it (and to a local rank inside that bucket); pass two sorts ONLY
    * the pinned buckets' rows. The global-sort exact quantile touches
    * every row of a 100 TB column in one task; this touches each target
    * bucket (≤ step-width of data) and shuffles on the quantile id.
    * Returns (q, exact). */
  def exactQuantilesViaHistogram(df: DataFrame, valueCol: String, step: Double,
      qs: Seq[Double]): DataFrame = {
    require(step > 0, s"exactQuantilesViaHistogram needs step > 0, got $step")
    val vals = bucketed(df, valueCol, step)
    exactFromCum(vals, cumHistogram(vals), qs)
  }

  private def exactFromCum(vals: DataFrame, cum: DataFrame,
      qs: Seq[Double]): DataFrame = {
    val qdf = vals.sparkSession.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    val pinned = broadcast(qdf.crossJoin(cum.agg(max(col("n")).as("n")))
      .withColumn("rn", ceil(col("q") * col("n")))
      .join(cum, col("rn") > col("cum") - col("cnt") && col("rn") <= col("cum"))
      .select(col("q"), col("b"), (col("rn") - (col("cum") - col("cnt"))).as("local")))
    val w = Window.partitionBy(col("q")).orderBy(col("v"))
    vals.join(pinned, "b")
      .withColumn("r", row_number().over(w))
      .where(col("r") === col("local"))
      .select(col("q"), col("v").as("exact"))
  }

  /** Fixed-width histogram quantile sketch: bucket = floor(v / step),
    * est(q) = the upper edge of the first bucket whose cumulative count
    * reaches ceil(q·n). One map-side-combined aggregation builds the
    * histogram (constant state: one counter per occupied bucket), and the
    * quantile extraction runs on that tiny summary — the single-pass,
    * mergeable shape that replaces a full sort at 100 TB, with error
    * bounded by `step`. Returns (q, est) for each requested quantile. */
  def histogramQuantiles(df: DataFrame, valueCol: String, step: Double,
      qs: Seq[Double]): DataFrame = {
    require(step > 0, s"histogramQuantiles needs step > 0, got $step")
    estFromCum(df.sparkSession, cumHistogram(bucketed(df, valueCol, step)), step, qs)
  }

  private def estFromCum(spark: org.apache.spark.sql.SparkSession, cum: DataFrame,
      step: Double, qs: Seq[Double]): DataFrame = {
    val qdf = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    broadcast(qdf).join(cum, col("cum") >= ceil(col("q") * col("n")))
      .groupBy("q")
      .agg(min((col("b") + 1) * step).as("est"))
  }

  /** Sketch estimate and exact rank statistic side by side, sharing ONE
    * histogram build: the cumulative summary (tiny) is materialized once
    * and feeds both the upper-edge estimate and the bucket-pinned exact
    * pass, so the value column is scanned twice total (histogram +
    * pinned-bucket probe), never once per output column. */
  def quantilesWithExact(df: DataFrame, valueCol: String, step: Double,
      qs: Seq[Double]): DataFrame = {
    require(step > 0, s"quantilesWithExact needs step > 0, got $step")
    val vals = bucketed(df, valueCol, step)
    val cum = cumHistogram(vals).localCheckpoint(eager = true)
    estFromCum(df.sparkSession, cum, step, qs)
      .join(exactFromCum(vals, cum, qs), "q")
      .select(col("q"), col("est"), col("exact"))
  }
}
