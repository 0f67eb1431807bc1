package graft.ops

import graft.functions.exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd k-means and the IVF probe built on it.
  *
  * Unlike a seeded `org.apache.spark.ml.clustering.KMeans` (whose init
  * sampling is reproducible only within one Spark version and never in an
  * external oracle), every step here is exact arithmetic an oracle can
  * restate: init is the k lowest-id vectors, assignment is a sequential
  * arg-min fold with ties to the lowest cell, and the recomputed means
  * are rounded to 1e-6 so the result does not depend on the order Spark's
  * partial aggregates combined partitions in.
  */
object Clustering {

  /** Squared L2 distance with sequential-fold summation (the codegen
    * kernel; bit-identical to the oracle's `list_reduce` over
    * `(a[i]-b[i])^2`). */
  def sqdist(a: Column, b: Column): Column = exprs.array_sqdist(a, b)

  /** Row-local arg-min cell assignment against centroid literals: a fold
    * over (distance, cell) candidate structs with an explicit comparison
    * (ties to the lowest cell) — no shuffle, no engine-specific struct
    * ordering, exactly DuckDB's `list_reduce` over the same structs.
    * The fold is the `aggregate` higher-order function, NOT a nested
    * `when` chain: a when-chain references its accumulator subtree three
    * times per step, so the expression tree grows 3^k and analysis
    * never finishes; lambda variables keep it linear in k. */
  def assignCell(v: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "assignCell needs at least one centroid")
    // NULL distances (null vector, length mismatch) coalesce to MaxValue
    // so a degenerate row still gets a deterministic cell (the lowest) —
    // and, critically, the SAME cell on this path and the broadcast-join
    // path ([[assignCellsJoined]]), whose min_by would otherwise skip
    // NULL ordering keys and emit a NULL cell the expression fold never
    // produces
    val cands = array(centroids.map { case (cell, c) =>
      struct(coalesce(sqdist(v, array(c.map(lit): _*)), lit(Double.MaxValue)).as("d"),
        lit(cell).as("cell"))
    }: _*)
    aggregate(
      slice(cands, 2, centroids.size - 1),
      element_at(cands, 1),
      (acc, x) => when(
        x("d") < acc("d") || (x("d") === acc("d") && x("cell") < acc("cell")), x)
        .otherwise(acc))
      .getField("cell")
  }

  /** Expression-tree budget of [[assignCell]]: k fused distance kernels
    * per row (one per centroid) stay within analysis/codegen limits up
    * to this many centroids; past it the tree itself becomes the cost
    * and assignment goes through the broadcast join ([[assignCells]]). */
  final val ExprMaxCells = 256

  /** Cell assignment behind the k-dispatch — the third escalation rung
    * of the SemDeDup family: up to [[ExprMaxCells]] centroids the
    * assignment is the row-local [[assignCell]] expression (zero
    * shuffle); past it the k distance kernels no longer fit one
    * expression tree, so the centroids become DATA instead of PLAN — a
    * k-row broadcast table cross-joined against the corpus (n×k rows
    * expanded in place, no shuffle of the input) with a per-id `min_by`
    * arg-min. The partial aggregation folds each row's k candidates
    * map-side, so the one exchange carries n rows regardless of k.
    * Both paths compute the same [[sqdist]] kernel and the same
    * (distance, cell) tie order, so the dispatch is value-invisible;
    * `idCol` must be unique (it is the arg-min group key). Returns the
    * input columns plus `cell`. */
  def assignCells(pts: DataFrame, idCol: String, vCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    if (centroids.size <= ExprMaxCells)
      pts.withColumn("cell", assignCell(col(vCol), centroids))
    else assignCellsJoined(pts, idCol, vCol, centroids)

  /** The joined (k > [[ExprMaxCells]]) assignment path — also callable
    * directly (the equivalence spec pins it against the expression
    * path at the same k). */
  def assignCellsJoined(pts: DataFrame, idCol: String, vCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val cdf = centroids.toDF("__cell", "__centroid")
    // same NULL-distance coalesce as [[assignCell]]: the dispatch must be
    // value-invisible on degenerate rows too
    val d = coalesce(sqdist(col(vCol), col("__centroid")), lit(Double.MaxValue))
    val carried = pts.columns.filter(_ != idCol).map(c => first(col(c)).as(c))
    val cell = min_by(col("__cell"), struct(d.as("d"), col("__cell"))).as("cell")
    val aggs = (carried :+ cell).toSeq
    pts.join(broadcast(cdf))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select((pts.columns :+ "cell").map(col).toIndexedSeq: _*)
  }

  /** Deterministic Lloyd k-means over an `array<float|double>` column.
    * Returns the (cell, centroid) pairs after `iters` iterations; cells
    * that lose all members drop out (cannot happen while each init
    * vector remains its own nearest cell, but the contract is explicit).
    *
    * Determinism caveat: the 1e-6 rounding erases aggregation-order
    * noise (~1e-15 relative for double sums at these widths) except in
    * the measure-zero event that a true mean sits within that noise of a
    * 0.5e-6 rounding boundary — the standard float-summation residual
    * any engine-reproducible mean carries; narrower than the noise of
    * the seeded-sampling KMeans this replaced by ~9 orders of magnitude.
    *
    * Scale shape: per iteration, assignment dispatches on k
    * ([[assignCells]]: row-local expression up to [[ExprMaxCells]],
    * broadcast-join arg-min past it) and the recompute is ONE map-side-
    * combined aggregation whose exchange carries at most k×dim partial
    * sums per partition; the k×dim model state collects to the driver
    * like any broadcast-scale ML model. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, dim: Int, k: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"kmeans needs k > 0, iters >= 0, got $k/$iters")
    // materialized: the cast vector must not re-inline into each of the
    // k per-centroid distance kernels (the MinHash inlining trap)
    val pts = df.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .localCheckpoint(eager = true)
    var centroids: Seq[(Int, Seq[Double])] = pts.sort("id").limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1).toSeq) }.toSeq
    for (_ <- 0 until iters) {
      val meanCols = (0 until dim).map(j =>
        round(avg(element_at(col("v"), j + 1)), 6).as(s"m$j"))
      centroids = assignCells(pts, "id", "v", centroids)
        .groupBy("cell").agg(meanCols.head, meanCols.tail: _*)
        .collect()
        .map(r => (r.getInt(0), (0 until dim).map(j => r.getDouble(j + 1)): Seq[Double]))
        .toSeq.sortBy(_._1)
    }
    centroids
  }

  /** Two-level (coarse × fine) quantizer model — the rung past the flat
    * model's broadcast budget: `coarse` is an ordinary k1-cell model
    * (driver-scale, like any broadcast ML model), `fine` refines each
    * coarse cell with up to `k2` sub-centroids, so the composite reaches
    * k1·k2 cells while no single assignment step ever handles more than
    * max(k1, k2·cellFanIn) candidates. `fine` is a DATAFRAME of
    * `(coarse: int, fine: int, centroid: array<double>)` — at this
    * rung's own target regime (k1·k2 past the flat broadcast budget)
    * the fine table is n/cellTarget rows and CANNOT live on the driver
    * (the r14 review's dd16 finding: a collected fine model hits a
    * driver-memory wall near n = 1e11 at dim 64, three decades short of
    * the rung's advertised reach), so it stays data end-to-end: fitted
    * by distributed aggregation, persisted as parquet
    * ([[saveTwoLevel]]), consumed by equi-join. The composite cell id
    * is `coarse·k2 + fine` (a Long — k1·k2 can exceed Int range).
    * [[fineSeq]] is the bounded driver-side view for model inspection
    * and specs. */
  case class TwoLevelModel(
      coarse: Seq[(Int, Seq[Double])],
      fine: DataFrame,
      k2: Int,
      /** Coverage verdict, cached at fit/load: [[kmeansTwoLevel]]
        * guarantees every coarse cell has fine rows by construction (the
        * fallback union) and [[loadTwoLevel]] verifies it ONCE at load —
        * so the per-call distinct()+collect coverage check in
        * [[assignCellsTwoLevel]] (a blocking driver job on every query,
        * assignment and served-layout write) runs only for hand-built
        * models, which stay `trusted = false` by default. */
      trusted: Boolean = false)

  /** Driver-side view of a [[TwoLevelModel]]'s fine table, (coarse,
    * fine, centroid) ascending — a model-inspection/spec hook guarded
    * at `maxRows` (default 1 << 20): collecting the fine table is
    * exactly the driver-residency wall the DataFrame representation
    * exists to avoid, so past the guard this fails loudly instead of
    * OOMing the driver. */
  def fineSeq(model: TwoLevelModel,
      maxRows: Long = 1L << 20): Seq[(Int, Int, Seq[Double])] = {
    val n = model.fine.count()
    require(n <= maxRows,
      s"fine table holds $n rows, past the $maxRows-row driver guard; " +
        "at this scale the model is DATA — join it, don't collect it")
    model.fine.select(col("coarse"), col("fine"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .toSeq.sortBy(t => (t._1, t._2))
  }

  /** Deterministic two-level Lloyd: a k1-cell [[kmeans]] coarse pass,
    * then per-coarse-cell fine k-means refined JOINTLY in one
    * distributed job per iteration — the fine-centroid table is plain
    * DATA equi-joined on the coarse cell (Catalyst broadcasts it while
    * it fits and shuffle-joins past that), and it STAYS a DataFrame
    * across iterations: each Lloyd step ends in a localCheckpoint —
    * severing the lineage exactly where the old collect() did — so the
    * driver never materializes the k1·k2 model and the fit's reach is
    * bounded by cluster storage, not driver heap. Init mirrors
    * [[kmeans]]'s rule per cell (the k2 lowest-id members); means round
    * to 1e-6 like every other model here, so the fit is
    * engine-order-independent and the dd16/dd17 oracles re-derive it
    * bit for bit.
    *
    * Scale shape per fine iteration: one n-row exchange for the per-id
    * arg-min (the equi-join fans each row out to its own coarse cell's
    * ≤ k2 candidates, partial-aggregated map-side) and one k1·k2-row
    * exchange for the means. */
  def kmeansTwoLevel(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k1: Int, k2: Int, iters: Int): TwoLevelModel = {
    require(k1 > 0 && k2 > 0 && iters >= 0,
      s"kmeansTwoLevel needs k1, k2 > 0 and iters >= 0, got $k1/$k2/$iters")
    val spark = df.sparkSession
    import spark.implicits._
    val coarseModel = kmeans(df, idCol, vecCol, dim, k1, iters)
    val pts = assignCells(
      df.select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v"))
        .localCheckpoint(eager = true),
      "id", "v", coarseModel)
      .localCheckpoint(eager = true) // coarse cells reused every fine iteration
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy("id")
    var fine: DataFrame = pts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k2)
      .select(col("cell").as("coarse"), (col("__rn") - 1).as("fine"),
        col("v").as("centroid"))
    for (_ <- 0 until iters) {
      val fdf = fine.localCheckpoint(eager = true)
      val d = coalesce(sqdist(col("v"), col("centroid")), lit(Double.MaxValue))
      val meanCols = (0 until dim).map(j =>
        round(avg(element_at(col("v"), j + 1)), 6).as(s"m$j"))
      fine = pts.join(fdf, col("cell") === col("coarse"))
        .groupBy(col("id"))
        .agg(first(col("cell")).as("c"), first(col("v")).as("v"),
          min_by(col("fine"), struct(d.as("d"), col("fine"))).as("f"))
        .groupBy(col("c"), col("f")).agg(meanCols.head, meanCols.tail: _*)
        .select(col("c").as("coarse"), col("f").as("fine"),
          array((0 until dim).map(j => col(s"m$j")): _*).as("centroid"))
    }
    // TOTAL coverage invariant: a coarse cell that lost every member
    // under final re-assignment (a standard Lloyd edge — the returned
    // centroids are means of the PREVIOUS iteration's clusters) would
    // have no fine rows, and the fine-join in [[assignCellsTwoLevel]]
    // would reject any future row landing there (the append/serve
    // pattern). Such a cell keeps its coarse centroid as its single
    // fine centroid instead — a k1-row anti-join, all data-side. The
    // fitted table is checkpointed before the fallback derivation (both
    // union branches read it; an un-pinned plan would recompute the
    // final n-row join per branch), and the union is checkpointed once
    // more, so every probe collect and fine-join reads ≤ k1·k2 pinned
    // rows instead of re-running the anti-join and distinct per query.
    val fitted = fine.localCheckpoint(eager = true)
    val coarseDf = coarseModel.toDF("coarse", "centroid")
    val fallback = coarseDf
      .join(fitted.select(col("coarse")).distinct(), Seq("coarse"), "left_anti")
      .select(col("coarse"), lit(0).as("fine"), col("centroid"))
    TwoLevelModel(coarseModel,
      fitted.unionByName(fallback).localCheckpoint(eager = true), k2, trusted = true)
  }

  /** Composite cell assignment against a [[TwoLevelModel]]: coarse via
    * the k-dispatch ([[assignCells]]), fine via an equi-join on the
    * coarse cell (each row meets only its own cell's ≤ k2 fine
    * candidates) and a per-id arg-min. Returns the input columns plus a
    * Long `cell` = coarse·k2 + fine. Ties resolve to the lowest fine
    * cell, mirroring every other assignment path.
    *
    * The fine-join is INNER, so a coarse cell without fine rows would
    * silently drop every row assigned to it — deficient models (hand-
    * built; [[kmeansTwoLevel]] and [[loadTwoLevel]] guarantee coverage
    * and carry `trusted = true`, so the check is skipped) are rejected
    * up front. The check collects only the DISTINCT COARSE values of
    * the fine table (≤ k1 ints after a map-side-combined distinct), so
    * it stays driver-bounded at ANY fine-table size — never the k1·k2
    * model itself. */
  def assignCellsTwoLevel(pts: DataFrame, idCol: String, vCol: String,
      model: TwoLevelModel): DataFrame = {
    requireCoverage(model)
    fineAssign(
      assignCells(pts, idCol, vCol, model.coarse)
        .withColumnRenamed("cell", "__coarseCell"),
      pts.columns.toIndexedSeq, idCol, vCol, model)
  }

  /** The coverage invariant behind [[assignCellsTwoLevel]]'s inner
    * fine-join, checked once per UNTRUSTED model (fit/load-time models
    * cache the verdict in `trusted` — see [[TwoLevelModel]]). */
  private def requireCoverage(model: TwoLevelModel): Unit =
    if (!model.trusted) {
      val covered = model.fine.select(col("coarse")).distinct()
        .collect().map(_.getInt(0)).toSet
      val missing = model.coarse.iterator.map(_._1).filterNot(covered).take(3).toList
      require(missing.isEmpty,
        s"TwoLevelModel leaves coarse cells ${missing.mkString(",")} without " +
          "fine centroids; rows landing there would be silently dropped")
    }

  /** The fine half of the composite assignment: equi-join the
    * coarse-assigned rows (column `__coarseCell`) against their own
    * coarse cell's ≤ k2 fine candidates and arg-min per id. Shared by
    * the full assignment ([[assignCellsTwoLevel]]) and the probe-sliced
    * top-k path ([[ivfTopKTwoLevel]]), which pre-filters the coarse
    * assignment to the probed coarse cells so the join input shrinks by
    * ~k1/topCoarse before any fine work happens. */
  private def fineAssign(coarse: DataFrame, outCols: Seq[String],
      idCol: String, vCol: String, model: TwoLevelModel): DataFrame = {
    val fdf = model.fine.select(col("coarse").as("__coarse"),
      col("fine").as("__fine"), col("centroid").as("__centroid"))
    val d = coalesce(sqdist(col(vCol), col("__centroid")), lit(Double.MaxValue))
    val carried = outCols.filter(_ != idCol).map(c => first(col(c)).as(c))
    val aggs = (carried :+ first(col("__coarseCell")).as("__c") :+
      min_by(col("__fine"), struct(d.as("d"), col("__fine"))).as("__f")).toSeq
    coarse.join(fdf, col("__coarseCell") === col("__coarse"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("cell", col("__c").cast("long") * model.k2 + col("__f"))
      .select((outCols :+ "cell").map(col).toIndexedSeq: _*)
  }

  /** Persist a [[TwoLevelModel]] under `path`, the two-level analogue
    * of the [[saveCentroids]] convention: the k1-row coarse model at
    * `<path>/coarse` (one file — broadcast-scale state), the fine table
    * at `<path>/fine` WRITTEN DISTRIBUTED (it is data: at the rung's
    * target regime it never fits the driver), and `k2` — load-bearing
    * composite arithmetic, not derivable from a fine table whose cells
    * may be under-populated — in a one-row `<path>/meta`. Deterministic
    * Lloyd + 1e-6 rounding + parquet's exact double round-trip make
    * save→load the EXACT fitted model, so a loaded-model query grades
    * against the refit oracle with zero tolerance (dd17). */
  def saveTwoLevel(spark: org.apache.spark.sql.SparkSession,
      model: TwoLevelModel, path: String): Unit = {
    import spark.implicits._
    saveCentroids(spark, model.coarse, s"$path/coarse")
    model.fine.select(col("coarse"), col("fine"), col("centroid"))
      .write.mode("overwrite").parquet(s"$path/fine")
    Seq(model.k2).toDF("k2").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveTwoLevel]] model — coarse and k2 to the driver (both
    * broadcast-scale), the fine table as a DataFrame over its parquet
    * (never materialized). Bit-identical to the fitted model by the
    * round-trip contract above. Coverage is verified ONCE here (a
    * ≤ k1-int distinct over the fine parquet — the persisted file could
    * come from any writer), so every later assignment/query/write
    * through the loaded model skips the per-call check. */
  def loadTwoLevel(spark: org.apache.spark.sql.SparkSession,
      path: String): TwoLevelModel = {
    val coarse = loadCentroids(spark, s"$path/coarse")
    val k2 = spark.read.parquet(s"$path/meta").select(col("k2"))
      .collect().head.getInt(0)
    val model = TwoLevelModel(coarse, spark.read.parquet(s"$path/fine"), k2)
    requireCoverage(model)
    model.copy(trusted = true)
  }

  /** ANN top-k through the IVF index: rank by exact cosine inside the
    * `nProbe` cells nearest the query vector. At scale the cell column is
    * precomputed and the table partitioned by it, so a query reads only
    * its probed cells' partitions. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], queryVec: Seq[Double], k: Int,
      nProbe: Int): DataFrame = {
    val probes = probeCells(centroids, queryVec, nProbe)
    val q = array(queryVec.map(lit): _*)
    assignCells(
      df.select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v"))
        .localCheckpoint(eager = true), // same inlining guard as kmeans
      "id", "v", centroids)
      .filter(col("cell").isin(probes: _*))
      .select(col("id"), Similarity.cosine(col("v"), q).as("sim"))
      .sort(col("sim").desc, col("id"))
      .limit(k)
  }

  /** ANN top-k through the TWO-LEVEL quantizer — the serve rung of the
    * fourth escalation level (IMI-shaped MULTIPROBE): the query's
    * `topCoarse` nearest COARSE cells come from driver arithmetic over
    * the k1-row coarse model, each descended cell contributes its
    * `nProbe` nearest FINE centroids from a ≤ topCoarse·k2-row collect
    * of the probed slice of the fine table (never the table itself —
    * the probe is bounded at any model size, the same discipline as
    * [[fineSeq]]'s guard), and the probed COMPOSITE cells re-rank by
    * exact cosine. Descending more than one coarse cell is the quality
    * contract of the rung: a query vector near a coarse Voronoi
    * boundary has true neighbors that quantized into the ADJACENT
    * coarse cell, and a single-coarse probe misses all of them (ss15
    * measures exactly this recall). A coarse cell covered only by the
    * coverage fallback probes its single fine-0 cell. Ties resolve low,
    * mirroring every other probe path; the ss13 oracle re-derives the
    * whole ladder.
    *
    * Scale shape: the corpus is coarse-assigned and FILTERED to the
    * probed coarse cells BEFORE the fine equi-join, so the join input
    * is ~topCoarse/k1 of the corpus instead of all of it — the fine
    * arg-min is paid only where a probed composite cell could come out.
    * Value-identical: a row outside the probed coarse cells can never
    * land in a probed composite cell. */
  def ivfTopKTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      model: TwoLevelModel, queryVec: Seq[Double], k: Int,
      nProbe: Int, topCoarse: Int = 1): DataFrame = {
    val probes = twoLevelProbeCells(model, queryVec, nProbe, topCoarse)
    val coarseProbes = probes.map(p => (p / model.k2).toInt).distinct
    val q = array(queryVec.map(lit): _*)
    val pts = df.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .localCheckpoint(eager = true) // same inlining guard as kmeans
    val coarseSlice = assignCells(pts, "id", "v", model.coarse)
      .filter(col("cell").isin(coarseProbes: _*))
      .withColumnRenamed("cell", "__coarseCell")
    fineAssign(coarseSlice, pts.columns.toIndexedSeq, "id", "v", model)
      .filter(col("cell").isin(probes: _*))
      .select(col("id"), Similarity.cosine(col("v"), q).as("sim"))
      .sort(col("sim").desc, col("id"))
      .limit(k)
  }

  /** The probed COMPOSITE cells of a [[TwoLevelModel]] for a query
    * vector (the IMI-shaped multiprobe ladder shared by the direct and
    * served two-level probe paths, and restated by the ss13/ss14/ss15
    * oracles): the `topCoarse` nearest coarse cells by driver
    * arithmetic over the k1-row model, then per descended coarse cell
    * its `nProbe` nearest fine centroids from ONE ≤ topCoarse·k2-row
    * collect of the probed cells' slice of the fine table — never the
    * table itself, so the probe stays driver-bounded at any model
    * size. Ties resolve low everywhere. Public for custom served
    * payloads: a layout that stores something other than float
    * embeddings (ss17's int8-quantized cells rank by integer dot
    * product) still prunes by the SAME multiprobe composite-cell set.
    *
    * Rejects a deficient model up front, like [[assignCellsTwoLevel]]
    * (free for trusted models): a probed coarse cell without fine rows
    * would contribute zero probes and every caller would return a
    * silently wrong top-k instead of a loud error. */
  def twoLevelProbeCells(model: TwoLevelModel, queryVec: Seq[Double],
      nProbe: Int, topCoarse: Int): Seq[Long] = {
    requireCoverage(model)
    require(nProbe > 0 && topCoarse > 0,
      s"two-level probe needs nProbe, topCoarse > 0, got $nProbe/$topCoarse")
    val coarseCells = model.coarse
      .map { case (c, ctr) => (c, seqSqdist(queryVec, ctr)) }
      .sortBy { case (c, dd) => (dd, c) }
      .take(topCoarse).map(_._1)
    val slice = model.fine
      .filter(col("coarse").isin(coarseCells.map(Integer.valueOf): _*))
      .select(col("coarse"), col("fine"), col("centroid"))
      .collect() // ≤ topCoarse·k2 rows by the model contract
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    coarseCells.flatMap { cc =>
      slice.iterator.filter(_._1 == cc)
        .map { case (_, f, c) => (f, seqSqdist(queryVec, c)) }
        .toSeq.sortBy { case (f, dd) => (dd, f) }
        .take(nProbe)
        .map { case (f, _) => cc.toLong * model.k2 + f }
    }.toSeq
  }

  /** The one `cell=` layout writer behind [[writePartitionedByCell]],
    * [[writePartitionedByCellTwoLevel]] and [[writeQuantizedByCellTwoLevel]]:
    * select (id, `payload`, the `__v` double cast of `vecCol`),
    * materialize it (same inlining guard as kmeans), `assign` the cell
    * from `__v`, drop `__v` and write partitioned by cell. */
  private def writeByCell(df: DataFrame, idCol: String, vecCol: String,
      payload: Column, path: String, mode: String)(
      assign: DataFrame => DataFrame): Unit =
    assign(df.select(col(idCol).as("id"), payload,
          transform(col(vecCol), _.cast("double")).as("__v"))
        .localCheckpoint(eager = true))
      .drop("__v")
      .write.partitionBy("cell").mode(mode).parquet(path)

  /** Persist the corpus partitioned by its COMPOSITE two-level cell —
    * the serving layout for the rung-4 index ([[writePartitionedByCell]]'s
    * convention at the hierarchical model): a query's probed composite
    * cells become a partition-pruning predicate, so the scan lists and
    * reads only nProbe `cell=` directories out of k1·k2, never the
    * corpus. `mode = "append"` grows the layout with a new batch
    * assigned through the SAME (persisted) model — the ss12 ingest
    * shape at this rung. */
  def writePartitionedByCellTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, model: TwoLevelModel, path: String,
      mode: String = "overwrite"): Unit =
    writeByCell(df, idCol, vecCol, col(vecCol).as("embedding"), path, mode)(
      assignCellsTwoLevel(_, "id", "__v", model))

  /** The QUANTIZED serving layout of the rung-4 index (ss17/ss18):
    * the corpus lands as ONLY (id, int8 q, composite cell) — the float
    * vectors never enter the index (4× smaller at rest; the codebook
    * persists separately via [[graft.ops.Similarity.saveQuantization]]
    * and is the sole decode key a serving process holds). Assignment
    * runs through the float vectors at WRITE time, exactly like the
    * float layout; `mode = "append"` grows the index with a new batch
    * quantized through the SAME loaded codebook and assigned through
    * the SAME loaded model — no refit, no rewrite, appended files
    * beside the old ones inside matching `cell=` directories. A
    * drifting batch (values outside the saved bounds) clamps; measure
    * it with [[graft.ops.Similarity.clampedDims]] rather than assuming
    * it away. */
  def writeQuantizedByCellTwoLevel(df: DataFrame, idCol: String,
      vecCol: String, model: TwoLevelModel, lo: Seq[Double],
      span: Seq[Double], path: String, mode: String = "overwrite"): Unit =
    writeByCell(df, idCol, vecCol,
        Similarity.quantizeInt8(col(vecCol), lo, span).as("q"), path, mode)(
      assignCellsTwoLevel(_, "id", "__v", model))

  /** ANN top-k against a [[writePartitionedByCellTwoLevel]] layout: the
    * same multiprobe ladder as [[ivfTopKTwoLevel]], with the probed
    * composite cells pruning partitions at planning time
    * (PartitionFilters on the scan — ≤ topCoarse·nProbe `cell=`
    * directories listed out of k1·k2) and exact cosine re-ranking the
    * probed residue — the layout the rung-4 index actually serves
    * queries from at 100 TB. */
  def ivfTopKServedTwoLevel(spark: org.apache.spark.sql.SparkSession,
      path: String, model: TwoLevelModel, queryVec: Seq[Double], k: Int,
      nProbe: Int, topCoarse: Int = 1): DataFrame =
    servedTopK(spark, path, twoLevelProbeCells(model, queryVec, nProbe, topCoarse),
      queryVec, k)

  /** The served re-rank behind [[ivfTopKServed]] and
    * [[ivfTopKServedTwoLevel]]: read the layout, keep the `probes` cells
    * (a partition filter, so only their directories are listed and
    * read), rank by exact cosine to `queryVec`, ties to the lowest id. */
  private def servedTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: Seq[Any], queryVec: Seq[Double], k: Int): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("cell").isin(probes: _*))
      .select(col("id"),
        Similarity.cosine(transform(col("embedding"), _.cast("double")), q).as("sim"))
      .sort(col("sim").desc, col("id"))
      .limit(k)
  }

  /** Persist the corpus partitioned by its IVF cell — the serving layout
    * for ANN at scale: a query's probe set becomes a partition-pruning
    * predicate, so the scan lists and reads ONLY the nProbe cell
    * directories out of k, never the full corpus. Pair with
    * [[ivfTopKServed]]. `mode = "append"` grows a served layout with a
    * NEW batch of vectors assigned by the SAME (persisted, train-once)
    * model, without refitting or rewriting the existing cells: appended
    * files land inside the matching `cell=` directories, so partition
    * pruning and [[ivfTopKServed]] see one seamless index (ss12). At
    * 100 TB this is the ingest shape — an index rebuild per batch would
    * re-shuffle the whole corpus, while the append touches only the new
    * rows. */
  def writePartitionedByCell(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], path: String,
      mode: String = "overwrite"): Unit =
    writeByCell(df, idCol, vecCol, col(vecCol).as("embedding"), path, mode)(
      assignCells(_, "id", "__v", centroids))

  /** ANN top-k against a [[writePartitionedByCell]] layout: the cell
    * filter prunes partitions at planning time (PartitionFilters on the
    * scan), then the probed cells re-rank by exact cosine. */
  def ivfTopKServed(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[(Int, Seq[Double])], queryVec: Seq[Double], k: Int,
      nProbe: Int): DataFrame =
    servedTopK(spark, path, probeCells(centroids, queryVec, nProbe), queryVec, k)

  /** TAKEDOWN: remove a set of ids from a `cell=`-partitioned serving
    * layout ([[writePartitionedByCell]], [[writePartitionedByCellTwoLevel]],
    * [[writeQuantizedByCellTwoLevel]] — any of them) WITHOUT a refit
    * and WITHOUT rewriting the unaffected partitions. The legal-removal
    * shape a training-data lake owes its sources (copyright/PII
    * takedown): given the id set, (1) ONE column-pruned scan of the
    * layout locates the affected cells (the layout is the only id→cell
    * map once the floats are gone; the collect is bounded by the MODEL
    * size k1·k2, never the corpus), (2) only those cells' survivors are
    * rewritten under dynamic partition overwrite — untouched `cell=`
    * directories keep their files byte-identical — and (3) a cell whose
    * every member was removed (dynamic overwrite never sees an output
    * row for it, so it would silently survive) has its directory
    * deleted explicitly. The survivors are localCheckpoint-materialized
    * before the overwrite (bounded by the AFFECTED cells' volume, spill
    * to disk allowed) — severing the self-read that Spark otherwise
    * rejects on an overwrite of its own source. Returns the affected
    * cells (rewritten or deleted), ascending. */
  def deleteFromCellLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, removals: DataFrame, idCol: String = "id"): Seq[Long] = {
    val layout = spark.read.parquet(path)
    val rm = removals.select(col(idCol).as("__rm_id")).distinct()
    // Middle-rung locate pruning: every ingest path already writes
    // per-file min/max `id` statistics into the parquet FOOTERS for
    // free, so the locate pass first reads those (metadata only, no
    // data pages) and keeps just the cells whose some file's [min, max]
    // id range can contain a removal id. On a corpus whose ids cluster
    // by cell this prunes the locate scan to a strict subset of files;
    // on an id-scattered layout every cell stays candidate and the only
    // cost is the footer reads (KB-scale each). Files without usable
    // stats make their cell unconditionally candidate — never a
    // correctness term. The semi-join below then confirms candidates
    // against the actual rows, so false candidates only cost IO.
    val locateSrc = takedownCandidateCells(spark, path, rm) match {
      case Some(cells) if cells.isEmpty => layout.filter(lit(false))
      case Some(cells) => layout.filter(col("cell").isin(cells: _*))
      case None => layout
    }
    val affected = locateSrc.join(rm, locateSrc("id") === col("__rm_id"), "left_semi")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toIndexedSeq
    if (affected.nonEmpty) {
      val survivors = layout
        .filter(col("cell").isin(affected: _*))
        .join(rm, layout("id") === col("__rm_id"), "left_anti")
        .localCheckpoint(eager = true)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try survivors.write.partitionBy("cell").mode("overwrite").parquet(path)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val remaining = survivors.select(col("cell").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val emptied = affected.filterNot(remaining)
      if (emptied.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        emptied.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"cell=$c"), true)
        }
      }
    }
    affected
  }

  /** The cells whose files' footer id ranges can contain a removal id
    * (plus every cell with a stats-less file) — the locate scan's
    * candidate set; `None` = stats unavailable, scan the whole layout.
    * Package-private so the spec can pin "strict subset on a
    * clustered-id corpus" directly. `rm` must expose the removal ids as
    * `__rm_id`. */
  private[graft] def takedownCandidateCells(
      spark: org.apache.spark.sql.SparkSession,
      path: String, rm: DataFrame): Option[Seq[Long]] =
    fileIdStats(spark, path).map { stats =>
      val always = stats.collect { case (cell, None) => cell }.distinct
      val ranged = stats.collect { case (cell, Some((mn, mx))) => (cell, mn, mx) }
      val hit =
        if (ranged.isEmpty) Seq.empty[Long]
        else {
          import spark.implicits._
          val statsDf = broadcast(ranged.toDF("__cell", "__fmin", "__fmax"))
          rm.join(statsDf,
              col("__rm_id").cast("long") >= col("__fmin") &&
                col("__rm_id").cast("long") <= col("__fmax"))
            .select(col("__cell")).distinct()
            .collect().map(_.getLong(0)).toSeq
        }
      (always ++ hit).distinct.sorted
    }

  /** Per-file `id`-range stats for a `cell=`-partitioned layout, read
    * from the parquet FOOTERS (metadata pages only — the statistics
    * every writer in this engine already emits for the int64 id column,
    * so the takedown's locate pruning costs the ingest paths nothing).
    * Returns one `(cell, Some((min, max)))` entry per data file, or
    * `(cell, None)` for a file whose id stats are missing/untyped
    * (that cell must stay unconditionally candidate); `None` overall
    * when the layout cannot be listed/footer-read at all — the caller
    * then keeps the full-layout locate scan. Footers are read on the
    * shared metadata-read pool ([[graft.Fs.readAll]]). */
  private def fileIdStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Seq[(Long, Option[(Long, Long)])]] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      val files = fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .flatMap { d =>
          val cell = d.getPath.getName.stripPrefix("cell=").toLong
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => (cell, f.getPath))
        }
      Some(graft.Fs.readAll(files.toSeq) { case (cell, p) =>
        val range: Option[(Long, Long)] =
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              var mn = Long.MaxValue
              var mx = Long.MinValue
              var usable = true
              for (b <- r.getFooter.getBlocks.asScala if b.getRowCount > 0) {
                b.getColumns.asScala.find(_.getPath.toDotString == "id") match {
                  case Some(c) => c.getStatistics match {
                    case s: org.apache.parquet.column.statistics.LongStatistics
                        if s.hasNonNullValue =>
                      mn = math.min(mn, s.genericGetMin)
                      mx = math.max(mx, s.genericGetMax)
                    case s: org.apache.parquet.column.statistics.IntStatistics
                        if s.hasNonNullValue =>
                      mn = math.min(mn, s.genericGetMin.toLong)
                      mx = math.max(mx, s.genericGetMax.toLong)
                    case _ => usable = false
                  }
                  case None => usable = false
                }
              }
              if (usable && mn <= mx) Some((mn, mx))
              else if (usable) Some((0L, -1L)) // zero-row file: matches nothing
              else None
            } finally r.close()
          } catch { case _: Exception => None }
        (cell, range)
      })
    } catch { case _: Exception => None }

  /** COMPACTION for a `cell=`-partitioned serving layout — the third
    * act of the embedding lake-ops ladder (land → append/stream →
    * takedown → compact), the [[graft.pointcloud.syntax.compactCopc]]
    * precedent at the ANN layouts: a season of appends (ss16/ss18) and
    * streamed epochs (st12's per-epoch files) leaves every `cell=`
    * directory holding MANY SMALL FILES, and the serve's
    * partition-pruned scan pays per-file open/footer costs that grow
    * with ingest history instead of data size. This rewrites the layout
    * OUT-OF-PLACE into `dst` with exactly one file per cell (one hash
    * shuffle on the cell key — each cell lands whole in one task), value-
    * identical rows, same partition scheme, so pruning and every serve
    * path work unchanged. Schema-agnostic: float (id, embedding, cell)
    * and quantized (id, q, cell) layouts compact identically.
    * Out-of-place because a compaction that rewrites under live readers
    * would race them; the caller swaps directories at its own cadence,
    * exactly like the COPC compactor. */
  def compactCellLayout(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String): Unit =
    spark.read.parquet(src)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(dst)

  /** Persist a trained centroid model as a tiny (k rows) parquet of
    * `(cell, centroid)` — an IVF deployment trains ONCE and serves the
    * model forever; refitting per process re-spends the k-means passes
    * and, against a corpus that changed since the layout was written,
    * silently serves a DIFFERENT quantization than the one the stored
    * cells were partitioned by. Deterministic Lloyd plus the 1e-6 mean
    * rounding make save→load EXACTLY the fitted model (doubles
    * round-trip parquet bit-for-bit), so a loaded-model query is graded
    * against the refit oracle with zero tolerance ([[loadCentroids]],
    * ss11). One file: the model is k×dim driver-scale state, the same
    * class of artifact as any broadcast ML model. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    centroids.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCentroids]] model, cells ascending — bit-identical to
    * the fitted Seq by the round-trip contract above. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(path).select(col("cell"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  /** The nProbe cells nearest the query vector, nearest first, ties to
    * the lowest cell — shared by the direct and served probe paths (and
    * restated by the ss04 oracle's `pc` CTE). */
  private def probeCells(centroids: Seq[(Int, Seq[Double])],
      queryVec: Seq[Double], nProbe: Int): Seq[Int] =
    centroids
      .map { case (cell, c) => (cell, seqSqdist(queryVec, c)) }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nProbe).map(_._1)

  /** Driver-side sqdist with the same sequential fold as the kernel. */
  private def seqSqdist(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }
}
