package graft

import graft.ops.{Clustering, Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics tests for the training-data ops (dedup, similarity, text,
  * multimodal). The DuckDB oracle covers value correctness for the
  * oracle-checked queries; these tests pin behavior (recall of planted
  * near-dups, LSH vs brute-force agreement, stub decode shape) and the
  * oracle-less SimHash path.
  */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val embs = Tables.embeddings(spark, sfDir)

  test("minhash-LSH finds every very-near duplicate the exact scan finds") {
    // exact (unblocked) pairs with jaccard >= 0.9
    val base = docs.select($"doc_id".as("id"), Dedup.shingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val exact = base.as("a").join(base.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        Dedup.jaccard($"a.sh", $"b.sh").as("j"))
      .filter($"j" >= 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    assert(exact.nonEmpty, "test data should contain planted near-dups")
    assert(lsh == exact, s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("simhash near-dup pairs overlap heavily with jaccard near-dups") {
    val sim = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val jac = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jac.nonEmpty)
    // every 0.95-jaccard pair should be within small hamming distance
    val recall = jac.count(sim.contains).toDouble / jac.size
    assert(recall >= 0.8, s"simhash recall $recall over ${jac.size} pairs")
  }

  test("simhash is stable and order-sensitive only in tokens, not rows") {
    val a = Dedup.simhashNearDupPairs(docs.orderBy(rand(42)), "doc_id", "text", 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val b = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("ANN bucket search returns a subset of brute-force ranking order") {
    val qv = embs.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")))
      .as[Seq[Double]].head()
    val brute = Similarity.bruteForceTopK(embs.filter($"vec_id" =!= 0),
      "vec_id", "embedding", qv, 50).select("id").as[Long].collect()
    val ann = Similarity.annTopK(embs.filter($"vec_id" =!= 0),
      "vec_id", "embedding", 64, qv, 5).select("id").as[Long].collect()
    assert(ann.nonEmpty)
    // ANN results must be ranked consistently with brute force: every ANN
    // hit that brute force also saw appears in the same relative order
    val pos = brute.zipWithIndex.toMap
    val annInBrute = ann.filter(pos.contains)
    assert(annInBrute.map(pos) sameElements annInBrute.map(pos).sorted)
  }

  test("blocked embedding near-dups: subset of exact pairs, no quadratic join") {
    val exact = Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // narrow tables (6×4) because this corpus' near-dups sit at weak
    // cosine (~0.45); see dd10 in OpsQueries
    val blockedDf = Dedup.blockedEmbeddingNearDupPairs(
      embs, "vec_id", "embedding", 64, 0.45, bands = 6, rows = 4)
    val blocked = blockedDf.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data should contain embedding near-dups")
    // blocking can miss pairs (recall < 1) but must never invent them
    assert(blocked.subsetOf(exact), s"spurious=${blocked -- exact}")
    assert(blocked.nonEmpty, "banded LSH should recover at least one planted pair")
    // the whole point of blocking: the physical plan has no O(n²) join
    val plan = blockedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked plan must not contain an all-pairs join:\n$plan")
  }

  test("lshGeometryFor: contains the hand-tuned small-n case, rows grows with log n, recall holds") {
    // the graded-SF geometry IS the previous hand-tuned 6x4 table
    assert(Similarity.lshGeometryFor(500, 0.45) == (6, 4))
    // 10x corpus: one-wider-than-needed would break the candidate
    // budget; rows must be the SMALLEST width with 64*2^rows >= n
    assert(Similarity.lshGeometryFor(2000, 0.45)._2 == 5)
    assert(Similarity.lshGeometryFor(20000, 0.45)._2 == 9)
    // candidate budget: per-band random collisions n^2/2^rows stay <= 64n
    for (n <- Seq(100L, 1000L, 50000L, 3000000L)) {
      val (_, rows) = Similarity.lshGeometryFor(n, 0.45)
      assert(rows == Similarity.MinRows || (64L << rows) >= n, s"n=$n rows=$rows")
    }
    // recall target: 1-(1-p^rows)^bands >= 0.685 at the solved bands,
    // and bands is minimal (one fewer would miss the target)
    val p = 1.0 - math.acos(0.45) / math.Pi
    for (r <- Similarity.MinRows to 12) {
      val b = Similarity.bandsForRows(r, 0.45)
      def recall(bands: Int) = 1.0 - math.pow(1.0 - math.pow(p, r), bands)
      assert(recall(b) >= 0.685, s"rows=$r bands=$b recall=${recall(b)}")
      assert(b == 1 || recall(b - 1) < 0.685, s"rows=$r bands=$b not minimal")
    }
    // rows caps at MaxRows instead of overflowing the shift
    assert(Similarity.lshGeometryFor(Long.MaxValue, 0.9)._2 == Similarity.MaxRows)
  }

  test("lsh_band_keys fused kernel is bit-identical to the per-plane composed form") {
    // the unfused form this kernel replaced: one array_dot per plane,
    // sign-bit packed per band (the oracle SQL restates exactly this)
    def unfused(dim: Int, bands: Int, rows: Int) =
      array((0 until bands).map { t =>
        (0 until rows).map { r =>
          val d = Similarity.dot(transform($"embedding", _.cast("double")),
            array((0 until dim).map(j =>
              lit(Similarity.plane(t * rows + r, j).toDouble)): _*))
          when(d > 0, lit(1 << r)).otherwise(lit(0))
        }.reduce(_ + _)
      }: _*)
    for ((bands, rows) <- Seq((6, 4), (57, 9), (2, 8))) {
      val mismatches = embs.select(
          Similarity.lshBandKeys(
            transform($"embedding", _.cast("double")), 64, bands, rows).as("f"),
          unfused(64, bands, rows).as("u"))
        .filter($"f" =!= $"u").count()
      assert(mismatches == 0, s"fused/unfused diverge at ${bands}x$rows")
    }
  }

  test("lshGeometryOrEscalate: geometry within the table's reach, None past it") {
    // 500 vectors, bound 64*2^4 = 1024: within reach, self-tuned = 6x4
    assert(Similarity.lshGeometryOrEscalate(embs, 0.45, maxRows = 4)
      == ((500L, Some((6, 4)))))
    // tripled corpus (1500 > 1024): the table cannot widen past the cap,
    // so the policy reports the measured count and escalates
    val tripled = embs.union(embs.withColumn("vec_id", $"vec_id" + 2000))
      .union(embs.withColumn("vec_id", $"vec_id" + 4000))
    assert(Similarity.lshGeometryOrEscalate(tripled, 0.45, maxRows = 4)
      == ((1500L, None)))
    // production default bound: 64*2^24 — nothing in test range escalates
    assert(Similarity.lshGeometryOrEscalate(embs, 0.45)._2.isDefined)
  }

  test("blockedEmbeddingNearDupPairs escalates past the bound to cell-confined pairs") {
    // replicas share identical vectors, so every (id, id+2000) twin is a
    // cosine-1.0 near-dup that MUST land in the same quantizer cell
    val tripled = embs.union(embs.withColumn("vec_id", $"vec_id" + 2000))
      .union(embs.withColumn("vec_id", $"vec_id" + 4000))
      .localCheckpoint(true)
    val escalated = Dedup.blockedEmbeddingNearDupPairs(
      tripled, "vec_id", "embedding", 64, 0.45, maxRows = 4)
    // schema identical to the LSH path: the dispatch is caller-invisible
    assert(escalated.columns.toSeq == Seq("id_a", "id_b", "c"))
    val pairs = escalated.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical-vector twins are guaranteed recovered (same cell, c=1)
    val twins = (0L until 500L).map(i => (i, i + 2000L)).toSet
    assert(twins.subsetOf(pairs), s"missing=${(twins -- pairs).take(5)}")
    assert(pairs.forall { case (a, b) => a < b })
    // the quadratic term is cell-confined: the join is an equi-join on
    // the cell key, never an all-pairs plan
    val plan = escalated.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"escalated plan must not contain an all-pairs join:\n$plan")
    // cell budget: k grows with n at the documented target, capped
    assert(Dedup.cellCountFor(1500) == 2)
    assert(Dedup.cellCountFor(100L * 4096) == 100)
    assert(Dedup.cellCountFor(Long.MaxValue / 4) == Dedup.SemanticMaxCells)
  }

  test("assignCells dispatches to a broadcast-join arg-min past the expression budget") {
    // the third escalation rung: past ExprMaxCells the k distance
    // kernels no longer fit one expression tree, so centroids become a
    // broadcast k-row TABLE and the arg-min a per-id min_by — this spec
    // pins the plan shape AND value-equality with the expression path
    // at the same synthetic k > 256 (including the duplicate-centroid
    // tie, which must resolve to the lowest cell on both paths)
    val k = 300
    assert(k > Clustering.ExprMaxCells)
    val centroids = (0 until k).map { c =>
      if (c == 299) (c, Seq(0.25, 0.0, 1.0)) // exact duplicate of cell 0
      else (c, Seq(c.toDouble + 0.25, (c % 17).toDouble, 1.0))
    }
    val pts = spark.range(400).select($"id",
        array(($"id" % 311).cast("double"),
          (($"id" * 7) % 17).cast("double"),
          lit(1.0)).as("v"))
      .localCheckpoint(true)
    val joined = Clustering.assignCells(pts, "id", "v", centroids)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast centroid join in the assignment plan:\n$plan")
    val viaJoin = joined.select("id", "cell").as[(Long, Int)].collect().toMap
    val viaExpr = pts.withColumn("cell", Clustering.assignCell($"v", centroids))
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(viaJoin == viaExpr,
      s"diverging=${viaJoin.filter { case (i, c) => viaExpr(i) != c }.take(5)}")
    // the duplicate-centroid tie really fired and picked the LOWER cell
    assert(viaJoin.values.exists(_ == 0) && !viaJoin.values.exists(_ == 299))
    // dispatch boundary: at k <= ExprMaxCells the plan stays join-free
    val small = Clustering.assignCells(pts, "id", "v", centroids.take(8))
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(!smallPlan.contains("Join"), s"small-k assignment must stay row-local:\n$smallPlan")
    // unpinned cell growth: the broadcast budget, not the expression
    // budget, is now the cap
    assert(Dedup.cellCountFor(300L * 4096) == 300)
    assert(Dedup.SemanticMaxCells > Clustering.ExprMaxCells)
  }

  test("kmeans iterates through the joined assignment past the expression budget") {
    // k > ExprMaxCells: every Lloyd iteration's assignment must route
    // through the broadcast-join arg-min and still recompute means
    val pts = spark.range(600).select($"id",
      array(($"id" % 291).cast("double"), ($"id" % 7).cast("double")).as("v"))
    val model = Clustering.kmeans(pts, "id", "v", dim = 2, k = 280, iters = 1)
    assert(model.nonEmpty && model.size <= 280)
    assert(model.forall(_._2.size == 2))
    assert(model.map(_._1) == model.map(_._1).sorted, "cells ascending")
  }

  test("two-level assignment equals the driver-side reference arg-min") {
    val pts = spark.range(60).select($"id",
        array(($"id" % 13).cast("double"), ($"id" % 7).cast("double"),
          ($"id" % 3).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 3, k1 = 3, k2 = 2, iters = 1)
    val fineRows = Clustering.fineSeq(model)
    assert(fineRows.nonEmpty && fineRows.forall(_._3.size == 3))
    assert(model.k2 == 2)
    val got = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    def sq(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val ref = pts.select("id", "v").as[(Long, Seq[Double])].collect().map { case (id, v) =>
      val coarse = model.coarse.map { case (c, cv) => (sq(v, cv), c) }.min._2
      val fine = fineRows.filter(_._1 == coarse)
        .map { case (_, f, fv) => (sq(v, fv), f) }.min._2
      id -> (coarse.toLong * model.k2 + fine)
    }.toMap
    assert(got == ref,
      s"diverging=${got.filter { case (i, c) => ref(i) != c }.take(5)}")
  }

  test("a two-level model covers every coarse cell; a deficient one is rejected") {
    // coverage invariant: a coarse cell left without fine centroids
    // would make the inner fine-join silently DROP any appended/served
    // row landing there — kmeansTwoLevel must guarantee coverage, and
    // assignCellsTwoLevel must refuse a model that lacks it rather
    // than lose rows without an error
    val pts = spark.range(40).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 5).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 4, k2 = 3, iters = 2)
    val covered = Clustering.fineSeq(model).map(_._1).toSet
    assert(model.coarse.forall(c => covered(c._1)),
      s"coarse cells without fine rows: ${model.coarse.map(_._1).filterNot(covered)}")
    // total assignment: nothing dropped
    assert(Clustering.assignCellsTwoLevel(pts, "id", "v", model).count() == 40)
    // a handcrafted deficient model (coarse cell 1 has no fine rows)
    // fails fast instead of silently dropping its rows; the check
    // collects only the distinct coarse values (k1-bounded), never the
    // fine table
    val bad = Clustering.TwoLevelModel(
      Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 10.0)),
      Seq((0, 0, Seq(0.0, 0.0))).toDF("coarse", "fine", "centroid"), k2 = 1)
    val err = intercept[IllegalArgumentException] {
      Clustering.assignCellsTwoLevel(pts, "id", "v", bad)
    }
    assert(err.getMessage.contains("without fine centroids"))
    // the probe path rejects it too: a deficient probed coarse cell
    // would otherwise contribute zero probes and silently drop its rows
    // from the candidate set (wrong top-k, no error)
    val err2 = intercept[IllegalArgumentException] {
      Clustering.ivfTopKTwoLevel(pts, "id", "v", bad, Seq(0.0, 0.0), 3, nProbe = 1)
    }
    assert(err2.getMessage.contains("without fine centroids"))
  }

  test("a fitted two-level model's fine table plans as one checkpointed relation") {
    // the fit materializes fitted ∪ coverage fallback once, so a probe
    // collect or fine-join reads pinned rows instead of re-running the
    // fallback's anti-join and distinct on every query
    val pts = spark.range(40).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 5).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 4, k2 = 3, iters = 2)
    val plan = model.fine.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD], plan.treeString)
  }

  test("two-level IVF top-k equals the driver-side reference ladder") {
    val pts = spark.range(1, 80).select($"id",
        array(($"id" % 13).cast("double"), ($"id" % 7).cast("double"),
          ($"id" % 5).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 3, k1 = 3, k2 = 2, iters = 2)
    val qv = Seq(6.0, 3.0, 2.0)
    val got = Clustering.ivfTopKTwoLevel(pts, "id", "v", model, qv, 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val coarse = model.coarse.map { case (c, ctr) => (c, sq(qv, ctr)) }
      .minBy { case (c, d) => (d, c) }._1
    val probes = Clustering.fineSeq(model).filter(_._1 == coarse)
      .map { case (_, f, c) => (f, sq(qv, c)) }
      .sortBy { case (f, d) => (d, f) }.take(2)
      .map { case (f, _) => coarse.toLong * model.k2 + f }.toSet
    val assigned = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val vmap = pts.select("id", "v").as[(Long, Seq[Double])].collect().toMap
    val ref = vmap.toSeq.filter { case (id, _) => probes(assigned(id)) }
      .map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(4)
    assert(got.map(_._1) == ref.map(_._1),
      s"got ${got.map(_._1)}, reference ${ref.map(_._1)}")
    got.zip(ref).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("two-level MULTIPROBE descends the top-T coarse cells and equals the reference ladder") {
    val pts = spark.range(1, 80).select($"id",
        array(($"id" % 13).cast("double"), ($"id" % 7).cast("double"),
          ($"id" % 5).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 3, k1 = 3, k2 = 2, iters = 2)
    val qv = Seq(6.0, 3.0, 2.0)
    val got = Clustering.ivfTopKTwoLevel(pts, "id", "v", model, qv, 6,
        nProbe = 2, topCoarse = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // reference ladder: top-2 coarse cells, per descended cell its 2
    // nearest fine centroids, composite membership, cosine ranking
    val coarseCells = model.coarse.map { case (c, ctr) => (c, sq(qv, ctr)) }
      .sortBy { case (c, d) => (d, c) }.take(2).map(_._1)
    val fineRows = Clustering.fineSeq(model)
    val probes = coarseCells.flatMap { cc =>
      fineRows.filter(_._1 == cc)
        .map { case (_, f, c) => (f, sq(qv, c)) }
        .sortBy { case (f, d) => (d, f) }.take(2)
        .map { case (f, _) => cc.toLong * model.k2 + f }
    }.toSet
    val assigned = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val vmap = pts.select("id", "v").as[(Long, Seq[Double])].collect().toMap
    val ref = vmap.toSeq.filter { case (id, _) => probes(assigned(id)) }
      .map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(6)
    assert(got.map(_._1) == ref.map(_._1),
      s"got ${got.map(_._1)}, reference ${ref.map(_._1)}")
    // the multiprobe candidate set contains the single-coarse probe's —
    // recall@k against exact top-k is monotone in the candidate set, so
    // descending a second coarse cell can only help a boundary query
    val single = Clustering.ivfTopKTwoLevel(pts, "id", "v", model, qv, 6,
        nProbe = 2, topCoarse = 1)
      .select("id").as[Long].collect().toSet
    val exact6 = vmap.toSeq.map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(6).map(_._1).toSet
    val multiHits = got.map(_._1).count(exact6)
    val singleHits = single.count(exact6)
    assert(multiHits >= singleHits,
      s"multiprobe recall $multiHits < single-coarse recall $singleHits")
  }

  test("two-level served append: old partition files stay byte-identical, appends serve seamlessly") {
    val pts = spark.range(1, 101).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val oldSlice = pts.filter($"id" % 5 =!= 1)
    val newBatch = pts.filter($"id" % 5 === 1)
    val model = Clustering.kmeansTwoLevel(oldSlice, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-twolevel-append")
    try {
      val path = dir.toString
      Clustering.writePartitionedByCellTwoLevel(oldSlice, "id", "v", model, path)
      def partFiles(): Map[String, String] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.Map[String, String]()
        java.nio.file.Files.walk(dir).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            md.reset()
            out(dir.relativize(p).toString) =
              md.digest(java.nio.file.Files.readAllBytes(p))
                .map("%02x".format(_)).mkString
          }
        }
        out.toMap
      }
      val before = partFiles()
      assert(before.nonEmpty)
      Clustering.writePartitionedByCellTwoLevel(newBatch, "id", "v", model,
        path, mode = "append")
      val after = partFiles()
      // zero-rewrite contract: every pre-append file survives the append
      // byte for byte; the new batch lands BESIDE them
      before.foreach { case (f, h) =>
        assert(after.contains(f), s"append removed $f")
        assert(after(f) == h, s"append rewrote $f")
      }
      assert(after.size > before.size, "append landed no new files")
      // the combined layout is the full corpus's assignment — nothing
      // dropped, appended rows quantized by the train-once model
      val combined = spark.read.parquet(path)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      val direct = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      assert(combined == direct)
    } finally Fs.deleteRecursively(dir)
  }

  test("quantized two-level append: old files byte-identical, floats never stored, clamps measured") {
    val pts = spark.range(1, 101).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val oldSlice = pts.filter($"id" % 5 =!= 1)
    val newBatch = pts.filter($"id" % 5 === 1)
    val model = Clustering.kmeansTwoLevel(oldSlice, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    // fit the bounds on a deliberately NARROWED old slice so the new
    // batch genuinely falls outside them — the clamp measurement below
    // must exercise real saturation, not a vacuous zero
    val (lo, span) = Similarity.quantizationBounds(
      oldSlice.filter($"id" <= 9), "v", 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-quant-append")
    try {
      val path = dir.toString
      Clustering.writeQuantizedByCellTwoLevel(oldSlice, "id", "v", model, lo, span, path)
      // the layout stores ONLY (id, q, cell) — no float column leaks in
      val cols = spark.read.parquet(path).columns.toSet
      assert(cols == Set("id", "q", "cell"), s"quantized layout stores $cols")
      def partFiles(): Map[String, String] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.Map[String, String]()
        java.nio.file.Files.walk(dir).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            md.reset()
            out(dir.relativize(p).toString) =
              md.digest(java.nio.file.Files.readAllBytes(p))
                .map("%02x".format(_)).mkString
          }
        }
        out.toMap
      }
      val before = partFiles()
      assert(before.nonEmpty)
      Clustering.writeQuantizedByCellTwoLevel(newBatch, "id", "v", model,
        lo, span, path, mode = "append")
      val after = partFiles()
      before.foreach { case (f, h) =>
        assert(after.contains(f), s"append removed $f")
        assert(after(f) == h, s"append rewrote $f")
      }
      assert(after.size > before.size, "append landed no new files")
      // the combined census equals the direct full assignment
      val combined = spark.read.parquet(path)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      val direct = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      assert(combined == direct)
      // the drift is measured, not assumed: the shrunken-bounds batch
      // really clamps, and each quantized component sits at a saturation
      // endpoint exactly when clampedDims counted it
      val clamped = newBatch
        .select(Similarity.clampedDims($"v", lo, span).as("nc"))
        .agg(org.apache.spark.sql.functions.sum($"nc")).as[Long].collect().head
      assert(clamped > 0, "test geometry produced no clamping — vacuous")
      val qn = newBatch.select($"id",
          Similarity.quantizeInt8($"v", lo, span).as("q"),
          Similarity.clampedDims($"v", lo, span).as("nc"))
        .as[(Long, Seq[Long], Int)].collect()
      qn.foreach { case (id, q, nc) =>
        val sat = q.count(x => x == -128L || x == 127L)
        assert(sat >= nc, s"row $id: $nc clamps but only $sat saturated components")
      }
    } finally Fs.deleteRecursively(dir)
  }

  test("takedown rewrites only affected cells, deletes emptied ones, leaves the rest byte-identical") {
    val pts = spark.range(1, 101).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-takedown")
    try {
      val path = dir.toString
      Clustering.writePartitionedByCellTwoLevel(pts, "id", "v", model, path)
      val byCell = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
        .select("cell", "id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sorted.toSeq }
      val (cellA, membersA) = byCell.filter(_._2.size >= 2).head
      val (cellB, membersB) = (byCell - cellA).head
      def partFiles(): Map[String, String] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.Map[String, String]()
        java.nio.file.Files.walk(dir).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            md.reset()
            out(dir.relativize(p).toString) =
              md.digest(java.nio.file.Files.readAllBytes(p))
                .map("%02x".format(_)).mkString
          }
        }
        out.toMap
      }
      val before = partFiles()
      // takedown of ONE member of cellA: only cellA's partition rewrites
      val affected = Clustering.deleteFromCellLayout(spark, path,
        Seq(membersA.head).toDF("id"))
      assert(affected == Seq(cellA))
      val after = partFiles()
      before.filterNot(_._1.startsWith(s"cell=$cellA")).foreach { case (f, h) =>
        assert(after.get(f).contains(h), s"takedown touched unaffected file $f")
      }
      val surviving = spark.read.parquet(path).select("id").as[Long].collect().toSet
      assert(!surviving(membersA.head), "removed id survived the takedown")
      assert(membersA.tail.forall(surviving), "takedown dropped an innocent neighbor")
      assert(membersB.forall(surviving))
      // takedown of ALL of cellB: its directory must disappear outright
      // (dynamic overwrite alone would silently leave it behind)
      val affected2 = Clustering.deleteFromCellLayout(spark, path,
        membersB.toDF("id"))
      assert(affected2 == Seq(cellB))
      assert(!java.nio.file.Files.exists(dir.resolve(s"cell=$cellB")),
        s"emptied cell=$cellB directory survived")
      val finalIds = spark.read.parquet(path).select("id").as[Long].collect().toSet
      assert(membersB.forall(id => !finalIds(id)))
      assert(finalIds.size == 100 - 1 - membersB.size)
      // an empty removal set is a no-op that touches nothing
      val beforeNoop = partFiles()
      assert(Clustering.deleteFromCellLayout(spark, path,
        Seq.empty[Long].toDF("id")).isEmpty)
      assert(partFiles() == beforeNoop)
    } finally Fs.deleteRecursively(dir)
  }

  test("takedown locate prunes to candidate cells via parquet footer id stats") {
    // clustered-id layout: cell c holds exactly ids [25c, 25c+24], so the
    // per-file footer min/max id stats (written for free by every parquet
    // write) must prune the locate scan to a STRICT subset of cells.
    // Written once as one file per cell and once as one file per id (25
    // files per cell), so the pooled footer read runs over many files.
    for (partitions <- Seq(1, 100)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-takedown-stats")
      try {
        val path = dir.toString
        spark.range(0, 100, 1, partitions)
          .select($"id", ($"id" % 5).cast("double").as("payload"),
            ($"id" / 25).cast("long").as("cell"))
          .write.partitionBy("cell").mode("overwrite").parquet(path)
        if (partitions > 1) (0 to 3).foreach { c =>
          val files = dir.resolve(s"cell=$c").toFile.listFiles()
            .count(_.getName.endsWith(".parquet"))
          assert(files >= 20, s"cell=$c holds $files files")
        }
        val rm = Seq(30L, 31L).toDF("id").select($"id".as("__rm_id"))
        val cand = Clustering.takedownCandidateCells(spark, path, rm)
        assert(cand.contains(Seq(1L)),
          s"expected locate candidates [1] on a clustered-id corpus, got $cand")
        // a removal id outside every file's range prunes the locate to zero
        val none = Clustering.takedownCandidateCells(spark, path,
          Seq(1000L).toDF("id").select($"id".as("__rm_id")))
        assert(none.contains(Seq.empty[Long]), s"got $none")
        // the value contract holds through the pruned locate path
        val affected = Clustering.deleteFromCellLayout(spark, path,
          Seq(30L, 31L).toDF("id"))
        assert(affected == Seq(1L))
        val ids = spark.read.parquet(path).select("id").as[Long].collect().toSet
        assert(!ids(30L) && !ids(31L) && ids.size == 98)
        // a no-match removal set affects nothing
        assert(Clustering.deleteFromCellLayout(spark, path,
          Seq(1000L).toDF("id")).isEmpty)
      } finally Fs.deleteRecursively(dir)
    }
  }

  test("quantization codebook saves and loads bit-identically") {
    // the bounds are the ONLY decode key for a quantized layout (the
    // floats are not stored) — the persisted artifact must round-trip
    // exactly, including negative, tiny and guarded-identity spans
    val lo = Seq(-0.75, 0.0, 1e-12, -3.5e8)
    val span = Seq(1.5, 1.0, 2.25e-12, 7.0e8)
    val dir = java.nio.file.Files.createTempDirectory("graft-quant-bounds")
    try {
      val p = dir.resolve("bounds").toString
      Similarity.saveQuantization(spark, lo, span, p)
      val (l2, s2) = Similarity.loadQuantization(spark, p)
      assert(l2 == lo && s2 == span)
    } finally Fs.deleteRecursively(dir)
  }

  test("loadQuantization rejects a truncated or duplicated codebook loudly") {
    // a partially-written or duplicated-row bounds parquet must never
    // load as a shorter/misaligned (lo, span) — every stored int8 would
    // silently decode against the WRONG per-dimension bounds
    val dir = java.nio.file.Files.createTempDirectory("graft-quant-bad")
    try {
      val dup = dir.resolve("dup").toString
      Seq((0, 0.0, 1.0), (0, 0.5, 2.0), (1, 1.0, 1.0))
        .toDF("j", "lo", "span").write.parquet(dup)
      val e1 = intercept[IllegalArgumentException] {
        Similarity.loadQuantization(spark, dup)
      }
      assert(e1.getMessage.contains("dense"))
      val gap = dir.resolve("gap").toString
      Seq((0, 0.0, 1.0), (2, 1.0, 1.0)) // dimension 1 missing
        .toDF("j", "lo", "span").write.parquet(gap)
      val e2 = intercept[IllegalArgumentException] {
        Similarity.loadQuantization(spark, gap)
      }
      assert(e2.getMessage.contains("dense"))
    } finally Fs.deleteRecursively(dir)
  }

  test("twoLevelProbeCells and the served two-level probe reject a deficient model loudly") {
    // ADVICE r16: the served path (and the public probe-cells surface a
    // custom payload like ss17 prunes with) must reject an untrusted
    // model whose probed coarse cell has no fine rows — zero probes
    // would otherwise return a silently wrong top-k
    val bad = Clustering.TwoLevelModel(
      Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 10.0)),
      Seq((0, 0, Seq(0.0, 0.0))).toDF("coarse", "fine", "centroid"), k2 = 1)
    val e1 = intercept[IllegalArgumentException] {
      Clustering.twoLevelProbeCells(bad, Seq(9.0, 9.0), nProbe = 1, topCoarse = 1)
    }
    assert(e1.getMessage.contains("without fine centroids"))
    val e2 = intercept[IllegalArgumentException] {
      Clustering.ivfTopKServedTwoLevel(spark, "/nonexistent", bad,
        Seq(9.0, 9.0), 5, nProbe = 1, topCoarse = 1)
    }
    assert(e2.getMessage.contains("without fine centroids"))
  }

  test("loadTwoLevel verifies coverage once at load; a deficient persisted model is rejected") {
    val bad = Clustering.TwoLevelModel(
      Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(10.0, 10.0)),
      Seq((0, 0, Seq(0.0, 0.0))).toDF("coarse", "fine", "centroid"), k2 = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-twolevel-bad")
    try {
      Clustering.saveTwoLevel(spark, bad, dir.toString)
      val err = intercept[IllegalArgumentException] {
        Clustering.loadTwoLevel(spark, dir.toString)
      }
      assert(err.getMessage.contains("without fine centroids"))
    } finally Fs.deleteRecursively(dir)
  }

  test("a two-level model saves, loads bit-identically, and the fit is collect-free past the guard") {
    val pts = spark.range(50).select($"id",
        array(($"id" % 9).cast("double"), ($"id" % 4).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-twolevel").toString
    Clustering.saveTwoLevel(spark, model, dir)
    val loaded = Clustering.loadTwoLevel(spark, dir)
    assert(loaded.coarse == model.coarse)
    assert(loaded.k2 == model.k2)
    assert(Clustering.fineSeq(loaded) == Clustering.fineSeq(model))
    // assignment through the LOADED model equals the fitted one
    val a = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
      .select("id", "cell").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val b = Clustering.assignCellsTwoLevel(pts, "id", "v", loaded)
      .select("id", "cell").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(a == b)
    // the driver-side view refuses to collect past its guard — the
    // collect-free contract is enforced, not advisory
    val g = intercept[IllegalArgumentException] {
      Clustering.fineSeq(model, maxRows = 1)
    }
    assert(g.getMessage.contains("driver guard"))
  }

  test("past the flat cell budget the escalation goes two-level (coarse x fine)") {
    // synthetic corpus big enough that want = ceil(n/4096) exceeds the
    // injected maxCells: the escalation must switch the QUANTIZER to
    // coarse x fine composite cells, and planted identical twins must
    // still land in one composite cell and be reported
    val base = spark.range(12500).select($"id".as("vec_id"),
      array((0 until 8).map(j =>
        ((($"id" + 1) * (j + 3)) % 15101).cast("double") / 15101d): _*).as("embedding"))
    val twins = base.filter($"vec_id" < 150)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val corpus = base.unionByName(twins).localCheckpoint(true)
    val pairs = Dedup.nearDupPairsEscalated(corpus, "vec_id", "embedding",
      dim = 8, threshold = 0.99995, n = 12650L, maxRows = 4, maxCells = 2)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "c"))
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expect = (0L until 150L).map(i => (i, i + 100000)).toSet
    assert(expect.subsetOf(got), s"missing=${(expect -- got).take(5)}")
    // the quadratic term stays cell-confined: equi-join on the composite
    // cell key, never an all-pairs plan
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"two-level pairs must not be an all-pairs plan:\n$plan")
  }

  test("connected components collapse transitive near-dup chains") {
    // two chains (1-2-3-4) and (10-11), plus an isolated pair (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(cc == Set((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 10L), (10L, 11L), (20L, 20L), (20L, 21L)))
  }

  test("connected components: driver-local union-find equals the distributed loop") {
    // a hash-derived random graph with chains, cliques, isolated pairs
    // and a long path (pointer-jumping stressor) — the local path (the
    // measured-count default at this size) must be row-identical to the
    // distributed label-propagation loop it replaces below the budget
    val pairs = spark.range(1, 400).select(
        pmod(xxhash64($"id"), lit(300)).as("id_a"),
        pmod(xxhash64($"id" * 7 + 3), lit(300)).as("id_b"))
      .filter($"id_a" =!= $"id_b")
      .unionByName(spark.range(1000, 1100).select(
        $"id".as("id_a"), ($"id" + 1).as("id_b"))) // 100-long path
      .localCheckpoint(true)
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val distributed = Dedup.connectedComponents(pairs, 20, localMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == distributed,
      s"paths disagree: onlyLocal=${(local -- distributed).take(5)} " +
        s"onlyDist=${(distributed -- local).take(5)}")
    // schema-invisible dispatch: same column names and types
    assert(Dedup.connectedComponents(pairs).schema ==
      Dedup.connectedComponents(pairs, 20, localMaxEdges = 0).schema)
  }

  test("connected components: non-integral ids dispatch to the distributed loop") {
    // the local path round-trips ids through Long, so string ids must
    // fall through to the distributed loop (not silently corrupt) even
    // though the edge count is far below the local budget
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toSet
    assert(cc == Set(("a", "a"), ("a", "b"), ("a", "c"),
      ("x", "x"), ("x", "y")))
  }

  test("deterministic k-means: assignment is partition-invariant and cells partition the data") {
    val corpus = embs.filter($"vec_id" =!= 0)
    val c1 = Clustering.kmeans(corpus, "vec_id", "embedding", 64, 8, 2)
    val c2 = Clustering.kmeans(corpus.repartition(13), "vec_id", "embedding", 64, 8, 2)
    assert(c1 == c2) // 1e-6-rounded means erase aggregation-order noise
    assert(c1.map(_._1).toSet.size == 8)
    val cells = corpus
      .select(transform($"embedding", _.cast("double")).as("v"))
      .withColumn("cell", Clustering.assignCell($"v", c1))
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(cells.keySet.subsetOf(c1.map(_._1).toSet))
    assert(cells.values.sum == corpus.count())
  }

  test("saveCentroids/loadCentroids: the fitted model round-trips bit-for-bit") {
    val corpus = embs.filter($"vec_id" =!= 0)
    val model = Clustering.kmeans(corpus, "vec_id", "embedding", 64, 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-model")
    try {
      val path = dir.resolve("centroids").toString
      Clustering.saveCentroids(spark, model, path)
      val loaded = Clustering.loadCentroids(spark, path)
      // EXACT Seq equality — deterministic Lloyd + 1e-6 mean rounding +
      // parquet's lossless double round-trip leave zero tolerance
      assert(loaded == model)
      // serving through the loaded model is serving through the model
      val qv = embs.filter($"vec_id" === 0)
        .select(transform($"embedding", _.cast("double")))
        .as[Seq[Double]].head()
      val a = Clustering.ivfTopK(corpus, "vec_id", "embedding", model, qv, 5, nProbe = 2)
        .collect().map(_.toSeq).toSeq
      val b = Clustering.ivfTopK(corpus, "vec_id", "embedding", loaded, qv, 5, nProbe = 2)
        .collect().map(_.toSeq).toSeq
      assert(a == b)
    } finally graft.Fs.deleteRecursively(dir)
  }

  test("cell-partitioned IVF layout: probes prune partitions, results unchanged") {
    val corpus = embs.filter($"vec_id" =!= 0)
    val qv = embs.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")))
      .as[Seq[Double]].head()
    val model = Clustering.kmeans(corpus, "vec_id", "embedding", 64, 8, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf")
    try {
      val path = dir.toString
      Clustering.writePartitionedByCell(corpus, "vec_id", "embedding", model, path)
      val served = Clustering.ivfTopKServed(spark, path, model, qv, 5, nProbe = 2)
      val direct = Clustering.ivfTopK(corpus, "vec_id", "embedding", model, qv, 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == direct)
      // the probe set must reach the scan as a partition-pruning predicate
      val scan = served.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("cell"), scan)
      assert(!scan.contains("PartitionFilters: []"), scan)
      // and the pruning predicate admits at most nProbe of the 8 cells
      // (inputFiles can't be used here: it lists the relation's files
      // BEFORE partition pruning)
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
      val admitted = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf)
        .map(_.group(1).split(',').map(_.trim).toSet).getOrElse(Set.empty)
      assert(admitted.nonEmpty && admitted.size <= 2,
        s"PartitionFilters admits cells $admitted, expected <= 2 (nProbe): $pf")
    } finally Fs.deleteRecursively(dir) // don't leak a layout dir per run
  }

  test("ss07 entry query: served layout is partition-pruned and equals the direct IVF path") {
    val served = graft.queries.OpsQueries.queries("ss07_ivf_served")(spark, sfDir)
    val rows = served.collect().toSeq // execute first so AQE finalizes the plan
    val direct = graft.queries.OpsQueries.queries("ss04_ivf_topk")(spark, sfDir)
      .collect().toSeq
    assert(rows == direct)
    // the probe set must reach the layout scan as a partition-pruning
    // predicate — the property that makes the served path read nProbe
    // cell directories instead of the corpus
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    assert(!plan.contains("PartitionFilters: []"), plan)
  }

  test("ss14 entry query: two-level served layout is partition-pruned and equals ss13") {
    val served = graft.queries.OpsQueries.queries("ss14_twolevel_served")(spark, sfDir)
    val rows = served.collect().toSeq // execute first so AQE finalizes the plan
    val direct = graft.queries.OpsQueries.queries("ss13_twolevel_topk")(spark, sfDir)
      .collect().toSeq
    assert(rows == direct)
    // the probed COMPOSITE cells must reach the layout scan as a
    // partition-pruning predicate — <= topCoarse*nProbe cell dirs out
    // of k1*k2
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    assert(!plan.contains("PartitionFilters: []"), plan)
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    val admitted = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf)
      .map(_.group(1).split(',').map(_.trim).toSet).getOrElse(Set.empty)
    assert(admitted.nonEmpty && admitted.size <= 4,
      s"PartitionFilters admits cells $admitted, expected <= 4 (topCoarse*nProbe): $pf")
  }

  test("ss17 entry query: quantized two-level layout is partition-pruned and stores no floats") {
    val res = graft.queries.OpsQueries.queries("ss17_twolevel_quantized")(spark, sfDir)
    val rows = res.collect().toSeq // execute first so AQE finalizes the plan
    assert(rows.nonEmpty)
    // the integer ranking must agree with a driver-side re-rank of the
    // returned rows (monotone qscore, ties low)
    val scores = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores == scores.sortBy { case (sc, id) => (-sc, id) })
    // all plan pins scope to the LAYOUT scan line: the in_exact10
    // re-rank side legitimately reads the (unpartitioned, float)
    // source embeddings table, so whole-plan assertions would misfire
    val plan = res.queryExecution.executedPlan.toString
    val layoutScan = plan.linesIterator
      .find(_.contains("graft_twolevel_quant")).getOrElse("")
    assert(layoutScan.nonEmpty, plan)
    // the layout stores ONLY the int8 payload — no float embeddings
    assert(!layoutScan.contains("embedding"),
      s"the quantized serving layout must not carry float embeddings: $layoutScan")
    // the multiprobe set reaches the layout scan as a partition-pruning
    // predicate admitting <= topCoarse*nProbe of the k1*k2 cells
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(layoutScan).map(_.group(1)).getOrElse("")
    assert(pf.nonEmpty && pf.contains("cell"), layoutScan)
    val admitted = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf)
      .map(_.group(1).split(',').map(_.trim).toSet).getOrElse(Set.empty)
    assert(admitted.nonEmpty && admitted.size <= 4,
      s"PartitionFilters admits cells $admitted, expected <= 4 (topCoarse*nProbe): $pf")
  }

  test("ss18 entry query: quantized append serves partition-pruned, floats absent, clamp measured") {
    val res = graft.queries.OpsQueries.queries("ss18_quantized_append")(spark, sfDir)
    val rows = res.collect().toSeq // execute first so AQE finalizes the plan
    val serve = rows.filter(_.getString(0) == "serve")
    assert(serve.nonEmpty)
    // all plan pins scope to the LAYOUT scan line (the ss17 lesson: the
    // clamp/census sides read other sources with empty filter lists)
    val plan = res.queryExecution.executedPlan.toString
    val layoutScan = plan.linesIterator
      .find(_.contains("graft_quant_append")).getOrElse("")
    assert(layoutScan.nonEmpty, plan)
    assert(!layoutScan.contains("embedding"),
      s"the quantized layout must not carry float embeddings: $layoutScan")
    // the census proves the append landed: some cell carries appended rows
    val census = rows.filter(_.getString(0).startsWith("cell_"))
    assert(census.map(_.getDouble(2)).sum > 0, "append landed no rows")
    // the bounds-drift cost is measured and non-vacuous at this SF: the
    // appended batch's extremes fall outside the old-slice codebook
    val clamp = rows.filter(_.getString(0) == "clamp")
    assert(clamp.size == 1)
    assert(clamp.head.getLong(1) > 0, "clamp row is vacuously zero")
  }

  test("dd18 entry query: takedown serve is partition-pruned and removed ids are gone") {
    val res = graft.queries.OpsQueries.queries("dd18_takedown")(spark, sfDir)
    val rows = res.collect().toSeq
    // no served neighbor and no census id-sum can contain a removed id:
    // re-derive the census id sums from the post-takedown rule directly
    val serveIds = rows.filter(_.getString(0) == "serve").map(_.getLong(1))
    assert(serveIds.nonEmpty)
    assert(serveIds.forall(id => id % 37 != 5), s"removed id served: $serveIds")
    val plan = res.queryExecution.executedPlan.toString
    val layoutScan = plan.linesIterator
      .find(l => l.contains("graft_takedown") && l.contains("PartitionFilters"))
      .getOrElse("")
    assert(layoutScan.nonEmpty, plan)
    assert(!layoutScan.contains("PartitionFilters: []"), layoutScan)
  }

  test("st12 entry query: the streamed ANN layout equals the batch append entry exactly") {
    // one contract, two ingest paths: ss16 (batch append) and st12
    // (streaming epochs + graded replay) share the oracle; pin the two
    // ENGINE results equal row for row as well
    val streamed = graft.SparkEntry.queries("st12_ann_ingest")(spark, sfDir)
      .collect().toSeq
    val batch = graft.queries.OpsQueries.queries("ss16_twolevel_append")(spark, sfDir)
      .collect().toSeq
    assert(streamed == batch)
  }

  test("takedown works on the QUANTIZED layout too — the op is layout-agnostic") {
    val pts = spark.range(1, 101).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val (lo, span) = Similarity.quantizationBounds(pts, "v", 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-takedown-quant")
    try {
      val path = dir.toString
      Clustering.writeQuantizedByCellTwoLevel(pts, "id", "v", model, lo, span, path)
      val removals = Seq(3L, 17L, 41L).toDF("id")
      Clustering.deleteFromCellLayout(spark, path, removals)
      val surviving = spark.read.parquet(path).select("id").as[Long].collect().toSet
      assert(Seq(3L, 17L, 41L).forall(!surviving(_)))
      assert(surviving.size == 97)
      // the rewritten partitions keep the quantized schema — no float
      // column appears through the rewrite
      assert(spark.read.parquet(path).columns.toSet == Set("id", "q", "cell"))
    } finally Fs.deleteRecursively(dir)
  }

  test("compactCellLayout: one file per cell, value-invisible, pruning intact") {
    val pts = spark.range(1, 101).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
    try {
      val frag = dir.resolve("frag").toString
      val compact = dir.resolve("compact").toString
      // a season of ingest: three appended batches, each landing its own
      // files — at least one cell ends up fragmented
      Clustering.writePartitionedByCellTwoLevel(
        pts.filter($"id" % 3 === 0), "id", "v", model, frag)
      Clustering.writePartitionedByCellTwoLevel(
        pts.filter($"id" % 3 === 1), "id", "v", model, frag, mode = "append")
      Clustering.writePartitionedByCellTwoLevel(
        pts.filter($"id" % 3 === 2), "id", "v", model, frag, mode = "append")
      def filesPerCell(root: String): Map[String, Int] = {
        val out = scala.collection.mutable.Map[String, Int]()
        java.nio.file.Files.walk(java.nio.file.Paths.get(root)).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            val cell = p.getParent.getFileName.toString
            out(cell) = out.getOrElse(cell, 0) + 1
          }
        }
        out.toMap
      }
      assert(filesPerCell(frag).values.exists(_ > 1),
        "test fixture is not fragmented — vacuous")
      Clustering.compactCellLayout(spark, frag, compact)
      val fpc = filesPerCell(compact)
      assert(fpc.nonEmpty && fpc.values.forall(_ == 1),
        s"compaction must leave one file per cell, got $fpc")
      assert(fpc.keySet == filesPerCell(frag).keySet)
      // value-invisible: same rows, cell for cell
      def rowsOf(root: String) = spark.read.parquet(root)
        .select($"id", $"cell").as[(Long, Long)].collect().toSeq.sorted
      assert(rowsOf(compact) == rowsOf(frag))
      // partition pruning still fires on the compacted layout
      val pruned = spark.read.parquet(compact).filter($"cell" === 0L)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && !plan.contains("PartitionFilters: []"),
        plan)
    } finally Fs.deleteRecursively(dir)
  }

  test("two-level multiprobe mean recall@5 over several queries beats single-coarse") {
    // the rung-4 quality contract over a QUERY SET (ss15 grades one
    // vector bit-for-bit; this pins the average behavior): descending a
    // second coarse cell can only grow the candidate set, so multiprobe
    // recall is structurally >= single-coarse per query — assert that,
    // plus a loose absolute floor that survives per-round data regen
    val corpus = embs.filter($"vec_id" >= 5)
    val model = Clustering.kmeansTwoLevel(corpus, "vec_id", "embedding",
      64, k1 = 8, k2 = 3, iters = 2)
    val recalls = (0L to 4L).map { qid =>
      val qv = embs.filter($"vec_id" === qid)
        .select(transform($"embedding", _.cast("double")))
        .as[Seq[Double]].head()
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qv, 5)
        .select("id").as[Long].collect().toSet
      def rec(topCoarse: Int): Double = {
        val got = Clustering.ivfTopKTwoLevel(corpus, "vec_id", "embedding",
            model, qv, 5, nProbe = 2, topCoarse = topCoarse)
          .select("id").as[Long].collect().toSet
        exact.intersect(got).size.toDouble / exact.size
      }
      (rec(1), rec(2))
    }
    recalls.foreach { case (r1, r2) =>
      assert(r2 >= r1, s"multiprobe recall $r2 below single-coarse $r1")
    }
    val mean2 = recalls.map(_._2).sum / recalls.size
    assert(mean2 >= 0.3,
      s"two-level multiprobe mean recall@5 = $mean2 (${recalls.map(_._2)})")
  }

  test("IVF ANN recall@5 vs exact top-k stays pinned") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val model = Clustering.kmeans(embs, "vec_id", "embedding", 64, 8, 2)
    val recalls = ids.map { q =>
      val qv = embs.filter($"vec_id" === q)
        .select(transform($"embedding", _.cast("double")))
        .as[Seq[Double]].head()
      val rest = embs.filter($"vec_id" =!= q)
      val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", qv, 5)
        .select("id").as[Long].collect().toSet
      val ivf = Clustering.ivfTopK(rest, "vec_id", "embedding", model, qv, 5, nProbe = 2)
        .select("id").as[Long].collect().toSet
      exact.intersect(ivf).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean IVF recall@5 over ${ids.size} queries = $mean ($recalls)")
  }

  test("grid radius join finds exactly the brute-force pairs") {
    import graft.pointcloud.PointCloudOps
    val rnd = new scala.util.Random(7)
    val pts = (1 to 400).map(i =>
      (i.toLong, rnd.nextDouble() * 50, rnd.nextDouble() * 50))
      .toDF("id", "px", "py")
    val grid = PointCloudOps.radiusJoin(pts, "id", "px", "py", 2.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = pts.as("a").join(pts.as("b"), $"a.id" < $"b.id")
      .where(($"a.px" - $"b.px") * ($"a.px" - $"b.px") +
        ($"a.py" - $"b.py") * ($"a.py" - $"b.py") <= 4.0)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(grid == brute, s"missing=${brute -- grid} spurious=${grid -- brute}")
  }

  test("allPairsJaccard is exact at a non-tenth threshold (0.75)") {
    // an approximate (rounded-to-tenths) size-ratio prune would drop pairs
    // with count ratio in [0.75, 0.8) — compare against brute force
    val t = 0.75
    val base = docs.select($"doc_id".as("id"), Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    val brute = base.as("a").join(base.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        Dedup.jaccard($"a.sh", $"b.sh").as("j"))
      .filter($"j" >= t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.allPairsJaccard(docs, "doc_id", "text", t)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "test data should contain pairs at J >= 0.75")
    assert(exact == brute, s"missed=${brute -- exact} spurious=${exact -- brute}")
  }

  test("exact dedup keeps the minimal id and counts group sizes") {
    val out = Dedup.exactDedup(
      Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t"), "id", $"t")
      .select("keep_id", "dups")
      .orderBy("keep_id")
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("near-dup plans never degrade to all-pairs joins") {
    // dd06 is the exact all-pairs baseline by design; every other
    // near-dup path must stay a bucket/prefix equi-join at any scale
    val guarded = Seq("dd03_minhash_lsh", "dd04_exact_jaccard", "dd05_simhash",
      "dd09_incremental_dedup", "dd10_blocked_embedding", "dd11_containment")
    guarded.foreach { name =>
      val plan = graft.queries.OpsQueries.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$name plans an all-pairs join:\n$plan")
    }
  }

  test("minhash signatures are partition-invariant (mergeable partial mins)") {
    // the 100 TB shape rests on map-side partial min-aggregation merging
    // exactly like a single pass, whatever the input partitioning
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(docs) == sigs(docs.repartition(17)))
  }

  test("near-dup pipelines run the shingle kernel only inside the materialized frames") {
    // the hashed-shingle frame is checkpointed once per side; if the
    // kernel ever leaks back into the executed plan, some stage is
    // recomputing the shingle pipeline instead of reading the frame
    for (name <- Seq("dd03_minhash_lsh", "dd09_incremental_dedup")) {
      val plan = graft.queries.OpsQueries.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("graft_shingle_hash_set"),
        s"$name recomputes shingles in-plan:\n$plan")
    }
  }

  test("repetition metrics rank a repetitive doc above a diverse one") {
    val df = Seq((1L, "a b a b a b a b"), (2L, "q w e r t y u i"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(m(0).getDouble(1) > m(1).getDouble(1)) // dup2f
    assert(m(0).getDouble(2) > m(1).getDouble(2)) // top2f
    assert(m(1).getDouble(1) == 0.0)              // all-distinct doc: no repeats
  }

  test("document frequency finds corpus-wide words with exact fractions") {
    val df = Seq((1L, "x shared"), (2L, "y shared"), (3L, "z shared z"), (4L, "x q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.documentFrequency(df, "doc_id", "text")
      .orderBy(desc("df"), $"word").collect()
    assert(out.head.getString(0) == "shared" && out.head.getLong(1) == 3)
    assert(out.head.getDouble(2) == 0.75)
    // per-doc distinct: the repeated "z" inside doc 3 counts once
    assert(out.find(_.getString(0) == "z").get.getLong(1) == 1)
  }

  test("quality score is bounded and favors stopword-bearing longer docs") {
    val scored = Seq(
      ("the a of and to in the a of and " * 10).trim, // long, stopword-rich
      "zzz qqq"                                        // short, no stopwords
    ).toDF("text").select(TextAnalysis.qualityScore($"text").as("s")).as[Double].collect()
    assert(scored.forall(s => s >= 0.0 && s <= 1.0))
    assert(scored(0) > scored(1))
  }

  test("langid picks the marked language deterministically") {
    val out = Seq(
      "el la de something", "the a of thing", "der die das ding", "xxxx yyyy"
    ).toDF("text").select(TextAnalysis.langId($"text").as("l")).as[String].collect()
    assert(out.toSeq == Seq("es", "en", "de", "und"))
  }

  test("batched decode: batch boundaries never change values, batching is real") {
    val packed = Multimodal.packPayload(docs, "text", "text", "source")
    val viaExpr = packed
      .select($"doc_id", Multimodal.stubDecodeFeatures($"payload").as("f"))
      .select($"doc_id", $"f.byte_len".as("byte_len"), $"f.head_sum".as("head_sum"))
      .orderBy("doc_id").collect().toSeq
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batchSizes")
    def decode(b: Seq[(Long, Array[Byte])]) = { sizes.add(b.size); Multimodal.stubBatchDecode(b) }
    for (bs <- Seq(7, 32, 100000)) {
      val viaBatch = Multimodal.decodeInBatches(packed, "doc_id", "payload", bs, decode)
        .select($"id".as("doc_id"), $"byte_len", $"head_sum")
        .orderBy("doc_id").collect().toSeq
      assert(viaBatch == viaExpr, s"batchSize=$bs")
    }
    import scala.jdk.CollectionConverters._
    val observed = sizes.value.asScala.toSeq
    assert(observed.nonEmpty && observed.max <= 100000 && observed.contains(7))
  }

  test("png_ihdr decodes real ImageIO PNGs and rejects junk/truncated bytes") {
    import graft.functions.exprs
    def realPng(w: Int, h: Int, imgType: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, imgType)
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", baos))
      baos.toByteArray
    }
    val rgb = realPng(37, 23, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val argb = realPng(640, 480, java.awt.image.BufferedImage.TYPE_INT_ARGB)
    val rows = Seq(
      (1L, rgb),                      // truecolor (color type 2)
      (2L, argb),                     // truecolor + alpha (color type 6)
      (3L, "not a png".getBytes),     // junk
      (4L, rgb.take(20)),             // truncated mid-IHDR
      (5L, Array[Byte]()))            // empty
      .toDF("id", "payload")
      .select($"id", exprs.png_ihdr($"payload").as("f"))
      .orderBy("id")
      .collect()
    val byId = rows.map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    assert(byId(1L).map(s => (s.getInt(0), s.getInt(1), s.getInt(2), s.getInt(3)))
      .contains((37, 23, 8, 2)))
    assert(byId(2L).map(s => (s.getInt(0), s.getInt(1), s.getInt(2), s.getInt(3)))
      .contains((640, 480, 8, 6)))
    assert(byId(3L).isEmpty && byId(4L).isEmpty && byId(5L).isEmpty)
    // the encode twin round-trips through the same decoder
    val rt = spark.range(1).select(exprs.png_ihdr(
        graft.ops.Multimodal.pngIhdrBytes(lit(300), lit(77), lit(16), lit(4))).as("f"))
      .select("f.*").collect().head
    assert((rt.getInt(0), rt.getInt(1), rt.getInt(2), rt.getInt(3)) == (300, 77, 16, 4))
  }

  test("multimodal stub decode produces the contracted feature shape") {
    val packed = Multimodal.packPayload(docs.limit(10), "text", "image", "source")
    assert(packed.schema("payload").dataType.typeName == "binary")
    val f = packed.select(Multimodal.stubDecodeFeatures($"payload").as("f"))
      .select("f.byte_len", "f.head_sum", "f.hist0", "f.hist1", "f.hist2", "f.hist3")
      .collect()
    assert(f.length == 10)
    assert(f.forall(r => r.getLong(1) > 0))
    // ascii text → all bytes < 128 → hist2/hist3 empty
    assert(f.forall(r => r.getInt(4) == 0 && r.getInt(5) == 0))
  }

  test("frame sampling stub keeps every Nth row") {
    assert(Multimodal.sampleEvery(spark.range(100).toDF(), "id", 10).count() == 10)
  }

  test("stub decoders agree on NON-ASCII payloads: both sum raw bytes") {
    // "é" is 2 bytes in UTF-8 (0xC3 0xA9) but 1 char / codepoint 233 —
    // a codepoint-summing expression side would disagree with the
    // byte-summing batch side on every row here
    val rows = Seq((1L, "héllo wörld … ¤"), (2L, "日本語テキスト"), (3L, "plain ascii"))
      .toDF("id", "text").withColumn("payload", $"text".cast("binary"))
    val viaExpr = rows.select($"id", Multimodal.stubDecodeFeatures($"payload").as("f"))
      .select($"id", $"f.byte_len".as("byte_len"), $"f.head_sum".as("head_sum"))
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val viaBatch = rows.select($"id", $"payload").as[(Long, Array[Byte])]
      .collect().sortBy(_._1).toSeq
      .map { case (id, b) =>
        val d = Multimodal.stubBatchDecode(Seq((id, b))).head
        (d.id, d.byte_len, d.head_sum)
      }
    assert(viaExpr == viaBatch)
    // and the UTF-8 rows genuinely exercise the distinction
    assert(viaExpr.head._2 > "héllo wörld … ¤".length)
  }

  test("image decode: solid PNG round-trip recovers exact dims and channel means") {
    val png = Multimodal.encodeSolidPng(9, 5, 200, 30, 7)
    val got = Multimodal.imageBatchDecode(Seq((42L, png)))
    assert(got == Seq(Multimodal.ImageFeatures(42L, 9, 5, 45L, 200.0, 30.0, 7.0)))
    // non-solid golden: 1 black + 1 white pixel → means are exactly 127.5
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(1, 0, 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val mixed = Multimodal.imageBatchDecode(Seq((7L, out.toByteArray))).head
    assert((mixed.r_mean, mixed.g_mean, mixed.b_mean) == (127.5, 127.5, 127.5))
  }

  test("image decode drops undecodable payloads instead of failing the batch") {
    val png = Multimodal.encodeSolidPng(3, 3, 1, 2, 3)
    val batch = Seq((1L, png), (2L, "junk bytes".getBytes("UTF-8")),
      (3L, Array[Byte]()), (4L, png.take(30)))
    val got = Multimodal.imageBatchDecode(batch)
    assert(got.map(_.id) == Seq(1L))
    // and through the distributed seam: poison rows cost rows, not the job
    val df = batch.toDF("id", "payload")
    val decoded = Multimodal.decodeImages(df, "id", "payload", 2)
    assert(decoded.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("image decode through the seam is batch-size invariant") {
    val dims = spark.range(1, 60).select($"id",
      (lit(4) + $"id" % 13).cast("int").as("w"),
      (lit(3) + ($"id" * 5) % 11).cast("int").as("h"),
      ($"id" % 256).cast("int").as("r"),
      (($"id" * 3) % 256).cast("int").as("g"),
      (($"id" * 7) % 256).cast("int").as("b"))
    val packed = Multimodal.encodeSolidPngs(dims, "id", "w", "h", "r", "g", "b")
    val expected = (1L until 60L).map(i => Multimodal.ImageFeatures(
      i, (4 + i % 13).toInt, (3 + (i * 5) % 11).toInt,
      (4 + i % 13) * (3 + (i * 5) % 11),
      (i % 256).toDouble, ((i * 3) % 256).toDouble, ((i * 7) % 256).toDouble))
    for (bs <- Seq(1, 7, 100000)) {
      val got = Multimodal.decodeImages(packed, "id", "payload", bs)
        .as[Multimodal.ImageFeatures].collect().sortBy(_.id).toSeq
      assert(got == expected, s"batchSize=$bs")
    }
  }

  test("codec dispatch: PNG/BMP/GIF are all lossless for solid colours (mm05 path)") {
    // one colour per codec; GIF's exact-palette path must not quantize
    val cases = Seq(("png", 9, 5), ("bmp", 7, 4), ("gif", 6, 8))
    val batch = cases.zipWithIndex.map { case ((fmt, w, h), i) =>
      (i.toLong, Multimodal.encodeSolid(fmt, w, h, 200, 30, 7))
    } :+ (99L, "not an image".getBytes("UTF-8"))
    // the payload's magic bytes really differ per codec (the sniffing
    // the dispatcher relies on): PNG \x89PNG, BMP "BM", GIF "GIF8"
    val magics = batch.take(3).map(_._2.take(2).map(_ & 0xff).toSeq)
    assert(magics == Seq(Seq(0x89, 'P'.toInt), Seq('B'.toInt, 'M'.toInt),
      Seq('G'.toInt, 'I'.toInt)))
    val got = Multimodal.imageBatchDecodeFmt(batch)
    assert(got.map(f => (f.id, f.fmt, f.width, f.height)) ==
      cases.zipWithIndex.map { case ((fmt, w, h), i) => (i.toLong, fmt, w, h) })
    // lossless across every codec: exact channel means, junk dropped
    assert(got.forall(f => (f.r_mean, f.g_mean, f.b_mean) == (200.0, 30.0, 7.0)))
    assert(!got.exists(_.id == 99L))
  }

  test("decoders drop payloads whose magic bytes sniff fine but whose body is garbage") {
    // valid GIF/BMP/PNG magics + junk bodies make the JDK codecs throw
    // RUNTIME exceptions, not IOException — still one row, not the job
    val junkTail = Array.fill[Byte](64)(0x5a)
    val gifJunk = "GIF89a".getBytes("US-ASCII") ++ junkTail
    val bmpJunk = "BM".getBytes("US-ASCII") ++ junkTail
    val pngJunk = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte) ++ junkTail
    val goodPng = Multimodal.encodeSolidPng(3, 3, 1, 2, 3)
    val batch = Seq((1L, goodPng), (2L, gifJunk), (3L, bmpJunk), (4L, pngJunk))
    assert(Multimodal.imageBatchDecode(batch).map(_.id) == Seq(1L))
    assert(Multimodal.imageBatchDecodeFmt(batch).map(_.id) == Seq(1L))
    // audio likewise: a RIFF/WAVE prefix with a garbage chunk table
    val wavJunk = "RIFF".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0x7f) ++
      "WAVE".getBytes("US-ASCII") ++ junkTail
    val goodWav = Multimodal.encodePcm16Wav(8000, 1, Array[Short](1, 2, 3))
    assert(Multimodal.audioBatchDecode(Seq((1L, goodWav), (2L, wavJunk))).map(_.id) == Seq(1L))
  }

  test("minhash_band_keys kernel matches the batch explode+aggregate path") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words in this other document here"),
      (4L, "ab")).toDF("id", "text") // doc 4 is below the shingle size
    val kernel = df.select($"id",
        graft.functions.exprs.minhash_band_keys(Dedup.shingleHashes($"text"),
          Dedup.NumHashes, Dedup.Bands, Dedup.RowsPerBand).as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    val batch = Dedup.minhashSignatures(df, "id", "text")
      .select($"id", Dedup.bandKeys($"sig").as("bk"))
      .as[(Long, Seq[Long])].collect().toMap
    // the batch path drops empty-shingle docs; the kernel gives them
    // empty keys (same outcome after posexplode: no band rows)
    assert(batch.keySet == Set(1L, 2L, 3L))
    batch.foreach { case (id, bk) => assert(kernel(id) == bk, s"id=$id") }
    assert(kernel(4L).isEmpty)
    assert(kernel(1L) == kernel(2L) && kernel(1L) != kernel(3L))
  }

  test("image resize: nearest-neighbor to target dims, junk and bad targets drop") {
    val png = Multimodal.encodeSolidPng(8, 6, 200, 30, 7)
    // downscale, upscale, degenerate target, junk payload
    val batch = Seq(
      (1L, (png, 4, 3)), (2L, (png, 16, 12)), (3L, (png, 0, 5)),
      (4L, ("junk".getBytes("UTF-8"), 4, 4)))
    val out = Multimodal.imageBatchResize(batch)
    assert(out.map(_._1) == Seq(1L, 2L))
    val decoded = Multimodal.imageBatchDecode(out)
    assert(decoded.map(f => (f.id, f.width, f.height)) == Seq((1L, 4, 3), (2L, 16, 12)))
    // solid colour survives both directions exactly
    assert(decoded.forall(f => (f.r_mean, f.g_mean, f.b_mean) == (200.0, 30.0, 7.0)))
  }

  test("sequence packing matches a sequential scan, preserves docs, one window exchange") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      // shard a: token runs that straddle ctx=10 boundaries every way:
      // exact fill, boundary-spanning doc, doc larger than ctx
      ("a", 1L, 4L), ("a", 2L, 6L), ("a", 3L, 7L), ("a", 4L, 25L), ("a", 5L, 1L),
      ("b", 6L, 10L), ("b", 7L, 10L), ("b", 8L, 3L))
      .toDF("shard", "id", "tok")
    val packed = TextAnalysis.packSequences(docs, "shard", "id", "tok", 10L)
      .select($"shard", $"id", $"seq_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    // independent sequential scan: a doc's sequence is where its first
    // token lands
    val expected = Seq(("a", 1L, 4L), ("a", 2L, 6L), ("a", 3L, 7L), ("a", 4L, 25L),
      ("a", 5L, 1L), ("b", 6L, 10L), ("b", 7L, 10L), ("b", 8L, 3L))
      .groupBy(_._1).toSeq.flatMap { case (shard, ds) =>
        var cum = 0L
        ds.sortBy(_._2).map { case (_, id, t) =>
          val seq = cum / 10L; cum += t; (shard, id, seq)
        }
      }.sortBy(t => (t._1, t._2))
    assert(packed.toSeq == expected)
    // every doc assigned exactly once, and the plan is one window exchange
    assert(packed.length == docs.count())
    val plan = TextAnalysis.packSequences(docs, "shard", "id", "tok", 10L)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("mm07 plan: encode→resize→decode chain is join-free, one exchange (the sort)") {
    // target dims re-derive from doc_id instead of joining back through
    // the encode seam — the "partition-local end to end" claim, pinned
    val plan = graft.SparkEntry.queries("mm07_image_resize")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
  }

  test("audio decode: hand-laid PCM16 WAV round-trips through the JDK parser") {
    // golden: 4 known samples incl. both s16 extremes; stats by hand
    val samples = Array[Short](100, -200, 32767, -32768)
    val wav = Multimodal.encodePcm16Wav(8000, 1, samples)
    // the RIFF magic + chunk ids really are where the spec puts them
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    assert(wav.length == 44 + 8)
    val got = Multimodal.audioBatchDecode(Seq((5L, wav)))
    assert(got == Seq(Multimodal.AudioFeatures(5L, 8000, 1, 4L,
      100L + 200 + 32767 + 32768, 32768)))
    // stereo: frames = samples / channels, stats over both channels
    val st = Multimodal.audioBatchDecode(
      Seq((6L, Multimodal.encodePcm16Wav(44100, 2, Array[Short](1, -2, 3, -4)))))
    assert(st == Seq(Multimodal.AudioFeatures(6L, 44100, 2, 2L, 10L, 4)))
  }

  test("audio decode drops undecodable payloads instead of failing the batch") {
    val wav = Multimodal.encodePcm16Wav(8000, 1, Array[Short](1, 2, 3))
    val batch = Seq((1L, wav), (2L, "junk bytes".getBytes("UTF-8")),
      (3L, Array[Byte]()), (4L, wav.take(30)))
    assert(Multimodal.audioBatchDecode(batch).map(_.id) == Seq(1L))
    // and through the distributed seam: poison rows cost rows, not the job
    val df = batch.toDF("id", "payload")
    val decoded = Multimodal.decodeAudio(df, "id", "payload", 2)
    assert(decoded.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("audio decode through the seam is batch-size invariant") {
    val packed = Multimodal.encodeToneWavs(spark.range(1, 60).toDF("id"), "id")
    val expected = (1L until 60L).map { id =>
      val n = (50 + id % 50).toInt
      val vs = (0 until n).map(i => Multimodal.toneSample(id, i.toLong).toInt)
      Multimodal.AudioFeatures(id, (8000 + (id % 4) * 4000).toInt, 1, n.toLong,
        vs.map(v => math.abs(v).toLong).sum, vs.map(math.abs).max)
    }
    for (bs <- Seq(1, 7, 100000)) {
      val got = Multimodal.decodeAudio(packed, "id", "payload", bs)
        .as[Multimodal.AudioFeatures].collect().sortBy(_.id).toSeq
      assert(got == expected, s"batchSize=$bs")
    }
  }

  test("audio frames: hand-computed features, partial frame dropped, mono gate") {
    // alternating ±100 with one flat stretch: crossings are countable by eye
    val samples = Array[Short](100, -100, 100, -100, 100, 100, 100, -100, 100, -100, 50)
    val wav = Multimodal.encodePcm16Wav(8000, 1, samples)
    val got = Multimodal.frameAudio(
        Seq((7L, wav)).toDF("id", "payload"), "id", "payload", 4, 5)
      .as[Multimodal.AudioFrameFeatures].collect().sortBy(_.frame).toSeq
    // 11 samples, frameLen 5 → 2 full frames, the trailing 1 dropped
    assert(got == Seq(
      Multimodal.AudioFrameFeatures(7L, 0, 5, 500, 100, 4),
      // frame 1: 100,100,-100,100,-100 → 3 sign changes
      Multimodal.AudioFrameFeatures(7L, 1, 5, 500, 100, 3)))
    // stereo clips are gated out (frame boundaries are channel-dependent)
    val stereo = Multimodal.encodePcm16Wav(8000, 2, samples.take(10))
    assert(Multimodal.frameAudio(
      Seq((8L, stereo)).toDF("id", "payload"), "id", "payload", 4, 5).count() == 0)
    // batch-size invariance across the seam
    val packed = Multimodal.encodeToneWavs(spark.range(1, 40).toDF("id"), "id")
    val ref = Multimodal.frameAudio(packed, "id", "payload", 1000, 25)
      .as[Multimodal.AudioFrameFeatures].collect().sortBy(f => (f.id, f.frame)).toSeq
    for (bs <- Seq(1, 7)) {
      val again = Multimodal.frameAudio(packed, "id", "payload", bs, 25)
        .as[Multimodal.AudioFrameFeatures].collect().sortBy(f => (f.id, f.frame)).toSeq
      assert(again == ref, s"batchSize=$bs")
    }
  }

  test("semantic dedup: min-id survivor within cell, cells never interact") {
    import graft.ops.Dedup
    val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
    val df = Seq(
      (1L, Array(1.0, 0.0)),   // cell 0, representative
      (2L, Array(1.0, 0.01)),  // cell 0, cosine≈1 vs id 1 → dropped
      (3L, Array(0.0, 1.0)),   // cell 1, alone above threshold → kept
      (6L, Array(0.02, 1.0)),  // cell 1, near id 3 → dropped (3 < 6)
      (5L, Array(-1.0, 0.9))   // cell 1 (closer to (0,1)), anti-aligned → kept
    ).toDF("id", "v")
    val got = Dedup.semanticDedup(df, "id", "v", centroids, 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      1L -> ((0, false)), 2L -> ((0, true)),
      3L -> ((1, false)), 6L -> ((1, true)), 5L -> ((1, false))))
    // identical vectors across DIFFERENT cells never see each other:
    // same vector as id 1 but placed in cell 1 by construction is kept
    val cross = Seq((1L, Array(1.0, 0.0)), (9L, Array(0.6, 0.8)))
      .toDF("id", "v")
    val got2 = Dedup.semanticDedup(cross, "id", "v", centroids, 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // cos(v1, v9) = 0.6 ≥ 0.5, but cells differ (0 vs 1) → both kept
    assert(got2 == Map(1L -> false, 9L -> false))
  }

  test("LM coverage: hand-computed counts, topK cap, broadcast plan") {
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "a b a b"), (2L, "x y z")).toDF("doc_id", "text")
    val ref = docs.filter($"doc_id" === 1L)
    // full model: "a b"×2, "b a"×1
    val m2 = TextAnalysis.bigramLmModel(ref, "text", 10)
      .as[(String, Long)].collect().toMap
    assert(m2 == Map("a b" -> 2L, "b a" -> 1L))
    val full = TextAnalysis.lmCoverage(docs,
        TextAnalysis.bigramLmModel(ref, "text", 10), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(full(1L) == ((3L, 3L, 5L))) // a b, b a, a b → mass 2+1+2
    assert(full(2L) == ((2L, 0L, 0L)))
    // the cap drops the rarer bigram — count desc, name tiebreak
    val capped = TextAnalysis.lmCoverage(docs,
        TextAnalysis.bigramLmModel(ref, "text", 1), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(capped(1L) == ((3L, 2L, 4L)))
    // the model side must broadcast: scoring never shuffles with it
    val plan = TextAnalysis.lmCoverage(docs,
        TextAnalysis.bigramLmModel(ref, "text", 10), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("shingles of a doc shorter than n are empty, not a slice(_, 0, n) crash") {
    // sequence(1, 0) in Spark is the DESCENDING [1, 0]; without the
    // short-doc guard the transform evaluates slice(w, 0, n) and throws
    val short = Seq((1L, "a b c"), (2L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text")
    val sh = short.select($"doc_id", Dedup.shingles($"text", 8).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).isEmpty)
    assert(sh(2L) == Seq("w1 w2 w3 w4 w5 w6 w7 w8"))
  }

  test("contamination hits match a brute-force shingle intersection; bench side broadcasts") {
    val bench = docs.filter($"doc_id" % 25 === 0)
    val corpus = docs.filter($"doc_id" % 25 =!= 0)
    val got = Dedup.contaminationHits(corpus, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: per-doc distinct 8-grams intersected with the pooled
    // benchmark gram set
    val benchGrams = bench
      .select(explode(Dedup.shingles($"text", 8)).as("g"))
      .distinct().as[String].collect().toSet
    val expected = corpus.select($"doc_id", Dedup.shingles($"text", 8).as("g"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, g) => id -> g.count(benchGrams).toLong }
      .filter(_._2 > 0).toMap
    assert(got == expected)
    // decontaminate = corpus minus exactly the flagged ids
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", 8)
      .select($"doc_id").as[Long].collect().toSet
    val all = corpus.select($"doc_id").as[Long].collect().toSet
    assert(kept == all -- expected.keySet)
    // the benchmark gram set must broadcast — the corpus side never
    // shuffles to meet an eval suite
    val plan = Dedup.contaminationHits(corpus, bench, "doc_id", "text", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("duplicatedSpanStats: hand-computed occurrence multiset, own repeats count") {
    // bigrams for hand-checkability (the graded dd14 uses 8-grams):
    //   doc 1 "a b c"  -> [a b, b c]       doc 2 "a b x" -> [a b, b x]
    //   doc 3 "a b a b" -> [a b, b a, a b] (its OWN repeat makes "a b"
    //   duplicated even before the cross-doc hits)
    val docs3 = Seq((1L, "a b c"), (2L, "a b x"), (3L, "a b a b"), (4L, "z"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(docs3, "doc_id", "text", 2)
      .select("id", "total_grams", "dup_grams")
      .as[(Long, Long, Long)].collect().map { case (i, t, du) => i -> ((t, du)) }.toMap
    assert(got == Map(
      1L -> ((2L, 1L)), // "a b" dup (corpus total 4), "b c" unique
      2L -> ((2L, 1L)),
      3L -> ((3L, 2L))), // both "a b" occurrences dup; "b a" unique
      got.toString)
    // doc 4 (no bigram) carries no span evidence and must not appear
    assert(!got.contains(4L))
    // plan pin: TWO key exchanges (gram, then doc) over ONE evaluation
    // of the gram stream — no totals self-join, no duplicate subtree
    val plan = Dedup.duplicatedSpanStats(docs3, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).length
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    assert("LocalTableScan".r.findAllMatchIn(plan).length == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("dropDuplicatedDocs: heavy docs dropped, boundary fraction and short docs kept") {
    // word-bigram width: docs 1/2 are verbatim copies (every gram
    // corpus-duplicated → fraction 1 → dropped); doc 3 is unique; doc 4
    // is shorter than n and carries NO span evidence (must survive);
    // doc 5 sits EXACTLY at the 1/2 threshold ("a b" dup via 1/2, "b x"
    // dup via doc 6) and must be kept — the cut is strictly greater;
    // doc 6's single gram is fully duplicated → dropped
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "e f g h"),
      (4L, "x"), (5L, "a b x q r"), (6L, "b x")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicatedDocs(docs, "doc_id", "text", 2, 1L, 2L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(3L, 4L, 5L), out.toString)
    // threshold 0/1 drops every doc with ANY duplicated gram, keeps the
    // gram-free short doc
    val strict = Dedup.dropDuplicatedDocs(docs, "doc_id", "text", 2, 0L, 1L)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(strict == Seq(3L, 4L), strict.toString)
    intercept[IllegalArgumentException] {
      Dedup.dropDuplicatedDocs(docs, "doc_id", "text", 2, 1L, 0L)
    }
  }

  test("pii scrub: counts and redaction on crafted strings, clean text unharmed") {
    val rows = Seq(
      (1L, "mail bob.smith@site.org or call +1-555-1234 from 192.168.0.1"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.cd and e.f@g.hi")).toDF("id", "text")
    val counts = TextAnalysis.piiCounts($"text")
    val got = rows.select($"id",
        counts(0)._2.as("em"), counts(1)._2.as("ph"), counts(2)._2.as("ip"),
        TextAnalysis.piiScrub($"text").as("clean"))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1, 1, 1,
      "mail <EMAIL> or call <PHONE> from <IP>")), got(0).toString)
    assert(got(1) == ((2L, 0, 0, 0, "no pii here at all")))
    assert(got(2) == ((3L, 2, 0, 0, "two mails <EMAIL> and <EMAIL>")))
  }

  test("pii scrub: card and iban families; overlapping spans count once (scrub semantics)") {
    val rows = Seq(
      (1L, "pay 4111-1111-1111-1111 to DE89BANK0000001234 now"),
      // the dotted quad sits INSIDE the email local part: the email
      // pattern claims the whole span first, so ip counts 0 and the
      // census agrees with the single redaction the scrub performs
      (2L, "mail 1.2.3.4@x.co today"),
      (3L, "bare 1.2.3.4 stays an ip")).toDF("id", "text")
    val counts = TextAnalysis.piiCounts($"text")
    val byName = counts.toMap
    val got = rows.select($"id",
        byName("email").as("em"), byName("ip").as("ip"),
        byName("card").as("cd"), byName("iban").as("ib"),
        TextAnalysis.piiScrub($"text").as("clean"))
      .as[(Long, Int, Int, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 0, 0, 1, 1, "pay <CARD> to <IBAN> now")), got(0).toString)
    assert(got(1) == ((2L, 1, 0, 0, 0, "mail <EMAIL> today")), got(1).toString)
    assert(got(2) == ((3L, 0, 1, 0, 0, "bare <IP> stays an ip")), got(2).toString)
  }

  test("dHash: codec path equals the pattern arithmetic, scale-invariant, junk drops") {
    def referenceHash(base: Long): Long = {
      var h = 0L
      for (gy <- 0 until Multimodal.DHashH; x <- 0 until Multimodal.DHashW)
        if (Multimodal.patternPixel(base, x + 1, gy) >
            Multimodal.patternPixel(base, x, gy)) h |= 1L << (gy * 8 + x)
      h
    }
    val bases = Seq(0L, 1L, 17L, 49L)
    // scale 1 (grid == image) and scale 3 (real downsample work) must
    // both land on the arithmetic reference
    for (scale <- Seq(1, 3)) {
      val batch = bases.map(b => (b, Multimodal.encodePatternPng(b, scale)))
      val got = Multimodal.imageBatchDHash(batch).map(r => r.id -> r.dhash).toMap
      bases.foreach(b => assert(got(b) == referenceHash(b),
        s"base $b scale $scale: got ${got(b)}, want ${referenceHash(b)}"))
    }
    // bit 63 is never used: the oracle's BIGINT shifts must not overflow
    assert(Multimodal.DHashW * Multimodal.DHashH <= 63)
    // junk payloads cost one row, not the batch
    val junk = Multimodal.imageBatchDHash(Seq(
      (9L, Array[Byte](1, 2, 3)),
      (10L, Multimodal.encodePatternPng(10L, 1))))
    assert(junk.map(_.id) == Seq(10L))
  }

  test("int8 quantization: within half a step of the original, degenerate dims safe") {
    val (lo, span) = Similarity.quantizationBounds(embs, "embedding", 64)
    assert(lo.size == 64 && span.forall(_ > 0))
    val rows = embs
      .select($"vec_id", $"embedding",
        Similarity.quantizeInt8($"embedding", lo, span).as("q"))
      .as[(Long, Seq[Float], Seq[Long])].collect()
    rows.foreach { case (_, v, q) =>
      q.foreach(x => assert(x >= -128 && x <= 127))
      v.indices.foreach { j =>
        val deq = lo(j) + (q(j) + 128).toDouble * span(j) / 255.0
        assert(math.abs(deq - v(j)) <= span(j) / 255.0 * 0.5 + 1e-9,
          s"dim $j: v=${v(j)} deq=$deq span=${span(j)}")
      }
    }
    // a constant dimension quantizes to -128 everywhere instead of NaN
    val const = spark.range(4).select(array(lit(3.5f), $"id".cast("float")).as("v"))
    val (clo, cspan) = Similarity.quantizationBounds(const, "v", 2)
    assert(cspan(0) == 1.0) // guarded span, not 0
    val cq = const.select(Similarity.quantizeInt8($"v", clo, cspan).as("q"))
      .as[Seq[Long]].collect()
    assert(cq.forall(_.head == -128L))
    // integer dot product is exact and symmetric
    val a = Seq(1L, -2L, 127L)
    val b = Seq(-128L, 5L, 2L)
    val d = spark.range(1)
      .select(Similarity.intDot(
        array(a.map(lit): _*), array(b.map(lit): _*)).as("d"))
      .as[Long].collect().head
    assert(d == a.zip(b).map { case (x, y) => x * y }.sum)
  }
}
