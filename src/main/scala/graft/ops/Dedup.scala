package graft.ops

import graft.functions.exprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora — the
  * training-data-pipeline extension beyond the reference's surface
  * (SURVEY §7.1 ops/). Everything is expressed with declarative columns
  * (codegen-friendly, no UDFs) and single-shuffle plans that hold at
  * 100 TB: signatures are computed row-locally; only the band-bucket
  * join and the group-by-key dedup shuffle.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** MinHash parameters shared by the Spark plan and the DuckDB oracle
    * (both sides derive from these constants, so they can never drift).
    * numHashes = bands * rowsPerBand; LSH threshold ≈ (1/bands)^(1/rows).
    */
  final val Prime = 1000000007L
  final val ShingleSize = 3
  final val NumHashes = 16
  final val Bands = 4
  final val RowsPerBand = 4
  def hashA(i: Int): Long = 2L * i + 1
  def hashB(i: Int): Long = 7L * i + 13

  /** Word tokens (single-space split, matching the oracle's string_split). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles of `text`; empty for docs shorter than
    * the shingle size (guarded explicitly: Spark's `sequence(1, 0)` is
    * the DESCENDING [1, 0], whose `slice(w, 0, n)` throws — the
    * short-doc branch must never reach the transform). */
  def shingles(text: Column, n: Int = ShingleSize): Column = {
    val w = tokens(text)
    when(size(w) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(w) - lit(n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Sorted distinct polynomial rolling hashes of the text's shingles
    * (feeding [[minhashSignatures]]) — one fused codegen kernel
    * (graft_shingle_hash_set) instead of the interpreted
    * transform/concat/distinct chain, values identical to hashing the
    * materialized shingle strings (oracle-reproducible). */
  def shingleHashes(text: Column, n: Int = ShingleSize): Column =
    exprs.shingle_hash_set(tokens(text), n)

  /** MinHash signature table `(id, sig: array<bigint>)` via explode +
    * hash aggregate: each shingle hash is computed exactly once;
    * map-side partial aggregation reduces every map partition to
    * (id, 16 mins) before the shuffle, so the exchange carries one short
    * row per doc — the plan that holds at 100 TB. (A row-local
    * `transform`+`array_min` form exists but inlines the whole shingle
    * pipeline once per permutation under project collapse — a 60×
    * slowdown — so this aggregate form is the only one shipped.) */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = NumHashes): DataFrame =
    signaturesFromHashes(
      df.select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh")), numHashes)

  /** MinHash signatures from an existing `(id, sh: array<bigint>)`
    * hashed-shingle frame — the same explode + map-side-combined
    * aggregate as [[minhashSignatures]], reading a (typically
    * materialized) frame instead of re-running the shingle kernel. Docs
    * with an empty shingle set produce no exploded rows and drop out. */
  def signaturesFromHashes(sh: DataFrame, numHashes: Int = NumHashes): DataFrame =
    sh.select(col("id"), explode(col("sh")).as("h"))
      .groupBy(col("id"))
      .agg(
        min((lit(hashA(0)) * col("h") + lit(hashB(0))) % lit(Prime)).as("s0"),
        (1 until numHashes).map(i =>
          min((lit(hashA(i)) * col("h") + lit(hashB(i))) % lit(Prime)).as(s"s$i")): _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"s$i")): _*).as("sig"))

  /** The per-side preparation every shingle-based near-dup pipeline
    * shares: one shingle-kernel pass, materialized (eager local
    * checkpoint) so band-key derivation and exact-Jaccard verification
    * both read the SAME computed frame — at cluster scale this is the
    * persisted signature table an ingest pipeline keeps. */
  private def hashedShingleFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(eager = true)

  /** Exploded (id, band, key) LSH buckets from a hashed-shingle frame. */
  private def bandBuckets(sh: DataFrame): DataFrame =
    signaturesFromHashes(sh)
      .select(col("id"), posexplode(bandKeys(col("sig"))).as(Seq("band", "key")))

  /** LSH band keys: the signature is cut into `bands` runs of
    * `rowsPerBand` values, each folded to one key with the same
    * polynomial fold as the rolling hash. */
  def bandKeys(signature: Column, bands: Int = Bands, rows: Int = RowsPerBand): Column =
    array((0 until bands).map { j =>
      aggregate(slice(signature, j * rows + 1, rows), lit(0L),
        (acc, x) => (acc * lit(31L) + x) % lit(Prime))
    }: _*)

  /** Exact Jaccard similarity of two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact dedup: one surviving row (minimal id) per distinct key, with
    * the group size. Single hash-aggregate shuffle on the key — the
    * canonical 100 TB exact-dedup plan (group on a hash of the content,
    * not the content itself, when keys are long).
    */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Column*): DataFrame =
    df.groupBy(keyCols: _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * Plan shape (scales linearly in corpus size + candidate count):
    *  1. row-local: shingles → hashes → signature → band keys (no shuffle)
    *  2. explode band keys (×bands rows) and self-join on (band, key) —
    *     the only quadratic-ish step, bounded per bucket
    *  3. distinct candidate pairs, then one join back per side to fetch
    *     shingles for the exact-Jaccard verification
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // ONE shingle-kernel execution: the hashed-shingle frame materializes
    // first, then band keys derive from it (and are materialized too —
    // both sides of the self-join and Spark's exchange-reuse cannot
    // otherwise see through the aliased subplans, so the signature
    // aggregation would run twice).
    val sh = hashedShingleFrame(df, idCol, textCol)
    val withBands = bandBuckets(sh).localCheckpoint(eager = true)

    val candidates = withBands.as("a")
      .join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    // exact-Jaccard verification over the *hashed* shingle arrays: long
    // comparisons instead of string comparisons, same value on both
    // engines (identical hash function on both sides of the oracle);
    // the checkpointed frame is read by both join sides
    candidates
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("j"))
      .filter(col("j") >= threshold)
  }

  /** EXACT all-pairs n-gram-Jaccard join via prefix filtering (the
    * AllPairs/PPJoin candidate scheme — public algorithm): with shingle
    * hashes in a canonical ascending order, any pair with Jaccard ≥ t
    * must share at least one element of each side's prefix of length
    * `|X| - ceil(t·|X|) + 1`, so joining on exploded prefixes is a
    * COMPLETE candidate generator — no blocking recall loss. Candidates
    * then pass an integer size-ratio prune and one allocation-free
    * sorted merge-count verification.
    *
    * Scales as Σ|prefix| exploded rows (≈ (1-t)·corpus shingles) through
    * one equi-join shuffle — the exact-dedup counterpart of the MinHash
    * path, with the same plan shape at 100 TB.
    */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // shingleHashes already yields a sorted distinct set; materialized
    // once — the prefix explode and both verification sides read it
    val base = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("cnt", size(col("sh")))
      .localCheckpoint(eager = true)

    // prefix length = cnt - ceil(t*cnt) + 1
    val prefix = base.select(col("id"), col("cnt"),
      slice(col("sh"), lit(1),
        col("cnt") - ceil(col("cnt") * threshold).cast("int") + lit(1)).as("pref"))
      .select(col("id"), explode(col("pref")).as("tok"))

    val candidates = prefix.as("pa")
      .join(prefix.as("pb"),
        col("pa.tok") === col("pb.tok") && col("pa.id") < col("pb.id"))
      .select(col("pa.id").as("id_a"), col("pb.id").as("id_b"))
      .distinct()

    val inter = graft.functions.exprs.sorted_intersect_count(col("sa.sh"), col("sb.sh"))
    val j = inter.cast("double") / (col("sa.cnt") + col("sb.cnt") - inter)
    candidates
      .join(base.as("sa"), col("id_a") === col("sa.id"))
      .join(base.as("sb"),
        col("id_b") === col("sb.id") &&
          // exact size-ratio prune: J >= t requires min|X| >= ceil(t * max|X|);
          // an approximate (rounded) bound here would break completeness for
          // thresholds that are not a multiple of the rounding grain
          col("sa.cnt") >= ceil(col("sb.cnt") * threshold) &&
          col("sb.cnt") >= ceil(col("sa.cnt") * threshold) &&
          j >= threshold)
      .select(col("id_a"), col("id_b"), j.as("j"))
  }

  /** EXACT containment-dedup pairs: (a, b) where Jaccard CONTAINMENT
    * |A∩B| / |A| ≥ t — the asymmetric relation (short doc subsumed by a
    * longer one: quotes, boilerplate inclusion, excerpt spam) that
    * symmetric Jaccard misses entirely. Candidate generation is complete
    * by prefix filtering on the CONTAINED side only: containment ≥ t
    * forces A to share an element of its first |A| − ceil(t·|A|) + 1
    * shingles with B, so exploding just A-prefixes against B's full
    * shingle postings is a complete equi-join — Σ|prefix| × postings
    * rows through one shuffle, never all-pairs. Verification is the
    * allocation-free sorted merge-count. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    val base = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("cnt", size(col("sh")))
      .localCheckpoint(eager = true)
    val prefix = base.select(col("id"), col("cnt"),
      slice(col("sh"), lit(1),
        col("cnt") - ceil(col("cnt") * threshold).cast("int") + lit(1)).as("pref"))
      .select(col("id"), explode(col("pref")).as("tok"))
    val postings = base.select(col("id").as("pid"), explode(col("sh")).as("tok"))
    val candidates = prefix.as("pa")
      .join(postings.as("pb"),
        col("pa.tok") === col("pb.tok") && col("pa.id") =!= col("pb.pid"))
      .select(col("pa.id").as("id_a"), col("pb.pid").as("id_b"))
      .distinct()
    val inter = graft.functions.exprs.sorted_intersect_count(col("sa.sh"), col("sb.sh"))
    val c = inter.cast("double") / col("sa.cnt")
    candidates
      .join(base.as("sa"), col("id_a") === col("sa.id"))
      .join(base.as("sb"), col("id_b") === col("sb.id") && c >= threshold)
      .select(col("id_a"), col("id_b"), c.as("containment"))
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc (native expression),
    * LSH over 4 16-bit chunks (any pair within Hamming distance 3 shares
    * at least one chunk by pigeonhole; larger distances are found with
    * high probability), verified by exact Hamming distance.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int): DataFrame = {
    val sim = df.select(col(idCol).as("id"),
      exprs.simhash64(tokens(col(textCol))).as("sh"))
    val chunks = sim.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("sh"), 16 * k).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk", "ck")))
      .localCheckpoint(eager = true) // one simhash pass for both join sides
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental near-dup screening: MinHash-LSH pairs of NEW documents
    * against an EXISTING corpus only (no old×old or new×new pairs) —
    * the production ingestion shape at scale, where the old corpus'
    * signatures are precomputed and only the new slice hashes fresh.
    * Same band-bucket join as [[minhashNearDupPairs]] with a side
    * predicate instead of id ordering.
    */
  def incrementalNearDupPairs(
      newDf: DataFrame,
      oldDf: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // one shingle-kernel execution per side: the materialized frame feeds
    // BOTH the band-key derivation and the exact-Jaccard verify — the
    // same materialization policy as minhashNearDupPairs (in production
    // the old side's frame is the persisted signature table, so only the
    // new slice hashes fresh)
    val shNew = hashedShingleFrame(newDf, idCol, textCol)
    val shOld = hashedShingleFrame(oldDf, idCol, textCol)
    val candidates = bandBuckets(shNew).as("a")
      .join(bandBuckets(shOld).as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("new_id"), col("b.id").as("old_id"))
      .distinct()
    candidates
      .join(shNew.as("sa"), col("new_id") === col("sa.id"))
      .join(shOld.as("sb"), col("old_id") === col("sb.id"))
      .select(col("new_id"), col("old_id"),
        jaccard(col("sa.sh"), col("sb.sh")).as("j"))
      .filter(col("j") >= threshold)
  }

  /** Driver-side edge budget for [[connectedComponents]]' local path:
    * up to this many (undirected) edges the component labeling runs as
    * one collect + union-find on the driver — bounded state (16 bytes an
    * edge ≈ 64 MB at the cap, the broadcast-join class of driver
    * footprint), the same measured-count dispatch as the Bloom screen
    * and LSH geometry. Past it the distributed label-propagation loop
    * below is the only shape that scales. The local path exists because
    * the loop's cost at ANY graph size has a floor of
    * rounds × (2 joins + 1 agg + 1 checkpoint + 1 collect) jobs —
    * measured 1.5–4 s of pure scheduling on sub-thousand-edge graphs
    * (dd07/dd08/tx08) that the driver labels in microseconds. */
  final val LocalCcMaxEdges: Long = 1L << 22

  /** Connected components over an undirected pair graph (id_a, id_b) —
    * the dedup decision step: every document in a near-dup cluster maps
    * to the cluster's minimal id as representative.
    *
    * Iterative min-label propagation with pointer jumping: each round
    * pulls labels across edges AND through the current label table
    * (label(id) := label(label(id))), so path lengths halve per round and
    * convergence is O(log n) even for chain-shaped clusters — a 2^20-long
    * path converges within the default 20 rounds. One edge join + one
    * label self-join + one hash-agg shuffle per round; throws instead of
    * returning silently-split components if the cap is ever hit.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20): DataFrame =
    connectedComponents(pairs, maxIterations, LocalCcMaxEdges)

  /** [[connectedComponents]] with an explicit local-path budget — the
    * spec hook (pass 0 to force the distributed loop; production callers
    * use the default). */
  private[graft] def connectedComponents(pairs: DataFrame, maxIterations: Int,
      localMaxEdges: Long): DataFrame = {
    // undirected edge list, materialized once — every iteration joins
    // against it, and without the checkpoint each round would re-execute
    // the whole upstream pair-generation pipeline
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true)
    // measured-count dispatch: a bounded edge set is labeled on the
    // driver in one pass (value-identical — min id per component either
    // way; OpsSpec pins the two paths against each other). Guarded on an
    // INTEGRAL id type: the local path round-trips ids through Long
    // (nodeOf/minOf), which would silently corrupt string or fractional
    // ids — those fall through to the type-agnostic distributed loop.
    val integralIds = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val edgeCount = edges.count()
    if (integralIds && edgeCount <= localMaxEdges)
      return localConnectedComponents(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var converged = false
    var i = 0
    // numeric ids: per-id labels are monotone non-increasing (each round
    // takes a min that includes the old label), so the label sum strictly
    // decreases iff any label changed — convergence needs no old-vs-new
    // join, just one cheap aggregate over the already-materialized
    // checkpoint. Non-numeric ids (strings — no sound numeric embedding
    // of their ordering) pay an explicit old-vs-new comparison join
    // instead; they only reach here, the distributed loop being the one
    // path that never reinterprets the id type.
    val numericIds = edges.schema("src").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    var prevSum: java.math.BigDecimal = null
    while (!converged && i < maxIterations) {
      val viaEdges = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("label"))
      val hop = labels.union(viaEdges)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jumping: follow one more level through the label table so
      // chains collapse in O(log n) rounds, not O(diameter); renamed copy
      // avoids self-join attribute ambiguity
      val lut = hop.select(col("id").as("lut_id"), col("label").as("lut_label"))
      val next = hop.join(lut, col("label") === col("lut_id"))
        .select(col("id"), least(col("label"), col("lut_label")).as("label"))
      val prevLabels = labels
      labels = next.localCheckpoint(eager = true) // cut the growing lineage
      if (numericIds) {
        val sum = labels
          .agg(coalesce(org.apache.spark.sql.functions.sum(col("label").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")))
          .head().getDecimal(0)
        converged = prevSum != null && sum.compareTo(prevSum) == 0
        prevSum = sum
      } else {
        converged = labels.as("n")
          .join(prevLabels.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.label") =!= col("p.label"))
          .isEmpty
      }
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds; " +
          "results would be silently split — raise maxIterations")
    labels.select(col("label").as("rep"), col("id").as("member"))
  }

  /** The driver-local path of [[connectedComponents]]: one collect of the
    * (already measured-bounded) edge list, union-find with path
    * compression, components labeled by their minimal member id — the
    * exact value contract of the distributed loop. Output column types
    * mirror the input's id type so the dispatch is schema-invisible. */
  private def localConnectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val idType = edges.schema("src").dataType
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect()
    // boxed map: a primitive-typed java.util.HashMap would silently
    // unbox a missing-key null to 0 and alias every new id to node 0
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def nodeOf(id: Long): Int = {
      val existing = idx.get(id)
      if (existing != null) existing.intValue
      else { val i = ids.length; idx.put(id, i); ids += id; i }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = nodeOf(r.getLong(0)); val b = nodeOf(r.getLong(1))
      while (parent.length < ids.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    // minimal member id per component root
    val minOf = new java.util.HashMap[Int, Long]()
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      val cur = minOf.get(r)
      if (!minOf.containsKey(r) || ids(i) < cur) minOf.put(r, ids(i))
      i += 1
    }
    val out = (0 until ids.length).map(j => (minOf.get(find(j)).longValue, ids(j)))
    val df = out.toDF("rep", "member")
      .select(col("rep").cast(idType).as("rep"),
        col("member").cast(idType).as("member"))
    // the distributed loop's columns are nullable (join-produced); the
    // dispatch must be schema-invisible down to nullability — a Verify
    // parquet dump flips optional->required otherwise
    spark.createDataFrame(df.rdd,
      org.apache.spark.sql.types.StructType(df.schema.map(_.copy(nullable = true))))
  }

  /** Embedding near-dup pairs via banded-LSH blocking — the plan that
    * ships at 100 TB: band keys are row-local, candidates come from one
    * equi-join on (band, key) (bucket-bounded, never all-pairs), and each
    * candidate pays exactly one codegen dot product to verify. Recall is
    * the standard banded-LSH curve (1 - (1-p^rows)^bands for per-plane
    * collision probability p = 1 - θ/π). Tune (bands, rows) to the
    * threshold: high-cosine near-dups (≥0.9) block well at few wide
    * tables (2×8); weak-similarity thresholds need more, narrower tables
    * (e.g. 6×4) to keep recall. Contrast [[embeddingNearDupPairs]], the
    * exact O(n²) baseline.
    *
    * Scaling law (measured by the bench's sf1 probe): candidate pairs
    * for random non-neighbors grow as `bands · 2^-rows · n²` — at FIXED
    * (bands, rows) the bucket density, and with it the verify cost,
    * is quadratic in corpus size (10× vectors ⇒ ~12× wall observed,
    * candidate-bound). Growing a deployment re-tunes the index, it
    * does not keep test-scale constants — so the DEFAULT path (the
    * 5-argument overload below) MEASURES the corpus (one count job,
    * the same count the plan's exchanges already imply) and derives
    * (bands, rows) from [[Similarity.lshGeometryFor]]: `rows` grows
    * with log₂(n) to hold per-band random collisions ≤ ~pairsPerKey·n,
    * `bands` restores the recall target along the banding curve. The
    * explicit (bands, rows) signature remains as the override path for
    * a caller that has already tuned its index out-of-band. This is the
    * LSH twin of the Bloom sizing rule in
    * [[graft.ops.Joins.bloomBitsFor]]: index geometry is a function of
    * measured corpus size, never a constant. */
  def blockedEmbeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double): DataFrame =
    blockedEmbeddingNearDupPairs(df, idCol, vecCol, dim, threshold,
      Similarity.MaxRows)

  /** The default path with an explicit escalation bound (`maxRows`,
    * spec hook — the production default is [[Similarity.MaxRows]]):
    * measures the corpus and dispatches on
    * [[Similarity.lshGeometryOrEscalate]]. Within the table's reach it
    * runs the banded-LSH plan at the self-tuned geometry; past
    * `pairsPerKey·2^maxRows` vectors no wider table helps (rows is
    * capped, candidates go quadratic), so the STRUCTURE changes:
    * [[cellConfinedNearDupPairs]] over a k ∝ n deterministic k-means
    * quantization — the dd12 machinery — confines the quadratic term to
    * n²/k. The same measured-count-then-policy shape as the Bloom
    * screen's [[graft.ops.Joins.bloomScreenFor]]. */
  def blockedEmbeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      maxRows: Int): DataFrame =
    Similarity.lshGeometryOrEscalate(df, threshold, maxRows = maxRows) match {
      case (_, Some((bands, rows))) =>
        blockedEmbeddingNearDupPairs(df, idCol, vecCol, dim, threshold, bands, rows)
      case (n, None) =>
        nearDupPairsEscalated(df, idCol, vecCol, dim, threshold, n,
          maxRows, SemanticMaxCells)
    }

  /** The escalated (past-LSH-reach) near-dup structure, dispatched on
    * the wanted cell count: within [[SemanticMaxCells]] it is the flat
    * k ∝ n quantization; past it — where the flat centroid table would
    * outgrow its broadcast/driver budget — the quantizer itself goes
    * TWO-LEVEL ([[Clustering.kmeansTwoLevel]], coarse × fine, composite
    * cells), keeping per-cell population at the target while no single
    * assignment step handles more than max(k1, k2) candidates. Both
    * rungs share [[cellPairs]], so the pair semantics (cosine filter in
    * the join, SemDeDup cross-cell recall position) are identical.
    * `maxCells` is the spec hook (production callers pass
    * [[SemanticMaxCells]]). */
  private[graft] def nearDupPairsEscalated(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, threshold: Double, n: Long,
      maxRows: Int, maxCells: Int): DataFrame = {
    val want = math.max(2L, (n + SemanticCellTarget - 1) / SemanticCellTarget)
    if (want <= maxCells) {
      val k = want.toInt
      // the structure change is a plan choice with a recall consequence
      // (pairs SPANNING cells are no longer reported) — surface it, the
      // same contract as the Bloom screen's escalation
      logWarning(s"blockedEmbeddingNearDupPairs: measured $n vectors " +
        s"exceed the LSH table's reach (maxRows=$maxRows); escalating to " +
        s"cell-confined near-dup over $k k-means cells — cross-cell pairs " +
        "are not reported on this path (SemDeDup recall position)")
      val centroids = Clustering.kmeans(df, idCol, vecCol, dim, k,
        SemanticCellIters)
      cellConfinedNearDupPairs(df, idCol, vecCol, threshold, centroids)
    } else {
      // fourth rung: the flat model itself no longer fits — factor the
      // wanted cell count into coarse × fine so each level stays within
      // the budget (k1·k2 reaches maxCells² before this shape runs out)
      val k2 = math.min(maxCells.toLong, math.ceil(math.sqrt(want.toDouble)).toLong).toInt
      val k1 = math.min(maxCells.toLong, (want + k2 - 1) / k2).toInt
      logWarning(s"blockedEmbeddingNearDupPairs: measured $n vectors want " +
        s"$want cells, past the flat quantizer's $maxCells-cell budget; " +
        s"escalating to a TWO-LEVEL quantizer ($k1 coarse x $k2 fine " +
        "composite cells) — cross-cell pairs are not reported " +
        "(SemDeDup recall position)")
      val model = Clustering.kmeansTwoLevel(df, idCol, vecCol, dim, k1, k2,
        SemanticCellIters)
      val pts = Clustering.assignCellsTwoLevel(
        df.select(col(idCol).as("id"),
            transform(col(vecCol), _.cast("double")).as("v"))
          .localCheckpoint(eager = true)
          .withColumn("n", sqrt(Similarity.dot(col("v"), col("v")))),
        "id", "v", model)
      cellPairs(pts, threshold)
    }
  }

  /** Cell count for the escalated (past-MaxRows) near-dup path: k ∝ n
    * at [[SemanticCellTarget]] expected vectors per cell, floored at 2.
    * k is NOT pinned at the expression-tree budget any more: past
    * [[Clustering.ExprMaxCells]] cells, assignment dispatches to the
    * broadcast-join arg-min ([[Clustering.assignCells]], the third
    * escalation rung), so per-cell population stays ≈ the target while
    * n grows. [[SemanticMaxCells]] remains as the BROADCAST budget: at
    * 2^17 cells × 64 dims the centroid table is ~67 MB — the upper end
    * of what a per-executor broadcast should carry; past
    * `SemanticMaxCells · SemanticCellTarget` (~5.4e8 vectors)
    * [[nearDupPairsEscalated]] dispatches to the TWO-LEVEL quantizer
    * ([[Clustering.kmeansTwoLevel]]): composite reach maxCells² cells
    * (~2.2e12 vectors at target population) with no single assignment
    * step handling more than maxCells candidates. */
  final val SemanticCellTarget = 4096L
  final val SemanticMaxCells = 1 << 17
  final val SemanticCellIters = 2
  def cellCountFor(n: Long): Int = {
    val want = (n + SemanticCellTarget - 1) / SemanticCellTarget
    math.max(2L, math.min(SemanticMaxCells.toLong, want)).toInt
  }

  /** Near-dup pairs with the quadratic term confined to one quantizer
    * cell — the pair-returning form of [[semanticDedup]] (same
    * k-means cell assignment, same SemDeDup-accepted recall position:
    * pairs spanning cells are not reported) and the structural
    * escape [[blockedEmbeddingNearDupPairs]] routes to past the LSH
    * table's reach. ONE shuffle on the cell key, then a per-cell
    * self-join; same `(id_a, id_b, c)` schema as the blocked path so
    * the dispatch is invisible to callers. */
  def cellConfinedNearDupPairs(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    cellPairs(cellPoints(df, idCol, vecCol, centroids), threshold)

  /** `(id, v, cell, n)` — the shared per-cell frame both SemDeDup-style
    * paths join on. Materialized: same inlining guard as kmeans — the
    * cast vector must not re-inline into each of the k distance
    * kernels. */
  private def cellPoints(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    Clustering.assignCells(
      df.select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v"))
        .localCheckpoint(eager = true)
        .withColumn("n", sqrt(Similarity.dot(col("v"), col("v")))),
      "id", "v", centroids)

  /** The one cell-confined cosine self-join (ONE shuffle on the cell
    * key, then per-cell pairs) — [[cellConfinedNearDupPairs]] returns it
    * directly, [[semanticDedup]] derives its dropped set from it. The
    * cosine filter lands in the join condition via predicate pushdown. */
  private def cellPairs(pts: DataFrame, threshold: Double): DataFrame =
    pts.as("a").join(pts.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.n") * col("b.n"))).as("c"))
      .filter(col("c") >= threshold)

  /** Explicit-geometry override of the self-tuning default above — for
    * an index tuned out-of-band. A FIXED geometry is quadratic in
    * corpus growth (see the scaling law above); prefer the measuring
    * overload unless the corpus size is genuinely static. */
  def blockedEmbeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bands: Int,
      rows: Int): DataFrame = {
    val v = transform(col(vecCol), _.cast("double"))
    // band keys cost bands*rows 64-dim dot products per vector — pay it
    // once (the self-join would otherwise evaluate it on both sides)
    val withBands = df.select(col(idCol).as("id"),
      posexplode(Similarity.lshBandKeys(v, dim, bands, rows)).as(Seq("band", "key")))
      .localCheckpoint(eager = true)
    val candidates = withBands.as("a")
      .join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), v.as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
      .localCheckpoint(eager = true)
    candidates
      .join(vecs.as("sa"), col("id_a") === col("sa.id"))
      .join(vecs.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("sa.v"), col("sb.v")) / (col("sa.n") * col("sb.n"))).as("c"))
      .filter(col("c") >= threshold)
  }

  /** [[semanticDedup]] against a TWO-LEVEL quantizer
    * ([[Clustering.TwoLevelModel]]): same cluster-then-prune rule, but
    * the cell is the composite coarse·k2+fine id — the quantizer shape
    * a corpus past the flat model's budget uses
    * ([[nearDupPairsEscalated]]'s fourth rung). Returns
    * `(id, cell: Long, dropped)`. */
  def semanticDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      model: Clustering.TwoLevelModel, threshold: Double): DataFrame = {
    val pts = Clustering.assignCellsTwoLevel(
      df.select(col(idCol).as("id"),
          transform(col(vecCol), _.cast("double")).as("v"))
        .localCheckpoint(eager = true)
        .withColumn("n", sqrt(Similarity.dot(col("v"), col("v")))),
      "id", "v", model)
    val dropped = cellPairs(pts, threshold)
      .select(col("id_b").as("id")).distinct()
    pts.join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, the shape of
    * Abbas et al. 2023): vectors are assigned to a coarse k-means cell
    * ([[Clustering.assignCell]] against a pre-trained deterministic
    * model), and WITHIN each cell every vector with a
    * cosine-≥-threshold neighbor of smaller id is marked dropped (the
    * minimal-id representative of each semantic near-dup set survives —
    * the same survivor rule as the exact/MinHash families, and
    * order-free: membership depends only on the set, never on
    * evaluation order). Returns `(id, cell, dropped)` for every input
    * row.
    *
    * Scale shape: the all-pairs term is confined to one cell — ONE
    * shuffle on the cell key, then a per-cell self-join. With k sized so
    * cells hold ~n/k vectors, the quadratic work is n²/k spread over k
    * groups (this is the entire point of SemDeDup over dd06's global
    * all-pairs); a skew-degenerate giant cell is handled the same way
    * as any hot join key — split it with a salted sub-bucket on the
    * SAME pattern as [[graft.ops.Joins.saltedJoin]], at the cost of the
    * near-dup sets spanning sub-buckets (SemDeDup accepts this recall
    * loss by design: its dedup is per-cluster, not global). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], threshold: Double): DataFrame = {
    val pts = cellPoints(df, idCol, vecCol, centroids)
    // a row is dropped iff a smaller-id cosine-≥-threshold cellmate
    // exists — exactly the pairs' id_b side ([[cellPairs]] keeps
    // id_a < id_b), so both SemDeDup paths share one join definition
    val dropped = cellPairs(pts, threshold)
      .select(col("id_b").as("id")).distinct()
    pts.join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** Benchmark-contamination hits: for each corpus document, how many
    * distinct word `n`-grams it shares with the benchmark set —
    * the decontamination screen every training run owes its eval suite
    * (a doc sharing a long n-gram with a benchmark question leaks the
    * answer into training). Returns `(id, n_hits)` for contaminated
    * docs only; [[decontaminate]] is the shipping anti-join.
    *
    * Plan shape at 100 TB: the benchmark side is an eval suite —
    * thousands of documents, not billions — so its distinct-gram set
    * stays broadcast-size by construction; corpus grams are row-local
    * (shingle explode), meet the broadcast in a map-side hash join, and
    * one hash agg on the doc id counts the hits. No corpus-sized
    * shuffle other than the final per-doc count. */
  def contaminationHits(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(col(textCol), n)).as("gram")).distinct()
    corpus
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The decontaminated corpus: `corpus` minus every document sharing at
    * least one word `n`-gram with `bench` (left anti join against
    * [[contaminationHits]]). */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val hits = contaminationHits(corpus, bench, idCol, textCol, n)
    corpus.join(hits, corpus(idCol) === hits("id"), "left_anti")
  }

  /** Per-document duplicated-span statistics — the gram-granular form of
    * EXACT SUBSTRING deduplication (the Lee et al. 2022 "Deduplicating
    * Training Data" screen: text spans appearing more than once in the
    * corpus are memorization fuel and should be trimmed or down-weighted).
    * A span here is a word `n`-gram WITH repeats (the occurrence
    * multiset, `graft_word_ngrams` — a doc repeating its own boilerplate
    * is duplication too, which distinct shingles would hide). For each
    * document with at least one gram: `total_grams` its occurrence
    * count, `dup_grams` how many of those occurrences are of a gram seen
    * more than once corpus-wide. `dup_grams / total_grams` is the
    * duplicated-text fraction a trimming pass thresholds on.
    *
    * Plan shape at 100 TB — TWO key-partitioned exchanges over ONE
    * evaluation of the gram stream, no broadcast of anything
    * corpus-sized (pinned by OpsSpec):
    *  1. the exploded occurrence stream is explicitly hash-partitioned
    *     on gram ONCE; that single layout serves the (doc, gram)
    *     collapse (gram ⊆ its keys), and the corpus-total WINDOW sum
    *     over the gram partition (the suffix-array equivalent at gram
    *     granularity). A window, not a totals self-join: the join form
    *     evaluates the exploded-gram subtree twice and invites a
    *     broadcast of the gram-totals side, which is corpus-sized.
    *  2. hash agg on doc for the per-document fractions.
    * Tradeoff made explicit: partitioning the RAW occurrence stream
    * forgoes the map-side (doc, gram) pre-collapse, which only pays
    * when documents repeat the same n-gram internally — rare at
    * 8-gram width in natural text, and letting Catalyst place that
    * collapse first costs a third full-size exchange (measured). A hot
    * gram's window partition is its doc list — the same reducer skew
    * either shape pays. `carryCols` ride along through the explode into
    * the group keys (same rationale as lmCoverage: row-local width
    * beats a second doc-count-sized join). */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, carryCols: String*): DataFrame = {
    val keys = col(idCol).as("id") +: carryCols.map(col)
    val occ = df.select(keys :+ explode(exprs.word_ngrams(col(textCol), n)).as("gram"): _*)
      .repartition(col("gram"))
    val perDocGram = occ
      .groupBy(col("id") +: carryCols.map(col) :+ col("gram"): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    perDocGram.withColumn("tot", sum(col("cnt")).over(w))
      .groupBy(col("id") +: carryCols.map(col): _*)
      .agg(sum(col("cnt")).as("total_grams"),
        sum(when(col("tot") > 1, col("cnt")).otherwise(0L)).as("dup_grams"))
  }

  /** The span-trimmed corpus — [[duplicatedSpanStats]]'s shipping
    * transform, completing the measure→act pair exactly as
    * [[decontaminate]] ships [[contaminationHits]]: drop every document
    * whose duplicated-span fraction exceeds `maxDupNum / maxDupDen`
    * (`dup_grams * maxDupDen > total_grams * maxDupNum` — integer
    * arithmetic, no float fraction), keep everything else INCLUDING
    * documents too short to carry any `n`-gram: absence of span
    * evidence is not evidence of duplication, and a training mix that
    * silently dropped every short document would skew hard.
    *
    * This is the drop-document form of the Lee et al. 2022 pass (the
    * conservative corpus-level act: excising individual grams mid-text
    * would splice unrelated sentences together and is a per-span
    * editorial decision, not an engine one). Plan shape at 100 TB: the
    * census's two key-partitioned exchanges produce the heavy-doc id
    * set — typically a small fraction of the corpus by construction
    * (it is the trim target) — then ONE left-anti equi-join on the doc
    * id ships the survivors; AQE broadcasts the heavy side when it
    * fits, and the join degrades to a plain shuffled anti-join when a
    * pathological threshold makes it corpus-sized. */
  def dropDuplicatedDocs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDupNum: Long, maxDupDen: Long): DataFrame = {
    require(n > 0, s"dropDuplicatedDocs needs n > 0, got $n")
    require(maxDupDen > 0 && maxDupNum >= 0,
      s"dropDuplicatedDocs needs a nonnegative threshold fraction, got $maxDupNum/$maxDupDen")
    val heavy = duplicatedSpanStats(df, idCol, textCol, n)
      .filter(col("dup_grams") * maxDupDen > col("total_grams") * maxDupNum)
      .select(col("id"))
    df.join(heavy, df(idCol) === heavy("id"), "left_anti")
  }

  /** Embedding near-dup pairs by cosine similarity. Brute-force
    * (all-pairs) — the exact baseline and oracle shape;
    * [[blockedEmbeddingNearDupPairs]] is the scale path. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    // norms precomputed once per row; per-pair work is a single
    // allocation-free dot product (codegen ArrayDotProduct)
    val base = df.select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("n", sqrt(Similarity.dot(col("v"), col("v"))))
    base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("c"))
      .filter(col("c") >= threshold)
  }
}
