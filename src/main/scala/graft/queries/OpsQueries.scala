package graft.queries

import graft.Tables
import graft.ops.{Clustering, Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator queries (dedup, similarity search,
  * text analysis, multimodal plumbing) over the `documents` and
  * `embeddings` tables, with DuckDB oracle SQL generated from the SAME
  * constants the Spark plans use (Dedup / Similarity / TextAnalysis
  * objects), so the two sides cannot drift. Every query here is
  * oracle-checked — including ss04, whose deterministic k-means fit the
  * oracle re-runs in full.
  */
object OpsQueries {

  type Q = (SparkSession, String) => DataFrame

  private implicit class ColInterp(private val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  // ---------------------------------------------------------------- dedup

  /** dd01: exact dedup on full text. Single hash-agg shuffle. */
  private val dd01: Q = (s, d) =>
    Dedup.exactDedup(Tables.documents(s, d), "doc_id", $"text")
      .select($"keep_id", $"dups")
      .sort($"keep_id")
      .limit(200)

  /** dd02: exact dedup on a 2-token prefix key (real duplicate groups in
    * the synthetic corpus). */
  private val dd02: Q = (s, d) =>
    Dedup.exactDedup(Tables.documents(s, d), "doc_id",
        concat_ws(" ", slice(Dedup.tokens($"text"), 1, 2)).as("k"))
      .select($"k", $"keep_id", $"dups")
      .sort($"keep_id")
      .limit(200)

  /** dd03: MinHash+LSH near-dup pairs (shingle → minhash → band →
    * bucket-join), verified with exact Jaccard ≥ 0.8. */
  private val dd03: Q = (s, d) =>
    Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", 0.8)
      .select($"id_a", $"id_b", round($"j", 4).as("j"))
      .sort($"id_a", $"id_b")

  /** dd04: EXACT all-pairs n-gram-Jaccard ≥ 0.9 via prefix filtering
    * (complete candidates, so the oracle is plain brute force). */
  private val dd04: Q = (s, d) =>
    Dedup.allPairsJaccard(Tables.documents(s, d), "doc_id", "text", 0.9)
      .select($"id_a", $"id_b", round($"j", 4).as("j"))
      .sort($"id_a", $"id_b")

  /** dd05: SimHash near-dup pairs (Hamming ≤ 8 over 64-bit sketches,
    * 4×16-bit chunk LSH). Oracle reproduces FNV-1a + bit votes in
    * DuckDB HUGEINT arithmetic mod 2^64. */
  private val dd05: Q = (s, d) =>
    Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", 8)
      .sort($"id_a", $"id_b")

  /** dd06: embedding near-dup pairs by cosine ≥ 0.45. */
  private val dd06: Q = (s, d) =>
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b", round($"c", 4).as("c"))
      .sort($"id_a", $"id_b")

  /** dd10: embedding near-dup pairs at scale — banded-LSH blocking
    * (candidates from a bucket equi-join, never all-pairs) + exact-cosine
    * verify ≥ 0.45. The 100 TB replacement for dd06's exact baseline.
    * Index geometry SELF-TUNES from the measured corpus size
    * ([[graft.ops.Similarity.lshGeometryFor]] — rows grows with log₂(n)
    * to hold per-band random collisions linear, bands restores the
    * recall target 0.685 that the old hand-tuned 6×4 table delivered at
    * the 0.45 threshold); the oracle re-derives the SAME geometry from
    * its own COUNT(*), with the bands-per-rows table embedded from the
    * same Scala function, so engine and oracle can never drift. At the
    * graded 500-vector SF this resolves to exactly the old 6×4; at 10×
    * it widens to 5-bit bands and the sf1 probe's candidate growth goes
    * near-linear instead of quadratic. */
  private final val Dd10Threshold = 0.45
  private val dd10: Q = (s, d) =>
    Dedup.blockedEmbeddingNearDupPairs(
        Tables.embeddings(s, d), "vec_id", "embedding", 64, Dd10Threshold)
      .select($"id_a", $"id_b", round($"c", 4).as("c"))
      .sort($"id_a", $"id_b")

  /** dd07: end-to-end dedup decision — MinHash-LSH pairs (Jaccard ≥ 0.8)
    * clustered by connected components; every clustered doc maps to its
    * cluster's minimal id. */
  private val dd07: Q = (s, d) => {
    val pairs = Dedup.minhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", 0.8)
    Dedup.connectedComponents(pairs)
      .sort($"rep", $"member")
  }

  /** dd08: the curated corpus — documents minus non-representative
    * near-dup cluster members (anti join against dd07's clusters). This
    * is the artifact a training-data pipeline actually ships. */
  private val dd08: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8)
    val dropped = Dedup.connectedComponents(pairs)
      .filter($"member" =!= $"rep")
      .select($"member")
    docs.join(dropped, docs("doc_id") === dropped("member"), "left_anti")
      .select($"doc_id", $"lang", $"source")
      .sort($"doc_id")
  }

  /** dd09: incremental dedup — documents with doc_id ≥ 250 screened as
    * "new" against the existing corpus (doc_id < 250). */
  private val dd09: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.incrementalNearDupPairs(
        docs.filter($"doc_id" >= 250), docs.filter($"doc_id" < 250),
        "doc_id", "text", 0.8)
      .select($"new_id", $"old_id", round($"j", 4).as("j"))
      .sort($"new_id", $"old_id")
  }

  /** dd11: exact containment dedup — A's shingles ≥ 80% inside B
    * (asymmetric: excerpt/quote/boilerplate subsumption, which symmetric
    * Jaccard misses). Complete candidates from contained-side prefix
    * filtering; brute-force oracle. */
  private val dd11: Q = (s, d) =>
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text", 0.8)
      .select($"id_a", $"id_b", round($"containment", 4).as("containment"))
      .sort($"id_a", $"id_b")

  /** dd12's cosine threshold: the corpus's planted near-dups sit at
    * ~0.45–0.51 (see dd10's derivation), so 0.45 is the line the other
    * embedding-dedup entries also draw. */
  private final val Dd12Threshold = 0.45

  /** dd12: SemDeDup-style semantic dedup — cluster-then-prune over the
    * embedding corpus ([[graft.ops.Dedup.semanticDedup]]): the ss04/ss07
    * k-means quantizer assigns each vector a cell, and within each cell
    * any vector with a cosine-≥-threshold smaller-id neighbor is
    * dropped. Census per cell: members, dropped count, and the SUM of
    * dropped ids (pinning WHICH vectors were pruned, not just how many).
    * The oracle re-fits the quantizer with the shared k-means CTEs and
    * re-derives the drop set from the same order-free rule. */
  private val dd12: Q = (s, d) =>
    Dedup.semanticDedup(
        Tables.embeddings(s, d).filter($"vec_id" =!= 0),
        "vec_id", "embedding", ivfModel(s, d), Dd12Threshold)
      .groupBy($"cell")
      .agg(count(lit(1)).as("members"),
        sum($"dropped".cast("long")).as("dropped"),
        coalesce(sum(when($"dropped", $"id")), lit(0L)).as("dropped_id_sum"))
      .sort($"cell")

  /** dd16's fine fan-out: each of the [[Ss04Cells]] coarse cells splits
    * into up to 3 sub-centroids, so the composite quantizer runs 24
    * cells over the same corpus the flat dd12 runs 8 — small enough
    * that cells stay populated at sf0.001, large enough that the
    * composite arithmetic (cell = coarse·k2 + fine) is load-bearing. */
  private final val Dd16Fine = 3

  /** dd16's hierarchical model, trained once per dataset dir — same
    * train-once convention as [[ivfModel]] (a deployment fits the
    * quantizer once and serves it; refitting per query would benchmark
    * index construction, not the dedup). */
  private val twoLevelModel = oncePerDataset { (s, d) =>
    Clustering.kmeansTwoLevel(
      Tables.embeddings(s, d).filter($"vec_id" =!= 0),
      "vec_id", "embedding", 64, Ss04Cells, Dd16Fine, Ss04Iters)
  }

  /** dd16: semantic dedup through the TWO-LEVEL quantizer — the fourth
    * escalation rung ([[graft.ops.Clustering.kmeansTwoLevel]]) graded
    * against a full oracle restatement: the shared coarse k-means CTEs
    * extend with per-coarse-cell fine Lloyd iterations (init = the k2
    * lowest-id members of each cell, arg-min over the OWN cell's fine
    * list, 1e-6-rounded means), then the same cluster-then-prune census
    * as dd12 over the composite cells. A hash match proves the
    * hierarchical fit, the composite assignment and the per-composite-
    * cell drop rule all agree with an independent engine bit for bit —
    * the strongest evidence the >broadcast-budget path computes what the
    * flat path would. */
  private val dd16: Q = (s, d) => {
    val df = Tables.embeddings(s, d).filter($"vec_id" =!= 0)
    Dedup.semanticDedupTwoLevel(df, "vec_id", "embedding",
        twoLevelModel(s, d), Dd12Threshold)
      .groupBy($"cell")
      .agg(count(lit(1)).as("members"),
        sum($"dropped".cast("long")).as("dropped"),
        coalesce(sum(when($"dropped", $"id")), lit(0L)).as("dropped_id_sum"))
      .sort($"cell")
  }

  /** The persisted old-slice two-level model, fitted/saved once per
    * dataset dir — dd17's assignment story and ss16's served-append
    * layout both load THIS artifact (train once, serve forever). */
  private[queries] val twoLevelSavedPath = oncePerDataset { (s, d) =>
    val p = graft.Fs.jvmTempDir("graft_twolevel_model").resolve("model").toString
    val fitted = Clustering.kmeansTwoLevel(
      Tables.embeddings(s, d).filter($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1),
      "vec_id", "embedding", 64, Ss04Cells, Dd16Fine, Ss04Iters)
    Clustering.saveTwoLevel(s, fitted, p)
    // round-trip pin (ss11's contract at the two-level model):
    // deterministic Lloyd + 1e-6 rounding + parquet's exact double
    // round-trip make save→load EXACTLY the fitted model
    val loaded = Clustering.loadTwoLevel(s, p)
    require(loaded.coarse == fitted.coarse && loaded.k2 == fitted.k2,
      "loaded two-level coarse model drifted from the fitted one")
    require(Clustering.fineSeq(loaded) == Clustering.fineSeq(fitted),
      "loaded two-level fine table drifted from the fitted one")
    p
  }

  /** dd17: the PERSISTED two-level quantizer — the save-load-append
    * story for the fourth escalation rung (ss11/ss12's shape at dd16's
    * model): the hierarchical model fits on the OLD slice only
    * (vec_id % 5 ≠ 1), persists through [[graft.ops.Clustering.saveTwoLevel]]
    * (coarse = k1-row parquet; the FINE TABLE WRITTEN DISTRIBUTED — it
    * is data, never a driver object, the r14 review's dd16 fix), and
    * the FULL grown corpus is assigned through the LOADED model — no
    * refit, appended vectors quantized by centroids that never saw
    * them, coarse cells the fit never populated falling back to their
    * coarse centroid (the coverage rule that makes the served
    * assignment total). The census pins membership AND appended counts
    * AND id sums per composite cell; the oracle re-derives the
    * two-level fit over the old slice, the fallback, and the union
    * assignment bit for bit, so a refit sneaking into the append path
    * or a drifted persisted model breaks the hash. */
  private val dd17: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val path = twoLevelSavedPath(s, d)
    val loaded = Clustering.loadTwoLevel(s, path)
    val pts = e.filter($"vec_id" =!= 0)
      .select($"vec_id".as("id"),
        transform($"embedding", _.cast("double")).as("v"))
      .localCheckpoint(eager = true)
    Clustering.assignCellsTwoLevel(pts, "id", "v", loaded)
      .groupBy($"cell")
      .agg(count(lit(1)).as("members"),
        sum(when($"id" % 5 === 1, 1L).otherwise(0L)).as("appended"),
        sum($"id").as("id_sum"))
      .sort($"cell")
  }

  /** dd18's takedown id rule: every 37th vector (vec_id % 37 = 5) — a
    * specific, corpus-spanning id list, the shape of a legal removal
    * request. Small enough that several cells stay untouched at
    * sf0.001 (the byte-identical contract is spec-pinned, not graded). */
  private[queries] final val Dd18Mod = 37
  private[queries] final val Dd18Res = 5

  private val takedownLayout = oncePerDataset { (s, d) =>
    val e = Tables.embeddings(s, d)
    val lp = graft.Fs.jvmTempDir("graft_takedown").resolve("layout").toString
    Clustering.writePartitionedByCellTwoLevel(
      e.filter($"vec_id" =!= 0), "vec_id", "embedding", twoLevelModel(s, d), lp)
    val removals = e
      .filter($"vec_id" =!= 0 && $"vec_id" % Dd18Mod === Dd18Res)
      .select($"vec_id".as("id"))
    Clustering.deleteFromCellLayout(s, lp, removals)
    lp
  }

  /** dd18: TAKEDOWN from a served layout without refit — the deletion
    * story a training-data lake legally needs (copyright/PII removal):
    * the rung-4 composite-cell layout is built once from the corpus
    * through the full-fit two-level model, then the removal id set
    * (every 37th vector) is deleted via
    * [[graft.ops.Clustering.deleteFromCellLayout]] — ONE column-pruned
    * scan locates the affected cells, ONLY those partitions rewrite
    * (dynamic partition overwrite; untouched `cell=` directories stay
    * byte-identical, OpsSpec-pinned), fully-emptied cells' directories
    * are deleted outright, and no model/bounds artifact changes. Two
    * graded facts in the uniform (part, a, b) schema: ss13's multiprobe
    * serve over the post-delete layout ('serve' — a removed id
    * resurfacing near the query breaks it) and the surviving census per
    * cell with ID SUMS ('cell_N': a = members, b = Σ vec_id — the sum
    * pins WHICH rows survived, so a takedown that dropped the wrong
    * rows, left a removed id behind, or lost an untouched neighbor
    * cannot hash-match). The oracle re-derives the full two-level refit
    * + multiprobe ladder and restates the takedown as an anti-join. */
  private val dd18: Q = (s, d) => {
    val model = twoLevelModel(s, d)
    val path = takedownLayout(s, d)
    val qv = queryVec(s, d)
    val served = serveRows(Clustering.ivfTopKServedTwoLevel(s, path, model, qv, 5,
        nProbe = Ss13Probe, topCoarse = Ss13Coarse))
    val census = s.read.parquet(path)
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), sum($"id").as("ids"))
      .select(concat(lit("cell_"), $"cell").as("part"),
        $"n".as("a"), $"ids".cast("double").as("b"))
    served.unionByName(census).sort($"part", $"a")
  }

  /** dd13's contamination n-gram width (8 words — the published
    * decontamination screening family) and the benchmark slice: every
    * 25th document stands in for a held-out eval suite. */
  private[queries] final val Dd13Ngram = 8
  private[queries] final val Dd13Mod = 25

  /** dd13: benchmark decontamination — the screen every training run
    * owes its eval suite: any corpus document sharing a word 8-gram
    * with the benchmark set leaks an answer into training and must be
    * dropped. [[graft.ops.Dedup.contaminationHits]] finds the leaks
    * (row-local shingles → broadcast hash join against the benchmark's
    * distinct grams — the benchmark side is broadcast-size by
    * construction at any corpus scale); the census reports, per
    * language, the corpus size, how many documents were contaminated,
    * the total shared-gram count (pinning how hard each match hit, not
    * just that it hit), and the clean corpus's token inventory — the
    * artifact that ships. */
  private val dd13: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.filter($"doc_id" % Dd13Mod === 0)
    val corpus = docs.filter($"doc_id" % Dd13Mod =!= 0)
    val hits = Dedup.contaminationHits(corpus, bench, "doc_id", "text", Dd13Ngram)
    corpus.join(hits, corpus("doc_id") === hits("id"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count($"id").as("contaminated"),
        coalesce(sum(when($"id".isNotNull, $"n_hits")), lit(0L)).as("hit_grams"),
        sum(when($"id".isNull, size(Dedup.tokens($"text")).cast("long"))
          .otherwise(0L)).as("clean_tokens"))
      .sort($"lang")
  }

  /** dd14's span width (8 words, the dd13 decontamination width) and the
    * trim threshold: a doc more than half of whose gram occurrences are
    * corpus-duplicated is flagged heavy. */
  private[queries] final val Dd14Ngram = 8
  private[queries] final val Dd14Heavy = 2

  /** dd14: duplicated-span census — the gram-granular exact-substring
    * dedup screen ([[graft.ops.Dedup.duplicatedSpanStats]], Lee et al.
    * 2022 shape): per language, how many documents carry at least one
    * 8-gram, their total gram occurrences, how many of those occurrences
    * are corpus-duplicated (a gram seen >1× anywhere, including within
    * one doc), and how many documents are more than half duplicated
    * text — the rows a trimming pass would rewrite. Integer-exact end
    * to end. Docs shorter than 8 words carry no span evidence and are
    * out of scope on both sides. */
  private val dd14: Q = (s, d) =>
    Dedup.duplicatedSpanStats(
        Tables.documents(s, d), "doc_id", "text", Dd14Ngram, "lang")
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        sum($"total_grams").as("total_grams"),
        sum($"dup_grams").as("dup_grams"),
        sum(when($"dup_grams" * Dd14Heavy > $"total_grams", 1L)
          .otherwise(0L)).as("heavy_docs"))
      .sort($"lang")

  /** dd15: the span-trimmed corpus — dd14's census paired with its
    * shipping transform ([[graft.ops.Dedup.dropDuplicatedDocs]]):
    * documents more than half of whose 8-gram occurrences are
    * corpus-duplicated (exactly dd14's `heavy_docs` rows) are dropped;
    * everything else, INCLUDING sub-8-word documents with no span
    * evidence, survives. The graded census is the artifact a training
    * run consumes: per language, surviving documents and their token
    * inventory. Cross-checkable against dd14 by construction —
    * survivors with grams = dd14 docs − heavy_docs. */
  private val dd15: Q = (s, d) =>
    Dedup.dropDuplicatedDocs(
        Tables.documents(s, d), "doc_id", "text", Dd14Ngram, 1L, Dd14Heavy)
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        sum(size(Dedup.tokens($"text")).cast("long")).as("tokens"))
      .sort($"lang")

  // ----------------------------------------------------- similarity search

  /** ss01: brute-force cosine top-10 neighbors of vec 0 (declarative:
    * broadcast the query row, map-side score, TakeOrdered top-k). */
  private val ss01: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")).as("qv"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        Similarity.cosine(transform($"embedding", _.cast("double")), $"qv").as("sim"))
      .sort($"sim".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"sim", 4).as("sim"))
  }

  /** ss02: random-hyperplane LSH bucket histogram (the ANN index's
    * balance view; bucketing is row-local, one tiny shuffle to count). */
  private val ss02: Q = (s, d) =>
    Similarity.bucketHistogram(Tables.embeddings(s, d), "embedding", 64)
      .sort($"bucket")

  /** ss03: ANN top-5 — search restricted to the query vector's LSH
    * bucket, ranked by exact cosine. */
  private val ss03: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select(
      transform($"embedding", _.cast("double")).as("qv"),
      Similarity.lshBucket(transform($"embedding", _.cast("double")), 64).as("qb"))
    e.filter($"vec_id" =!= 0)
      .select($"vec_id",
        transform($"embedding", _.cast("double")).as("v"),
        Similarity.lshBucket(transform($"embedding", _.cast("double")), 64).as("bucket"))
      .join(broadcast(q), $"bucket" === $"qb")
      .select($"vec_id", Similarity.cosine($"v", $"qv").as("sim"))
      .sort($"sim".desc, $"vec_id")
      .limit(5)
      .select($"vec_id", round($"sim", 4).as("sim"))
  }

  /** ss04's IVF index shape: 8 cells from 2 deterministic Lloyd
    * iterations, 2 probed cells per query. */
  private[queries] final val Ss04Cells = 8
  private[queries] final val Ss04Iters = 2
  private[queries] final val Ss04Probe = 2

  /** The ss-family query vector (vec_id 0), collected ONCE per dataset
    * dir — the same train-once convention as [[ivfModel]]: every ss
    * entry probes the same benchmark query row, and re-collecting it
    * per entry paid one fixed driver job apiece (the r14 review's
    * ss-family bench-noise term). The vector is immutable model-scale
    * state (64 doubles), exactly like the centroids it probes. */
  private[queries] val queryVec = oncePerDataset { (s, d) =>
    Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select(transform($"embedding", _.cast("double")))
      .collect().head.getSeq[Double](0)
  }

  /** The ss04/ss07 coarse quantizer, trained once per dataset dir — ONE
    * definition so the direct and served paths can never fit diverging
    * models against the shared oracle. */
  private val ivfModel = oncePerDataset { (s, d) =>
    Clustering.kmeans(Tables.embeddings(s, d).filter($"vec_id" =!= 0),
      "vec_id", "embedding", 64, Ss04Cells, Ss04Iters)
  }

  /** ss04: IVF ANN top-5 — deterministic distributed Lloyd k-means as
    * the coarse quantizer (init = lowest-id vectors, arg-min fold
    * assignment, 1e-6-rounded means), probing the 2 nearest cells. Every
    * step is exact arithmetic, so the DuckDB oracle re-runs the whole
    * fit + probe. The trained centroids are memoized per data dir: an
    * IVF index is built once and served for many queries — retraining
    * per query would benchmark index construction, not search. */
  private val ss04: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Clustering.ivfTopK(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        ivfModel(s, d), qv, 5, nProbe = Ss04Probe)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  private val servedLayout = oncePerDataset { (s, d) =>
    val dir = graft.Fs.jvmTempDir("graft_ivf_served").toString
    Clustering.writePartitionedByCell(Tables.embeddings(s, d).filter($"vec_id" =!= 0),
      "vec_id", "embedding", ivfModel(s, d), dir)
    dir
  }

  /** ss07: the SERVED IVF path — the corpus persisted partitioned by its
    * IVF cell ([[Clustering.writePartitionedByCell]]), queried through
    * [[Clustering.ivfTopKServed]] so the probe set becomes a
    * partition-pruning predicate: the scan lists and reads ONLY the
    * nProbe cell directories out of [[Ss04Cells]], never the full corpus
    * — the layout ANN actually ships with at 100 TB. Same model, probes,
    * and re-rank as ss04, so the results (and the oracle) are identical;
    * what this entry adds is the pruned-scan plan, pinned by OpsSpec's
    * PartitionFilters assertion. The layout is built once per dataset
    * ([[oncePerDataset]]: an index is written once and served for many
    * queries) into a temp dir cleaned up on JVM exit. */
  private val ss07: Q = (s, d) => {
    val qv = queryVec(s, d)
    val centroids = ivfModel(s, d)
    Clustering.ivfTopKServed(s, servedLayout(s, d), centroids, qv, 5, nProbe = Ss04Probe)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  /** ss08: ANN recall@k, MEASURED — the accuracy contract an ANN
    * deployment must state. The IVF probe (ss04's quantizer and probe
    * budget) and the exact cosine ranking both produce top-10 lists for
    * the query vector; per k ∈ {1, 5, 10}, `hits@k` counts how many of
    * the exact top-k the probe's top-k recovered. Integer-exact (set
    * intersection counts, no float recall ratio), and the oracle
    * re-derives BOTH rankings — exact from raw cosine, approximate
    * through the shared k-means CTEs — so a silent quality regression in
    * the quantizer or probe breaks the hash, not just a vibe. */
  private val ss08: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    val q = array(qv.map(lit): _*)
    val rest = e.filter($"vec_id" =!= 0)
      .select($"vec_id", Similarity.cosine(
        transform($"embedding", _.cast("double")), q).as("sim"))
    // both unpartitioned windows rank ≤ 10 rows (after a limit(10))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"sim".desc, $"vec_id")
    val exact = rest.sort($"sim".desc, $"vec_id").limit(10)
      .withColumn("re", row_number().over(w)).select($"vec_id", $"re")
    val approx = Clustering.ivfTopK(e.filter($"vec_id" =!= 0), "vec_id",
        "embedding", ivfModel(s, d), qv, 10, nProbe = Ss04Probe)
      .withColumn("ra", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"sim".desc, $"id")))
      .select($"id".as("vec_id"), $"ra")
    exact.join(approx, "vec_id")
      .agg(
        coalesce(sum(when($"re" <= 1 && $"ra" <= 1, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_1"),
        coalesce(sum(when($"re" <= 5 && $"ra" <= 5, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_5"),
        coalesce(sum(when($"re" <= 10 && $"ra" <= 10, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_10"))
  }

  /** ss09's result size (quantized top-k). */
  private final val Ss09K = 10

  /** ss09: int8 scalar-quantized similarity search — the embedding-store
    * COMPRESSION path at 100 TB: 4× smaller at rest than float32 and
    * integer dot products at query time. The per-dim (min, span) bounds
    * are a one-pass fit ([[Similarity.quantizationBounds]] — index-build
    * model state, like ss04's k-means); corpus and query quantize
    * row-locally; ranking is by EXACT integer dot product (no float
    * summation order to drift), tie-broken by id. Each returned row
    * carries `in_exact10` — membership in the float-cosine exact top-10
    * — so the compression's quality loss is measured in the graded
    * result (ss08-style), never assumed. The oracle re-fits the bounds
    * and restates the quantization arithmetic literally. */
  private val ss09: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val (lo, span) = Similarity.quantizationBounds(e, "embedding", 64)
    // materialized: the 1-row query side and the scored side both read
    // the quantized frame (same inlining guard as knnJoin)
    val qz = e.select($"vec_id",
        Similarity.quantizeInt8($"embedding", lo, span).as("q"))
      .localCheckpoint(eager = true)
    val qv = qz.filter($"vec_id" === 0).select($"q".as("qq"))
    val scored = qz.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(qv))
      .select($"vec_id", Similarity.intDot($"q", $"qq").as("qscore"))
      .sort($"qscore".desc, $"vec_id")
      .limit(Ss09K)
    val qvec = queryVec(s, d)
    val exact = Similarity.bruteForceTopK(
        e.filter($"vec_id" =!= 0), "vec_id", "embedding", qvec, Ss09K)
      .select($"id".as("eid"))
    scored.join(exact, $"vec_id" === $"eid", "left")
      .select($"vec_id", $"qscore", $"eid".isNotNull.as("in_exact10"))
      .sort($"qscore".desc, $"vec_id")
  }

  /** ss05: multi-probe ANN top-5 — deterministic 4-bit hyperplane coarse
    * quantizer, probing the query's cell + all Hamming-1 cells, exact
    * cosine re-rank. The model-free IVF-family twin of ss04: same probe
    * shape, hyperplane code instead of a trained quantizer. */
  private val ss05: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Similarity.multiProbeTopK(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        64, qv, 5, planes = 4)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  /** ss10: metadata-FILTERED ANN — the vector-store feature every
    * retrieval deployment needs ("nearest neighbors WHERE label
    * matches"): the metadata predicate is applied BEFORE bucketing and
    * scoring (pre-filter), so the search always returns k qualifying
    * results from the restricted index slice — a post-filter of an
    * unfiltered top-k would under-deliver k whenever the predicate is
    * selective. Composition, not new machinery: the filter pushes into
    * the parquet scan under [[graft.ops.Similarity.multiProbeTopK]]'s
    * row-local bucketing, so the filtered search costs LESS than the
    * unfiltered one. The oracle is ss05's restatement with the same
    * predicate. */
  private val ss10: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Similarity.multiProbeTopK(
        e.filter($"vec_id" =!= 0 && $"label" % 2 === 0),
        "vec_id", "embedding", 64, qv, 5, planes = 4)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  private val savedModel = oncePerDataset { (s, d) =>
    val p = graft.Fs.jvmTempDir("graft_ivf_model").resolve("centroids").toString
    Clustering.saveCentroids(s, ivfModel(s, d), p)
    p
  }

  /** ss11: the PERSISTED IVF model — a served deployment trains the
    * quantizer once, writes it next to the cell-partitioned layout, and
    * every query process LOADS it ([[graft.ops.Clustering.saveCentroids]]
    * / [[loadCentroids]]) instead of re-spending the k-means passes.
    * This entry saves the shared [[ivfModel]] to a k-row parquet (once
    * per dataset), loads it back, and serves ss04's query through the
    * LOADED model. Two pins: a driver-side require that
    * load(save(m)) == m bit-for-bit every graded run (deterministic
    * Lloyd + 1e-6 mean rounding + parquet's exact double round-trip
    * make that checkable with zero tolerance), and ss04's refit oracle
    * on the result — a loaded model that drifted from the refit breaks
    * the hash, not just a vibe. */
  private val ss11: Q = (s, d) => {
    val loaded = Clustering.loadCentroids(s, savedModel(s, d))
    require(loaded == ivfModel(s, d),
      "loaded IVF centroids drifted from the fitted model")
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Clustering.ivfTopK(e.filter($"vec_id" =!= 0), "vec_id", "embedding",
        loaded, qv, 5, nProbe = Ss04Probe)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  private val appendLayout = oncePerDataset { (s, d) =>
    val e = Tables.embeddings(s, d)
    val oldSlice = e.filter($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1)
    val dir = graft.Fs.jvmTempDir("graft_ivf_append")
    val mp = dir.resolve("centroids").toString
    val lp = dir.resolve("layout").toString
    val fitted = Clustering.kmeans(oldSlice, "vec_id", "embedding",
      64, Ss04Cells, Ss04Iters)
    Clustering.saveCentroids(s, fitted, mp)
    // both writes go through the LOADED model — the layout must be
    // the artifact a fresh serving process (which has only the file)
    // would build, never the in-memory fit
    val loaded = Clustering.loadCentroids(s, mp)
    require(loaded == fitted,
      "loaded IVF centroids drifted from the fitted model")
    Clustering.writePartitionedByCell(
      oldSlice, "vec_id", "embedding", loaded, lp)
    Clustering.writePartitionedByCell(e.filter($"vec_id" =!= 0 && $"vec_id" % 5 === 1),
      "vec_id", "embedding", loaded, lp, "append")
    (mp, lp)
  }

  /** ss12: the APPEND path of the served-IVF story — the one thing
    * ss07/ss11 don't prove: that the train-once model survives CORPUS
    * GROWTH. The quantizer fits on the OLD slice only (vec_id % 5 ≠ 1),
    * persists, and the layout is written from it; then a NEW batch
    * (vec_id % 5 = 1) is assigned through the LOADED model — no refit,
    * no rewrite of existing cells, just appended files inside the
    * matching `cell=` directories — and ss04's query is served over the
    * combined layout. The oracle re-fits on the old slice and assigns
    * the UNION through the trained centroids
    * ([[kmeansOracleCtesFor]]'s assign-slice form), so a refit that
    * sneaked into the append path, or an appended vector quantized by a
    * drifted model, breaks the hash. At 100 TB this is the ingest
    * shape: per-batch index rebuilds re-shuffle the whole corpus, the
    * append touches only the new rows. */
  private val ss12: Q = (s, d) => {
    val (modelPath, layoutPath) = appendLayout(s, d)
    val loaded = Clustering.loadCentroids(s, modelPath)
    val qv = queryVec(s, d)
    // two graded facts in one uniform (part, a, b) schema: the served
    // top-5 over the combined layout ('serve' rows), and the per-cell
    // census of the layout itself — total members and HOW MANY ARE
    // APPENDED ('cell_k' rows). The census is what makes the append
    // non-vacuous: the query vector's neighbors are mostly old-slice
    // vectors, so a silently-empty append could hash-match a top-k-only
    // result; it cannot match the census.
    serveRows(Clustering.ivfTopKServed(s, layoutPath, loaded, qv, 5, nProbe = Ss04Probe))
      .unionByName(appendedCensus(s, layoutPath)).sort($"part", $"a")
  }

  /** ss13/ss14/ss15/ss16's probe budget: descend the [[Ss13Coarse]]
    * nearest coarse cells (MULTIPROBE — the published IMI shape; a
    * single-coarse probe silently loses every neighbor that quantized
    * across the nearest coarse Voronoi boundary) and take each
    * descended cell's [[Ss13Probe]] nearest fine centroids. */
  private[queries] final val Ss13Coarse = 2
  private[queries] final val Ss13Probe = 2

  /** ss13: ANN top-5 through the TWO-LEVEL quantizer — the serve rung
    * of the fourth escalation level (IMI-shaped MULTIPROBE, the shape a
    * past-broadcast-budget index actually answers queries with): the
    * query's 2 nearest coarse cells by driver arithmetic over the
    * k1-row model, each descended cell's 2 nearest fine centroids from
    * one ≤ 2·k2-row slice of the fine DataFrame (the probe stays
    * driver-bounded at any model size), exact cosine re-rank inside
    * the ≤ 4 probed composite cells — and the corpus is coarse-sliced
    * to the 2 probed coarse cells BEFORE the fine join, so the
    * per-query fine arg-min touches ~2/k1 of the corpus, not all of
    * it. Shares dd16's memoized hierarchical model, so fit cost is
    * paid once per dataset; the oracle re-runs the full two-level fit
    * and restates the probe ladder — coarse top-2, per-coarse fine
    * top-2 (coverage fallback included), composite membership, cosine
    * ranking — so a probe drifting by one fine cell scrambles the
    * result. */
  private val ss13: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    Clustering.ivfTopKTwoLevel(e.filter($"vec_id" =!= 0), "vec_id",
        "embedding", twoLevelModel(s, d), qv, 5, nProbe = Ss13Probe,
        topCoarse = Ss13Coarse)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  private val twoLevelLayout = oncePerDataset { (s, d) =>
    val dir = graft.Fs.jvmTempDir("graft_twolevel_served").toString
    Clustering.writePartitionedByCellTwoLevel(Tables.embeddings(s, d).filter($"vec_id" =!= 0),
      "vec_id", "embedding", twoLevelModel(s, d), dir)
    dir
  }

  /** ss14: the SERVED two-level layout — ss07's partition-pruned
    * serving convention at the rung-4 model: the corpus persists
    * partitioned by its COMPOSITE cell
    * ([[graft.ops.Clustering.writePartitionedByCellTwoLevel]], built
    * once per dataset) and ss13's query is answered through
    * [[graft.ops.Clustering.ivfTopKServedTwoLevel]], so the probe set
    * becomes a partition-pruning predicate — the scan reads the
    * ≤ topCoarse·nProbe probed `cell=` directories out of k1·k2
    * instead of assigning the corpus per query (ss13's baseline
    * shape). Same model, probes and re-rank as ss13, so the oracle is
    * shared; what this entry adds is the pruned-scan plan, pinned by
    * OpsSpec's PartitionFilters assertion. */
  private val ss14: Q = (s, d) => {
    val qv = queryVec(s, d)
    val model = twoLevelModel(s, d)
    Clustering.ivfTopKServedTwoLevel(s, twoLevelLayout(s, d), model, qv, 5,
        nProbe = Ss13Probe, topCoarse = Ss13Coarse)
      .select($"id".as("vec_id"), round($"sim", 4).as("sim"))
  }

  /** ss15: recall@k of the TWO-LEVEL multiprobe, MEASURED — ss08's
    * accuracy contract at the fourth escalation rung: the rung-4 index
    * owes its users a stated recall, and the single quantity that
    * justifies descending [[Ss13Coarse]] coarse cells instead of one
    * is what this entry grades. The multiprobe (coarse top-2, fine
    * top-2 per descended cell) and the exact cosine ranking both
    * produce top-10 lists; per k ∈ {1, 5, 10}, `hits@k` counts how
    * many of the exact top-k the probe recovered — integer-exact, and
    * the oracle re-derives BOTH rankings (exact from raw cosine,
    * approximate through the full two-level refit + the multiprobe
    * ladder), so a silent quality regression anywhere in the rung-4
    * fit or probe breaks the hash, not just a vibe. */
  private val ss15: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qv = queryVec(s, d)
    val q = array(qv.map(lit): _*)
    val rest = e.filter($"vec_id" =!= 0)
      .select($"vec_id", Similarity.cosine(
        transform($"embedding", _.cast("double")), q).as("sim"))
    // both unpartitioned windows rank ≤ 10 rows (after a limit(10))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"sim".desc, $"vec_id")
    val exact = rest.sort($"sim".desc, $"vec_id").limit(10)
      .withColumn("re", row_number().over(w)).select($"vec_id", $"re")
    val approx = Clustering.ivfTopKTwoLevel(e.filter($"vec_id" =!= 0),
        "vec_id", "embedding", twoLevelModel(s, d), qv, 10,
        nProbe = Ss13Probe, topCoarse = Ss13Coarse)
      .withColumn("ra", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"sim".desc, $"id")))
      .select($"id".as("vec_id"), $"ra")
    exact.join(approx, "vec_id")
      .agg(
        coalesce(sum(when($"re" <= 1 && $"ra" <= 1, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_1"),
        coalesce(sum(when($"re" <= 5 && $"ra" <= 5, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_5"),
        coalesce(sum(when($"re" <= 10 && $"ra" <= 10, 1L).otherwise(0L)), lit(0L))
          .as("hits_at_10"))
  }

  /** ss16/ss19's shared APPENDED (fragmented) layout: the old slice
    * written through the LOADED persisted model, the new batch appended
    * — built once per dataset dir, so the compaction entry compacts the
    * exact layout the append entry grades. */
  private val twoLevelAppendLayout = oncePerDataset { (s, d) =>
    val e = Tables.embeddings(s, d)
    val loaded = Clustering.loadTwoLevel(s, twoLevelSavedPath(s, d))
    val lp = graft.Fs.jvmTempDir("graft_twolevel_append").resolve("layout").toString
    // both writes go through the LOADED model — the layout must be
    // what a fresh serving process (which has only the file) builds
    Clustering.writePartitionedByCellTwoLevel(
      e.filter($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1),
      "vec_id", "embedding", loaded, lp)
    Clustering.writePartitionedByCellTwoLevel(
      e.filter($"vec_id" =!= 0 && $"vec_id" % 5 === 1),
      "vec_id", "embedding", loaded, lp, mode = "append")
    lp
  }

  /** ss16: the APPEND path of the SERVED two-level layout — ss12's
    * train-once-append story at the rung-4 index: the hierarchical
    * model fits on the OLD slice only and persists (dd17's saved
    * model, built once per dataset), the composite-cell layout is
    * written from the old slice THROUGH THE LOADED MODEL, then a NEW
    * batch (vec_id % 5 = 1) lands via
    * `writePartitionedByCellTwoLevel(mode = "append")` — no refit, no
    * rewrite of existing cells, appended files inside the matching
    * `cell=` directories (OpsSpec pins the old partition files
    * byte-identical across the append) — and ss13's multiprobe query
    * is served over the combined layout. Two graded facts in ss12's
    * uniform (part, a, b) schema: the served top-5 and the per-cell
    * census with appended counts — a silently-empty append could
    * hash-match a top-k-only result; it cannot match the census. The
    * oracle re-fits on the old slice, applies the coverage fallback,
    * assigns the union through the trained model, and restates the
    * multiprobe ladder. */
  private val ss16: Q = (s, d) => {
    val qv = queryVec(s, d)
    val loaded = Clustering.loadTwoLevel(s, twoLevelSavedPath(s, d))
    val path = twoLevelAppendLayout(s, d)
    twoLevelServeAndCensus(s, path, loaded, qv)
  }

  /** ss17's result size (quantized served top-k). */
  private final val Ss17K = 10

  private val quantizedTwoLevel = oncePerDataset { (s, d) =>
    val e = Tables.embeddings(s, d)
    val dir = graft.Fs.jvmTempDir("graft_twolevel_quant")
    val lp = dir.resolve("layout").toString
    val bp = dir.resolve("bounds").toString
    // the codebook PERSISTS beside the layout (ss11's discipline): the
    // floats never land in the index, so a fresh serving process must
    // decode through the saved bounds, never a refit — save→load is
    // required bit-for-bit every graded run. The fit sees the CORPUS
    // ONLY: queries arrive later at a real server and may clamp — the
    // query row must never leak into the stored decode key
    val (blo, bspan) = Similarity.quantizationBounds(
      e.filter($"vec_id" =!= 0), "embedding", 64)
    Similarity.saveQuantization(s, blo, bspan, bp)
    val (llo, lspan) = Similarity.loadQuantization(s, bp)
    require(llo == blo && lspan == bspan,
      "loaded quantization bounds drifted from the fitted ones")
    Clustering.writeQuantizedByCellTwoLevel(e.filter($"vec_id" =!= 0),
      "vec_id", "embedding", twoLevelModel(s, d), llo, lspan, lp)
    (lp, bp)
  }

  /** ss17: the int8-QUANTIZED rung-4 served layout — the two levers a
    * 100 TB embedding store pulls at once: 4× smaller at rest (ss09's
    * scalar quantization: one-pass per-dim bounds, row-local int8
    * encode) AND a partition-pruned serve (ss14's composite-cell
    * layout: the multiprobe set prunes the scan to ≤ topCoarse·nProbe
    * `cell=` directories of k1·k2). The layout stores ONLY (id, q,
    * cell) — the float vectors never land in the serving index; the
    * float model is driver state and assignment happens at WRITE time.
    * The quantization codebook PERSISTS beside the layout
    * ([[graft.ops.Similarity.saveQuantization]] — the floats are not
    * stored, so the saved bounds are the ONLY way a fresh serving
    * process can decode the index; save→load is required bit-for-bit
    * and every query decodes through the loaded artifact). Query:
    * quantize the query vector through the loaded bounds, rank the
    * probed cells by EXACT integer dot product (no float summation
    * order to drift), ties to the lowest id; each returned row carries
    * `in_exact10` — membership in the float-cosine exact top-10 — so
    * the compression × probe quality loss is measured in the graded
    * result, never assumed. The bounds fit on the CORPUS ONLY (never
    * the query row — queries arrive after the index is built and may
    * clamp, exactly like a real server). The oracle restates the
    * corpus-only bounds fit, the
    * quantization arithmetic, the full two-level refit, the multiprobe
    * ladder and the integer ranking. */
  private val ss17: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val model = twoLevelModel(s, d)
    val (path, boundsPath) = quantizedTwoLevel(s, d)
    // every query process decodes through the LOADED codebook — the
    // artifact a fresh server would hold, never the in-memory fit
    val (lo, span) = Similarity.loadQuantization(s, boundsPath)
    val qv = queryVec(s, d)
    val scored = int8ProbedTopK(s, e, path, model, lo, span, qv)
    val exact = Similarity.bruteForceTopK(
        e.filter($"vec_id" =!= 0), "vec_id", "embedding", qv, Ss17K)
      .select($"id".as("eid"))
    scored.join(exact, $"id" === $"eid", "left")
      .select($"id".as("vec_id"), $"qscore", $"eid".isNotNull.as("in_exact10"))
      .sort($"qscore".desc, $"vec_id")
  }

  private val quantizedAppendLayout = oncePerDataset { (s, d) =>
    val e = Tables.embeddings(s, d)
    val loaded = Clustering.loadTwoLevel(s, twoLevelSavedPath(s, d))
    val oldSlice = e.filter($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1)
    val dir = graft.Fs.jvmTempDir("graft_quant_append")
    val lp = dir.resolve("layout").toString
    val bp = dir.resolve("bounds").toString
    // the codebook fits on the OLD slice only and persists — the
    // append batch arrives after the index is built, exactly like a
    // real ingest, and must flow through the LOADED artifact
    val (blo, bspan) = Similarity.quantizationBounds(oldSlice, "embedding", 64)
    Similarity.saveQuantization(s, blo, bspan, bp)
    val (llo, lspan) = Similarity.loadQuantization(s, bp)
    require(llo == blo && lspan == bspan,
      "loaded quantization bounds drifted from the fitted ones")
    Clustering.writeQuantizedByCellTwoLevel(
      oldSlice, "vec_id", "embedding", loaded, llo, lspan, lp)
    Clustering.writeQuantizedByCellTwoLevel(e.filter($"vec_id" =!= 0 && $"vec_id" % 5 === 1),
      "vec_id", "embedding", loaded, llo, lspan, lp, mode = "append")
    (lp, bp)
  }

  /** ss18: APPEND to the QUANTIZED rung-4 layout through the LOADED
    * artifacts — the last layout without a lifecycle gets one (ss16's
    * train-once-append story at ss17's compression): the quantization
    * bounds fit on the OLD slice only and persist
    * ([[graft.ops.Similarity.saveQuantization]]), the two-level model
    * is dd17's persisted old-slice fit, the (id, int8, cell) layout is
    * written from the old slice through the LOADED codebook + LOADED
    * model, and a NEW batch (vec_id % 5 = 1) lands via
    * `writeQuantizedByCellTwoLevel(mode = "append")` — quantized by
    * bounds that never saw it, assigned by centroids that never saw it,
    * no refit, no rewrite (OpsSpec pins the old partition files
    * byte-identical across the append). Three graded facts in ss16's
    * uniform (part, a, b) schema: the multiprobe integer-dot top-10
    * over the union ('serve'), the per-cell census with appended counts
    * ('cell_N' — a silently-empty append cannot match it), and the
    * BOUNDS-DRIFT COST ('clamp': how many of the appended batch's
    * components saturate under the old codebook, and how many rows
    * carry at least one — measured, never assumed; at this SF the batch
    * really clamps, so a drift-blind encoder breaks the hash). The
    * oracle restates the old-slice bounds fit, the quantization and
    * clamp arithmetic, the old-slice two-level refit with coverage
    * fallback, the union assignment, the multiprobe ladder and the
    * integer ranking. */
  private val ss18: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val loaded = Clustering.loadTwoLevel(s, twoLevelSavedPath(s, d))
    val newBatch = e.filter($"vec_id" =!= 0 && $"vec_id" % 5 === 1)
    val (path, boundsPath) = quantizedAppendLayout(s, d)
    val (lo, span) = Similarity.loadQuantization(s, boundsPath)
    val qv = queryVec(s, d)
    val served = int8ProbedTopK(s, e, path, loaded, lo, span, qv)
      .select(lit("serve").as("part"), $"id".as("a"), $"qscore".cast("double").as("b"))
    val census = appendedCensus(s, path)
    val clamp = newBatch
      .select(Similarity.clampedDims($"embedding", lo, span).as("nc"))
      .agg(coalesce(sum($"nc".cast("long")), lit(0L)).as("a"),
        coalesce(sum(when($"nc" > 0, 1.0).otherwise(0.0)), lit(0.0)).as("b"))
      .select(lit("clamp").as("part"), $"a", $"b")
    served.unionByName(census).unionByName(clamp).sort($"part", $"a")
  }

  private val compactedLayout = oncePerDataset { (s, d) =>
    val dst = graft.Fs.jvmTempDir("graft_twolevel_compact").resolve("compact").toString
    Clustering.compactCellLayout(s, twoLevelAppendLayout(s, d), dst)
    dst
  }

  /** ss19: COMPACTION of an appended serving layout — the embedding
    * lake-ops ladder's last act (land ss14 → append ss16/ss18 → stream
    * st12 → takedown dd18 → COMPACT), pc34's `compactCopc` precedent at
    * the ANN layouts: a season of appends/epochs leaves every `cell=`
    * directory holding many small files, and the partition-pruned serve
    * pays per-file open/footer costs that grow with INGEST HISTORY
    * instead of data size.
    * [[graft.ops.Clustering.compactCellLayout]] rewrites ss16's
    * appended layout out-of-place into one file per cell (one hash
    * shuffle on the cell key), and this entry serves ss13's multiprobe
    * query + the appended census from the COMPACTED directory —
    * graded with ss16's oracle text verbatim, so compaction must be
    * value-invisible row for row (OpsSpec additionally pins the
    * one-file-per-cell shape and that pruning still fires). */
  private val ss19: Q = (s, d) => {
    val qv = queryVec(s, d)
    val loaded = Clustering.loadTwoLevel(s, twoLevelSavedPath(s, d))
    val path = compactedLayout(s, d)
    twoLevelServeAndCensus(s, path, loaded, qv)
  }

  /** A served top-k as the uniform (part, a, b) rows of the served-layout
    * entries: part 'serve', a = id, b = similarity rounded to 4 places. */
  private def serveRows(topK: DataFrame): DataFrame =
    topK.select(lit("serve").as("part"), $"id".as("a"), round($"sim", 4).as("b"))

  /** ss16/ss19/st12's graded answer over an appended two-level layout:
    * ss13's multiprobe serve plus the [[appendedCensus]]. */
  private[queries] def twoLevelServeAndCensus(s: SparkSession, path: String,
      model: Clustering.TwoLevelModel, qv: Seq[Double]): DataFrame =
    serveRows(Clustering.ivfTopKServedTwoLevel(s, path, model, qv, 5,
        nProbe = Ss13Probe, topCoarse = Ss13Coarse))
      .unionByName(appendedCensus(s, path)).sort($"part", $"a")

  /** The per-cell census of an appended `cell=` layout in the same
    * (part, a, b) schema: part 'cell_N', a = members, b = how many of
    * them are appended-batch rows (id % 5 = 1). */
  private def appendedCensus(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        sum(when($"id" % 5 === 1, 1L).otherwise(0L)).as("nn"))
      .select(concat(lit("cell_"), $"cell").as("part"),
        $"n".as("a"), $"nn".cast("double").as("b"))

  /** ss17/ss18's serve over an int8 `cell=` layout: the multiprobe
    * composite cells prune the scan, the query row (vec_id 0 of `e`)
    * quantizes through the loaded bounds, and the probed rows rank by
    * exact integer dot product, ties to the lowest id — (id, qscore). */
  private def int8ProbedTopK(s: SparkSession, e: DataFrame, path: String,
      model: Clustering.TwoLevelModel, lo: Seq[Double], span: Seq[Double],
      qv: Seq[Double]): DataFrame = {
    val probes = Clustering.twoLevelProbeCells(model, qv, Ss13Probe, Ss13Coarse)
    val qq = e.filter($"vec_id" === 0)
      .select(Similarity.quantizeInt8($"embedding", lo, span).as("qq"))
    s.read.parquet(path)
      .filter($"cell".isin(probes: _*))
      .crossJoin(broadcast(qq))
      .select($"id", Similarity.intDot($"q", $"qq").as("qscore"))
      .sort($"qscore".desc, $"id")
      .limit(Ss17K)
  }

  /** ss06: batched k-NN join — vectors 1..20 each find their top-3
    * LSH-bucket neighbors in the rest of the corpus, in ONE plan (bucket
    * equi-join + per-query window rank). The production shape: no
    * per-query driver round trips. */
  private val ss06: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    Similarity.knnJoin(
        e.filter($"vec_id" >= 1 && $"vec_id" <= 20), e.filter($"vec_id" =!= 0),
        "vec_id", "embedding", 64, 3)
      .select($"qid", $"cid", round($"sim", 4).as("sim"), $"rn")
      .sort($"qid", $"rn")
  }

  // --------------------------------------------------------- text analysis

  /** tx01: per-language token statistics (whitespace + BPE-ish counts) —
    * one fused token_stats pass per document, metrics off the struct. */
  private val tx01: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"lang", TextAnalysis.tokenStats($"text").as("ts"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("docs"),
        sum($"ts.tc").as("tokens"),
        sum($"ts.bpe").as("bpe_tokens"),
        round(avg($"ts.tc"), 2).as("avg_tokens"))
      .sort($"lang")

  /** tx02: per-document quality scores, top 100. */
  private val tx02: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.qualityScore($"text").as("score"))
      .sort($"score".desc, $"doc_id")
      .limit(100)

  /** tx03: marker-word language id vs. the labeled lang column. */
  private val tx03: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"lang", TextAnalysis.langId($"text").as("predicted"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .sort($"lang", $"predicted")

  /** tx04: rolling-hash document fingerprints (oracle-checks the custom
    * codegen expression against a SQL char fold). */
  private val tx04: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .sort($"doc_id")
      .limit(100)

  // ------------------------------------------------------------ multimodal

  /** mm01: binary-payload plumbing — pack text bytes as an opaque payload
    * with typed metadata, run the stubbed decode, surface features. */
  private val mm01: Q = (s, d) => {
    val packed = Multimodal.packPayload(
      Tables.documents(s, d).filter(length($"text") >= 64), "text", "image", "source")
    packed
      .select($"doc_id", $"media_meta.byte_len".as("byte_len"),
        Multimodal.stubDecodeFeatures($"payload").as("f"))
      .select($"doc_id", $"byte_len", $"f.head_sum".as("head_sum"),
        $"f.hist0", $"f.hist1")
      .sort($"doc_id")
      .limit(100)
  }

  /** tx05: character-bigram frequency profile — the n-gram statistics
    * layer under language/quality heuristics. */
  private val tx05: Q = (s, d) =>
    Tables.fanOut(Tables.documents(s, d))
      .select(explode(graft.functions.exprs.char_ngrams($"text", 2)).as("bg"))
      .groupBy($"bg")
      .agg(count(lit(1)).as("n"))
      .sort($"n".desc, $"bg")
      .limit(20)

  /** tx06: Gopher-style repetition metrics — per-doc duplicate-bigram
    * fraction and top-bigram share; a repetition filter drops docs
    * above threshold before training. */
  private val tx06: Q = (s, d) =>
    TextAnalysis.repetitionMetrics(Tables.documents(s, d), "doc_id", "text")
      .sort($"doc_id")
      .limit(200)

  /** tx07: corpus document-frequency — words present in ≥ 40% of all
    * documents (data-driven stopword/boilerplate discovery). */
  private val tx07: Q = (s, d) =>
    TextAnalysis.documentFrequency(Tables.documents(s, d), "doc_id", "text")
      .filter($"df_frac" >= 0.4) // unrounded, same predicate as the oracle
      .select($"word", $"df", round($"df_frac", 4).as("df_frac"))
      .sort($"df".desc, $"word")

  /** tx08: the end-to-end curation pipeline — what a training-data run
    * actually ships. Near-dup cluster members (MinHash-LSH → connected
    * components, non-representatives) are removed, then documents must
    * pass the quality score (≥ 0.5) and the repetition filter
    * (dup2f ≤ 0.3); the output is the per-language census of the final
    * corpus with its token counts. Every stage reuses the shared
    * operators, so the oracle is their formulas composed. */
  private val tx08: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8)
    val dropped = Dedup.connectedComponents(pairs)
      .filter($"member" =!= $"rep").select($"member")
    val rep = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .select($"doc_id".as("rid"), $"dup2f")
    docs.join(dropped, docs("doc_id") === dropped("member"), "left_anti")
      .withColumn("ts", TextAnalysis.tokenStats($"text"))
      .withColumn("score", TextAnalysis.qualityScoreFromStats($"ts"))
      .join(rep, $"doc_id" === $"rid")
      .filter($"score" >= 0.5 && $"dup2f" <= 0.3)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ts".getField("tc").cast("bigint")).as("tokens"))
      .sort($"lang")
  }

  /** tx09: deterministic training-mix sampling — per-language quotas
    * (en kept at 80%, everything else 30%) via the shared rolling hash,
    * then the census of the sampled mix. Reproducible by construction:
    * the oracle recomputes membership from the same hash. */
  private final val Tx09Quotas = Map("en" -> 80)
  private final val Tx09Default = 30
  private final val Tx09Salt = "mix1"
  private val tx09: Q = (s, d) =>
    TextAnalysis.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
        Tx09Quotas, Tx09Default, Tx09Salt)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens($"text")).cast("bigint")).as("tokens"))
      .sort($"lang")

  /** tx10's context length (real BPE tokens per training sequence). */
  private final val Tx10Ctx = 512L

  /** tx10: sequence packing — the concat-and-chunk layout step that
    * turns a curated corpus into fixed-length training sequences
    * ([[graft.ops.TextAnalysis.packSequences]]). Documents are packed
    * per `source` shard (sequences never span shards; one window = one
    * shuffle, parallel across shards — never a whole-corpus order), and
    * the result is the per-sequence census: how many documents start in
    * each 512-token window and their summed token count. Counts are the
    * REAL merge-table BPE ([[graft.ops.TextAnalysis.bpeCount]]) — the
    * number the layout actually keys off — and the oracle replays the
    * identical prefix-sum arithmetic over the recursive-CTE restatement
    * of the same merge loop (tx11 pins it per-token). */
  private val tx10: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select($"source", $"doc_id", TextAnalysis.bpeCount($"text").as("bpe"))
    TextAnalysis.packSequences(toks, "source", "doc_id", "bpe", Tx10Ctx)
      .groupBy($"source", $"seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"bpe").as("tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .sort($"source", $"seq_id")
  }

  /** tx11: REAL merge-table BPE census — per-language document count,
    * summed token count from the fused count kernel, the same sum
    * re-derived from the token-id array kernel (pinning count ==
    * ids.length corpus-wide), and the max per-document count. The
    * oracle restates the merge loop itself as a recursive CTE over the
    * distinct words (lowest-rank pair, leftmost occurrence, iterate to
    * fixpoint — the exact contract in [[graft.functions.BpeTable]]), so
    * the two sides are independent implementations of the same
    * algorithm, not a shared shortcut. */
  private val tx11: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"lang", TextAnalysis.bpeCount($"text").as("n_bpe"),
        TextAnalysis.bpeTokenIds($"text").as("ids"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        sum($"n_bpe").as("bpe_tokens"),
        sum(size($"ids").cast("long")).as("bpe_tokens_ids"),
        max($"n_bpe").as("max_doc_tokens"))
      .sort($"lang")

  /** tx12: corpus token-frequency census over the REAL BPE token-id
    * stream — explode the id arrays, count, broadcast-join the id→token
    * vocab, top 25. Grades the id assignment ('a'..'z' → 0..25, merge
    * rank r → 26+r) and the merge loop per token, not just per count.
    * Unknown characters (id -1) are EXCLUDED from the census by
    * contract on both sides — they carry no vocab string to rank (tx01
    * and tx14 are where unknown content surfaces); the explicit filter
    * keeps that true for any corpus, not just a-z-only text. */
  private val tx12: Q = (s, d) => {
    val vocab = s.createDataFrame(graft.functions.BpeVocab.Tokens)
      .toDF("tid", "token")
    Tables.documents(s, d)
      .select(explode(TextAnalysis.bpeTokenIds($"text")).as("tid"))
      .filter($"tid" =!= -1)
      .groupBy($"tid").agg(count(lit(1)).as("n"))
      .join(broadcast(vocab), "tid")
      .select($"tid", $"token", $"n")
      .sort($"n".desc, $"token")
      .limit(25)
  }

  /** tx13's model size cap — small enough to actually CUT the fixture
    * corpus's bigram vocabulary (so coverage varies per document), and
    * the broadcast-bound contract at scale. */
  private[queries] final val Tx13TopK = 400

  /** tx13: CCNet-style LM quality scoring — a bigram language model is
    * trained on the trusted slice (lang = 'en' documents), capped to the
    * [[Tx13TopK]] most frequent bigrams (the model stays broadcastable
    * no matter the reference size), and every document is scored by
    * coverage against it ([[graft.ops.TextAnalysis.lmCoverage]]):
    * integer-exact stand-ins for the perplexity a production filter
    * thresholds on. Census per language: documents, total/known bigram
    * occurrences, model mass, and how many documents fall under 50%
    * coverage (the would-be-filtered count; at the fixture's vocabulary
    * the half-coverage line genuinely splits each language). Ties at the
    * model's LIMIT boundary are name-broken, so both engines cut the
    * same 400 rows. */
  private val tx13: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val model = TextAnalysis.bigramLmModel(
      docs.filter($"lang" === "en"), "text", Tx13TopK)
    TextAnalysis.lmCoverage(docs, model, "doc_id", "text", "lang")
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        sum($"n_bigrams").as("bigrams"),
        sum($"n_known").as("known"),
        sum($"mass").as("mass"),
        sum(when($"n_known" * 2 < $"n_bigrams", 1L).otherwise(0L))
          .as("low_coverage_docs"))
      .sort($"lang")
  }

  /** tx14: detokenization round trip — every document is tokenized with
    * the real merge-table BPE and decoded back
    * ([[graft.ops.TextAnalysis.bpeDecode]]); the reconstruction is
    * compared AGAINST THE TEXT ITSELF (space-free: the fixture vocab
    * carries no word-boundary token, see
    * [[graft.functions.BpeUtil.decode]]), while the oracle PREDICTS
    * analytically which documents must round-trip (exactly those made of
    * letters and spaces — anything else encodes an unknown -1 id, which
    * strict decode nulls). A second decode over a deliberately corrupted
    * id stream (id 9999 appended per row) pins the strict-null path at
    * runtime on every row, mm03-junk style. */
  private val tx14: Q = (s, d) => {
    val decoded = TextAnalysis.bpeDecode(TextAnalysis.bpeTokenIds($"text"))
    val corrupt = TextAnalysis.bpeDecode(
      concat(TextAnalysis.bpeTokenIds($"text"), array(lit(9999))))
    Tables.documents(s, d)
      .select($"lang", $"text", decoded.as("dec"), corrupt.as("cor"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        // coalesce: a lang whose every document fails the round trip
        // sums all-NULL → NULL, but the oracle's CASE-sum says 0
        coalesce(sum(length($"dec").cast("long")), lit(0L)).as("chars"),
        sum(when($"dec" === regexp_replace($"text", " ", ""), 1L)
          .otherwise(0L)).as("roundtrips"),
        sum(when($"cor".isNull, 1L).otherwise(0L)).as("corrupt_nulls"))
      .sort($"lang")
  }

  /** tx15's mix-plan constants: per-language target shares (percent of
    * the epoch budget; they sum to 100) and the budget itself as a
    * percent of the corpus's real BPE token inventory. */
  private final val Tx15Shares =
    Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)
  private final val Tx15BudgetPct = 50

  /** tx15: token-budget mix planning — the arithmetic step between
    * counting (tx11) and sampling (tx09): given each language's REAL
    * BPE token inventory, a target mix, and an epoch budget (50% of the
    * corpus), derive the planned draw `planned = min(avail,
    * budget·share/100)`, the sampling rate to apply, and the deficit
    * when an inventory undershoots its target — surfaced, not silently
    * rebalanced, because reallocating tokens across languages is the
    * pipeline owner's call. Integer arithmetic end to end (budget and
    * targets via integer division; one rounded ratio at the edge), so
    * the plan is engine-exact. Scale: a one-agg census + a 5-row
    * broadcast — free at any corpus size; the expensive input (real BPE
    * counts) is the same single text pass tx11 grades. */
  private val tx15: Q = (s, d) => {
    val avail = Tables.documents(s, d)
      .select($"lang", TextAnalysis.bpeCount($"text").as("bpe"))
      .groupBy($"lang").agg(sum($"bpe").as("avail"))
    val total = avail.agg(sum($"avail").as("total"))
    val share = Tx15Shares.foldLeft(lit(0)) { case (acc, (l, p)) =>
      when($"lang" === l, lit(p)).otherwise(acc)
    }
    avail.crossJoin(broadcast(total))
      .withColumn("share", share)
      .withColumn("target",
        expr(s"((total * $Tx15BudgetPct) div 100 * share) div 100"))
      .select($"lang", $"avail", $"target",
        least($"avail", $"target").as("planned"),
        round(least($"avail", $"target").cast("double") / $"avail", 4).as("rate"),
        ($"target" - least($"avail", $"target")).as("deficit"))
      .sort($"lang")
  }

  /** tx16's deterministic PII injection — the corpus has no digits, '@'
    * or uppercase (pinned by the base-clean census columns), so every
    * detection is attributable to the injection and the expected counts
    * are pure doc_id arithmetic. Both engines build the SAME augmented
    * text. Seven families, one per [[TextAnalysis.PiiPatterns]] entry,
    * on PAIRWISE-COPRIME moduli (3, 4, 5, 7, 11, 13, 17) so by CRT
    * every one of the 2^7 presence combinations occurs in a
    * large-enough corpus — in particular card-without-email docs exist,
    * exercising the card regex on a text no earlier scrub touched. */
  private def tx16Inject(text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text,
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@mail.example")))
        .otherwise(lit("")),
      when(id % 4 === 1,
        concat(lit(" call +1-555-"), (id % 10000).cast("string")))
        .otherwise(lit("")),
      when(id % 5 === 2,
        concat(lit(" from 10."), (id % 256).cast("string"), lit(".0.1")))
        .otherwise(lit("")),
      when(id % 7 === 3,
        concat(lit(" card 4111-"), lpad((id % 10000).cast("string"), 4, "0"),
          lit("-2222-"), lpad(((id * 3) % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 11 === 4,
        concat(lit(" iban DE"), lpad((id % 100).cast("string"), 2, "0"),
          lit("BANK"), lpad((id % 1000000).cast("string"), 10, "0")))
        .otherwise(lit("")),
      when(id % 13 === 5,
        concat(lit(" ssn "), lpad((id % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((id % 100).cast("string"), 2, "0"),
          lit("-"), lpad((id % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(id % 17 === 6,
        concat(lit(" ring +44-20-"), lpad((id % 10000000).cast("string"), 7, "0")))
        .otherwise(lit("")))

  /** tx16: PII detection + redaction census
    * ([[graft.ops.TextAnalysis.piiCounts]]/[[piiScrub]]) — the
    * compliance scrub a training corpus runs before anything ships:
    * emails, NANP and UK-style phone numbers, dotted-quad IPs, 16-digit
    * card shapes, IBAN shapes and SSN-shaped government ids are counted
    * and replaced with redaction tokens,
    * entirely row-locally (codegen'd regexes, no shuffle until the one
    * census hash-agg). Census columns are GENERATED from
    * [[TextAnalysis.PiiPatterns]] (name + "s"), so adding a pattern
    * family extends this entry and its oracle mechanically. PII is
    * INJECTED deterministically from doc_id (the driver corpus carries
    * none — a base_hits count pins that assumption every run), so the
    * oracle knows exactly what must be found; `clean_chars` grades the
    * redacted text's length, pinning that replacement happened and
    * nothing else changed. */
  private val tx16: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select($"lang", $"text", tx16Inject($"text", $"doc_id").as("itext"))
    val counts = TextAnalysis.piiCounts($"itext")
    val injected = docs.select(
      $"lang" +:
        counts.map { case (n, c) => c.as(n + "s") } :+
        length(TextAnalysis.piiScrub($"itext")).as("clean_len") :+
        TextAnalysis.piiCounts($"text").map(_._2).reduce(_ + _).as("base_hits"): _*)
    val perPattern =
      counts.map { case (n, _) => sum(col(n + "s").cast("long")).as(n + "s") }
    injected.groupBy($"lang")
      .agg(count(lit(1)).as("docs"),
        perPattern ++ Seq(
          sum(when(counts.map { case (n, _) => col(n + "s") }.reduce(_ + _) > 0,
            1L).otherwise(0L)).as("redacted_docs"),
          sum($"clean_len".cast("long")).as("clean_chars"),
          sum($"base_hits".cast("long")).as("base_hits")): _*)
      .sort($"lang")
  }

  /** mm03: REAL binary decode in the scan pipeline — each document gets a
    * well-formed PNG header payload (dimensions derived from doc_id), and
    * the graft_png_ihdr codegen expression parses width/height/bit-depth/
    * color-type back out of the big-endian bytes; a junk payload decodes
    * to null rather than failing the job. The oracle states the expected
    * dimensions arithmetically, so any drift in the byte layout OR the
    * parser breaks the hash match. Real-PNG decoding (ImageIO goldens)
    * is pinned by OpsSpec. */
  private val mm03: Q = (s, d) => {
    val dims = Tables.documents(s, d).select($"doc_id",
      (lit(16) + $"doc_id" % 64).cast("int").as("w"),
      (lit(16) + ($"doc_id" * 7) % 64).cast("int").as("h"),
      lit(8).as("bd"),
      when($"doc_id" % 2 === 0, 2).otherwise(6).as("ct"))
    val payload = Multimodal.pngIhdrBytes($"w", $"h", $"bd", $"ct")
    dims
      .select($"doc_id",
        graft.functions.exprs.png_ihdr(payload).as("f"),
        // per-row corruption (truncated mid-IHDR), NOT a foldable literal:
        // every row exercises the decoder's reject path at runtime
        graft.functions.exprs.png_ihdr(substring(payload, 1, 20))
          .isNull.as("rejects_junk"))
      .select($"doc_id", $"f.width".as("width"), $"f.height".as("height"),
        $"f.bit_depth".as("bit_depth"), $"f.color_type".as("color_type"),
        $"rejects_junk")
      .sort($"doc_id")
      .limit(200)
  }

  /** mm04: REAL pixel decode through the batch seam — each document gets
    * a solid-colour PNG (dimensions and colour derived from doc_id,
    * encoded via ImageIO), and [[graft.ops.Multimodal.imageBatchDecode]]
    * decodes it back with `ImageIO.read` inside
    * [[graft.ops.Multimodal.decodeImages]], emitting width/height/pixel
    * count/per-channel means. PNG is lossless and the colour is solid,
    * so every output value is pure arithmetic in doc_id — the oracle
    * restates it without touching an image library; any drift in the
    * encoder, the codec round-trip, or the pixel loop breaks the hash.
    * The whole path is partition-local (encode map → batched decode):
    * no shuffle, so it scales with input splits. doc_id < 400 bounds
    * the fixture cost, not the operator. */
  private val mm04: Q = (s, d) => {
    val dims = Tables.documents(s, d).filter($"doc_id" < 400).select($"doc_id",
      (lit(4) + $"doc_id" % 13).cast("int").as("w"),
      (lit(3) + ($"doc_id" * 5) % 11).cast("int").as("h"),
      ($"doc_id" % 256).cast("int").as("r"),
      (($"doc_id" * 3) % 256).cast("int").as("g"),
      (($"doc_id" * 7) % 256).cast("int").as("b"))
    val packed = Multimodal.encodeSolidPngs(dims, "doc_id", "w", "h", "r", "g", "b")
    Multimodal.decodeImages(packed, "doc_id", "payload", 64)
      .select($"id".as("doc_id"), $"width", $"height", $"px",
        $"r_mean", $"g_mean", $"b_mean")
      .sort($"doc_id")
  }

  /** mm05: multi-codec decode DISPATCH through the same batch seam —
    * the corpus mixes solid-colour PNG, BMP and GIF payloads (codec by
    * doc_id % 3; all three are lossless for a solid colour, GIF via an
    * exact-palette indexed image), and ONE
    * [[graft.ops.Multimodal.decodeImagesFmt]] pass decodes all of them,
    * emitting the format name of the codec ImageIO's content sniffing
    * dispatched to. The oracle restates the stats arithmetically plus a
    * CASE on doc_id % 3 for the format — proving the seam is
    * codec-agnostic, not a PNG-only path. Partition-local like mm04. */
  private val mm05: Q = (s, d) => {
    val dims = Tables.documents(s, d).filter($"doc_id" < 300).select($"doc_id",
      element_at(array(lit("png"), lit("bmp"), lit("gif")),
        ($"doc_id" % 3).cast("int") + 1).as("fmt"),
      (lit(4) + $"doc_id" % 13).cast("int").as("w"),
      (lit(3) + ($"doc_id" * 5) % 11).cast("int").as("h"),
      ($"doc_id" % 256).cast("int").as("r"),
      (($"doc_id" * 3) % 256).cast("int").as("g"),
      (($"doc_id" * 7) % 256).cast("int").as("b"))
    val packed = Multimodal.encodeSolidImages(
      dims, "doc_id", "fmt", "w", "h", "r", "g", "b")
    Multimodal.decodeImagesFmt(packed, "doc_id", "payload", 64)
      .select($"id".as("doc_id"), $"fmt", $"width", $"height", $"px",
        $"r_mean", $"g_mean", $"b_mean")
      .sort($"doc_id")
  }

  /** mm09's frame width (samples per analysis frame). */
  private[queries] final val Mm09FrameLen = 25

  /** mm09: framewise audio featurization — the step after decode in an
    * audio pipeline: mm06's WAV fixtures are decoded and cut into
    * [[Mm09FrameLen]]-sample frames, each yielding exact integer energy,
    * peak, and within-frame zero-crossing count
    * ([[graft.ops.Multimodal.frameAudio]]). The oracle regenerates the
    * tone wave arithmetically and re-derives every frame's statistics
    * including the sign-change census; the trailing partial frame is
    * dropped on both sides. Partition-local end to end. */
  private val mm09: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter($"doc_id" < 300).select($"doc_id")
    val packed = Multimodal.encodeToneWavs(docs, "doc_id")
    Multimodal.frameAudio(packed, "doc_id", "payload", 64, Mm09FrameLen)
      .select($"id".as("doc_id"), $"frame", $"n", $"sum_abs", $"peak", $"crossings")
      .sort($"doc_id", $"frame")
  }

  /** mm06: REAL audio decode through the batch seam — each document gets
    * a hand-laid canonical RIFF/PCM16 WAV (mono; sample count, rate and
    * every sample value derived from doc_id via
    * [[graft.ops.Multimodal.toneSample]]), and
    * [[graft.ops.Multimodal.audioBatchDecode]] parses it back with the
    * JDK's own WAV reader (`AudioSystem.getAudioInputStream`), emitting
    * rate/channels/frame count and exact integer sample statistics
    * (sum of |sample|, peak). PCM is lossless and every value integer,
    * so the oracle restates the output as pure arithmetic in doc_id —
    * any drift in the RIFF layout, the JDK parse, or the sample loop
    * breaks the hash. Partition-local (encode map → batched decode),
    * no shuffle; doc_id < 300 bounds the fixture cost, not the operator. */
  private val mm06: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter($"doc_id" < 300).select($"doc_id")
    val packed = Multimodal.encodeToneWavs(docs, "doc_id")
    Multimodal.decodeAudio(packed, "doc_id", "payload", 64)
      .select($"id".as("doc_id"), $"sample_rate", $"channels",
        $"n_samples", $"sum_abs", $"peak")
      .sort($"doc_id")
  }

  /** mm07: REAL resize through the batch seam — solid-colour PNGs are
    * decoded, nearest-neighbor rescaled to per-row target dims
    * ([[graft.ops.Multimodal.resizeImages]]), re-encoded, and the
    * resized payloads flow through the SAME decode operator as mm04.
    * A solid colour survives any resampling exactly (every output pixel
    * is a copied input pixel) and PNG re-encode is lossless, so the
    * final stats are pure arithmetic: target dims + the original
    * colour. Grades the decode→transform→re-encode→decode chain a
    * thumbnail/normalize pipeline runs, with both codec passes real.
    * Partition-local end to end. */
  private val mm07: Q = (s, d) => {
    // target dims are functions of doc_id (shared with the oracle), so
    // they re-derive from the encoded frame's id — no join to carry them
    // through the encode seam, keeping the chain partition-local
    def twExpr = (lit(3) + $"doc_id" % 9).cast("int")
    def thExpr = (lit(2) + ($"doc_id" * 3) % 7).cast("int")
    val dims = Tables.documents(s, d).filter($"doc_id" < 300).select($"doc_id",
      (lit(4) + $"doc_id" % 13).cast("int").as("w"),
      (lit(3) + ($"doc_id" * 5) % 11).cast("int").as("h"),
      ($"doc_id" % 256).cast("int").as("r"),
      (($"doc_id" * 3) % 256).cast("int").as("g"),
      (($"doc_id" * 7) % 256).cast("int").as("b"))
    val packed = Multimodal.encodeSolidPngs(dims, "doc_id", "w", "h", "r", "g", "b")
      .select($"doc_id", $"payload", twExpr.as("tw"), thExpr.as("th"))
    val resized = Multimodal.resizeImages(packed, "doc_id", "payload", "tw", "th", 64)
    Multimodal.decodeImages(resized, "doc_id", "payload", 64)
      .select($"id".as("doc_id"), $"width", $"height", $"px",
        $"r_mean", $"g_mean", $"b_mean")
      .sort($"doc_id")
  }

  /** mm08: JPEG through the SAME dispatch seam as mm05 — the codec
    * family a real crawl corpus is mostly made of. JPEG is lossy, so
    * pixel arithmetic can't be oracled; the graded surface is what
    * survives lossy encode exactly: the sniffed format name, the
    * dimensions, and junk REJECTION (every 7th row carries the
    * document's text bytes as its payload — no codec claims them, so
    * the row drops, costing one row and never the job). The oracle
    * restates dims arithmetically and omits the junk rows. */
  private val mm08: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter($"doc_id" < 300)
    val dims = docs.filter($"doc_id" % 7 =!= 0).select($"doc_id",
      lit("jpg").as("fmt"),
      (lit(8) + $"doc_id" % 17).cast("int").as("w"),
      (lit(5) + ($"doc_id" * 3) % 13).cast("int").as("h"),
      lit(96).as("r"), lit(128).as("g"), lit(160).as("b"))
    val good = Multimodal.encodeSolidImages(
      dims, "doc_id", "fmt", "w", "h", "r", "g", "b")
    val junk = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", encode($"text", "UTF-8").cast("binary").as("payload"))
    val packed = good.unionByName(junk)
    Multimodal.decodeImagesFmt(packed, "doc_id", "payload", 64)
      .select($"id".as("doc_id"), $"fmt", $"width", $"height")
      .sort($"doc_id")
  }

  /** mm10's fixture block scale (each luma-grid cell is a 3×3 pixel
    * block, so the hasher's downsample does real work) and the pattern
    * group width: doc_id % 50 seeds the pattern, giving ~6-member
    * exact-duplicate groups in the 300-doc slice. */
  private[queries] final val Mm10Scale = 3
  private[queries] final val Mm10Groups = 50

  /** mm10: perceptual-hash image dedup — the IMAGE near-dup screen a
    * multimodal corpus runs (the visual twin of dd01/dd03): patterned
    * PNG fixtures (pattern seed doc_id % 50, so distinct docs carry
    * pixel-identical images) flow through the REAL codec path
    * ([[graft.ops.Multimodal.dhashImages]]: ImageIO decode →
    * nearest-neighbor downsample → 56-bit dHash), then ONE hash
    * aggregate on the hash buckets the corpus into duplicate groups
    * with a min-id survivor — the same survivor rule as the text dedup
    * family. Fully partition-local until that single constant-width
    * shuffle. PNG is lossless and the pattern deterministic, so the
    * oracle re-derives every hash bit arithmetically from doc_id; a
    * drift in the encoder, the codec round trip, the downsample
    * geometry, or the bit layout breaks the hash match. */
  private val mm10: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter($"doc_id" < 300)
      .select($"doc_id", ($"doc_id" % Mm10Groups).as("base"))
    val packed = Multimodal.encodePatternPngs(docs, "doc_id", "base", Mm10Scale)
    Multimodal.dhashImages(packed, "doc_id", "payload", 64)
      .groupBy($"dhash")
      .agg(min($"id").as("survivor"), count(lit(1)).as("n_dups"))
      .select($"survivor", $"dhash", $"n_dups")
      .sort($"survivor")
  }

  /** mm02: frame-sampling pipeline — every 10th document's payload,
    * aggregated per language (the video frame-sample shape on rows). */
  private val mm02: Q = (s, d) =>
    Multimodal.sampleEvery(Tables.documents(s, d), "doc_id", 10)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(length($"text").cast("bigint")).as("bytes"))
      .sort($"lang")

  val queries: Map[String, Q] = Map(
    "dd01_exact_dedup" -> dd01,
    "dd02_prefix_dedup" -> dd02,
    "dd03_minhash_lsh" -> dd03,
    "dd04_exact_jaccard" -> dd04,
    "dd05_simhash" -> dd05,
    "dd06_embedding_cosine" -> dd06,
    "dd07_dedup_clusters" -> dd07,
    "dd08_dedup_filtered" -> dd08,
    "dd09_incremental_dedup" -> dd09,
    "dd10_blocked_embedding" -> dd10,
    "dd11_containment" -> dd11,
    "dd12_semantic_dedup" -> dd12,
    "dd13_decontaminate" -> dd13,
    "dd14_span_dedup" -> dd14,
    "dd15_span_trim" -> dd15,
    "dd16_twolevel_semantic" -> dd16,
    "dd17_twolevel_persisted" -> dd17,
    "dd18_takedown" -> dd18,
    "ss01_cosine_topk" -> ss01,
    "ss02_lsh_histogram" -> ss02,
    "ss03_ann_topk" -> ss03,
    "ss04_ivf_topk" -> ss04,
    "ss05_multiprobe_topk" -> ss05,
    "ss06_knn_join" -> ss06,
    "ss07_ivf_served" -> ss07,
    "ss08_ann_recall" -> ss08,
    "ss09_quantized_ann" -> ss09,
    "ss10_filtered_ann" -> ss10,
    "ss11_ivf_persisted" -> ss11,
    "ss12_ivf_append" -> ss12,
    "ss13_twolevel_topk" -> ss13,
    "ss14_twolevel_served" -> ss14,
    "ss15_twolevel_recall" -> ss15,
    "ss16_twolevel_append" -> ss16,
    "ss17_twolevel_quantized" -> ss17,
    "ss18_quantized_append" -> ss18,
    "ss19_layout_compact" -> ss19,
    "tx01_token_stats" -> tx01,
    "tx02_quality_score" -> tx02,
    "tx03_langid" -> tx03,
    "tx04_fingerprint" -> tx04,
    "tx05_char_ngrams" -> tx05,
    "tx06_repetition" -> tx06,
    "tx07_doc_frequency" -> tx07,
    "tx08_curation" -> tx08,
    "tx09_train_mix" -> tx09,
    "tx10_sequence_packing" -> tx10,
    "tx11_bpe_census" -> tx11,
    "tx12_bpe_token_freq" -> tx12,
    "tx13_lm_quality" -> tx13,
    "tx14_bpe_roundtrip" -> tx14,
    "tx15_mix_plan" -> tx15,
    "tx16_pii_scrub" -> tx16,
    "mm01_multimodal_stub" -> mm01,
    "mm02_frame_sampling" -> mm02,
    "mm03_png_decode" -> mm03,
    "mm04_image_decode" -> mm04,
    "mm05_codec_dispatch" -> mm05,
    "mm08_jpeg_dispatch" -> mm08,
    "mm06_audio_decode" -> mm06,
    "mm09_audio_frames" -> mm09,
    "mm07_image_resize" -> mm07,
    "mm10_phash_dedup" -> mm10,
  )

  // ------------------------------------------------------------- oracles

  /** Rolling hash of a string expression as a DuckDB char fold — the SQL
    * twin of graft.functions.HashUtil.rollingHash. */
  private def sqlRollingHash(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"[CAST(ascii(c) AS BIGINT) FOR c IN string_split($expr, '')]), " +
      s"(acc, x) -> (acc * 31 + x) % ${Dedup.Prime})"

  /** Distinct word-n-gram shingles CTE over documents. */
  private def sqlDocsShingles: String = {
    val n = Dedup.ShingleSize
    s"""docs AS (
       |  SELECT doc_id AS id,
       |    list_distinct([array_to_string(w[i:i+${n - 1}], ' ')
       |                   FOR i IN generate_series(1, len(w) - ${n - 1})]) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= $n
       |)""".stripMargin
  }

  private def sqlJaccard(a: String, b: String): String =
    s"len(list_intersect($a, $b)) * 1.0 / len(list_distinct($a || $b))"

  /** WITH-RECURSIVE clause fragment restating the BPE merge loop
    * ([[graft.functions.BpeTable]]'s contract: lowest-rank pair,
    * LEFTMOST occurrence, one merge per iteration, to fixpoint) over the
    * corpus's distinct words. Merges come from the SAME
    * [[graft.functions.BpeVocab.Merges]] constant the kernel uses, but
    * the loop itself is re-implemented in SQL: the word is a
    * '/'-separated token string and one iteration replaces the FIRST
    * occurrence of '/a/b/' with '/ab/' (regexp_replace without the 'g'
    * flag) for the minimum applicable rank — exactly leftmost-single.
    * Defines `bpe_final(word, seq, n_tok)` and the per-document rollup
    * `bpe_doc(doc_id, bpe)` (LEFT JOIN so wordless documents keep 0).
    * Callers must open with `WITH RECURSIVE`. */
  private def bpeOracleCtes: String =
    s"""merges(rank, a, b) AS (
       |  SELECT * FROM (VALUES ${graft.functions.BpeVocab.mergesSqlValues}) m(rank, a, b)
       |),
       |bpe_words AS (
       |  SELECT DISTINCT word FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |  ) WHERE word <> ''
       |),
       |bpe_iter(word, seq) AS (
       |  SELECT word, '/' || array_to_string(string_split(word, ''), '/') || '/'
       |  FROM bpe_words
       |  UNION ALL
       |  SELECT b.word,
       |    regexp_replace(b.seq, '/' || m.a || '/' || m.b || '/',
       |                   '/' || m.a || m.b || '/')
       |  FROM bpe_iter b
       |  JOIN merges m ON m.rank = (
       |    SELECT min(m2.rank) FROM merges m2
       |    WHERE contains(b.seq, '/' || m2.a || '/' || m2.b || '/'))
       |),
       |bpe_final AS (
       |  SELECT word, seq,
       |    length(seq) - length(replace(seq, '/', '')) - 1 AS n_tok
       |  FROM bpe_iter
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE contains(seq, '/' || m.a || '/' || m.b || '/'))
       |),
       |bpe_doc AS (
       |  SELECT d.doc_id, COALESCE(s.bpe, 0) AS bpe
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, CAST(SUM(f.n_tok) AS BIGINT) AS bpe FROM (
       |      SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |      FROM documents
       |    ) e JOIN bpe_final f USING (word)
       |    WHERE e.word <> '' GROUP BY doc_id
       |  ) s USING (doc_id)
       |)""".stripMargin

  /** CTE chain from documents to exploded `(id, band, key)` LSH buckets —
    * the shared prefix of every MinHash oracle; [[minhashCtes]] appends
    * the candidate/verify tail, StreamingQueries' st07 gates on the
    * buckets directly. */
  private[queries] def bandExplodedCtes: String = {
    val sigExprs = (0 until Dedup.NumHashes).map { i =>
      s"list_min(list_transform(hh, h -> (${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % ${Dedup.Prime}))"
    }.mkString(",\n      ")
    val bandExprs = (0 until Dedup.Bands).map { j =>
      val lo = j * Dedup.RowsPerBand + 1
      val hi = (j + 1) * Dedup.RowsPerBand
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), sig[$lo:$hi]), (acc, x) -> (acc * 31 + x) % ${Dedup.Prime})"
    }.mkString(",\n      ")
    s"""$sqlDocsShingles,
       |hashed AS (
       |  SELECT id, list_transform(sh, s -> ${sqlRollingHash("s")}) AS hh FROM docs
       |),
       |sigs AS (
       |  SELECT id, hh, [
       |      $sigExprs] AS sig
       |  FROM hashed
       |),
       |bands AS (
       |  SELECT id, [
       |      $bandExprs] AS bk
       |  FROM sigs
       |),
       |exploded AS (
       |  SELECT id, unnest(generate_series(0, ${Dedup.Bands - 1})) AS band, unnest(bk) AS key
       |  FROM bands
       |)""".stripMargin
  }

  /** Shared CTE chain reproducing the MinHash-LSH candidate pipeline;
    * ends with `verified(id_a, id_b, j)` at the given threshold. */
  private def minhashCtes(threshold: Double,
      pairPred: String = "a.id < b.id"): String = {
    s"""$bandExplodedCtes,
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM exploded a JOIN exploded b
       |    ON a.band = b.band AND a.key = b.key AND $pairPred
       |),
       |verified AS (
       |  SELECT c.id_a, c.id_b, ${sqlJaccard("x.hh", "y.hh")} AS j
       |  FROM cand c JOIN hashed x ON c.id_a = x.id JOIN hashed y ON c.id_b = y.id
       |  WHERE ${sqlJaccard("x.hh", "y.hh")} >= $threshold
       |)""".stripMargin
  }

  private val dd03Oracle: String =
    s"""WITH ${minhashCtes(0.8)}
       |SELECT id_a, id_b, ROUND(j, 4) AS j FROM verified
       |ORDER BY id_a, id_b""".stripMargin

  /** dd09: cross-set (new ≥ 250 vs old < 250) LSH screening. */
  private val dd09Oracle: String =
    s"""WITH ${minhashCtes(0.8, "a.id >= 250 AND b.id < 250")}
       |SELECT id_a AS new_id, id_b AS old_id, ROUND(j, 4) AS j FROM verified
       |ORDER BY new_id, old_id""".stripMargin

  /** dd07: connected components over the verified pair graph via a
    * recursive transitive-closure CTE; rep = min reachable id. */
  private val dd07Oracle: String =
    s"""WITH RECURSIVE ${minhashCtes(0.8)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM verified
       |  UNION ALL
       |  SELECT id_b, id_a FROM verified
       |),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS label FROM edges
       |  UNION
       |  SELECT e.src AS id, r.label FROM reach r JOIN edges e ON e.dst = r.id
       |)
       |SELECT MIN(label) AS rep, id AS member FROM reach
       |GROUP BY id ORDER BY rep, member""".stripMargin

  /** dd08: the kept corpus after dropping non-representative members. */
  private val dd08Oracle: String =
    s"""WITH RECURSIVE ${minhashCtes(0.8)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM verified
       |  UNION ALL
       |  SELECT id_b, id_a FROM verified
       |),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS label FROM edges
       |  UNION
       |  SELECT e.src AS id, r.label FROM reach r JOIN edges e ON e.dst = r.id
       |),
       |clusters AS (
       |  SELECT MIN(label) AS rep, id AS member FROM reach GROUP BY id
       |)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT member FROM clusters WHERE member <> rep)
       |ORDER BY doc_id""".stripMargin

  /** tx08: dd08's cluster CTEs + tx02's quality formula + tx06's
    * repetition formula, composed — thresholds applied to the same
    * ROUNDed values on both engines so the boundary can't drift. */
  private val tx08Oracle: String =
    s"""WITH RECURSIVE ${minhashCtes(0.8)},
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM verified
       |  UNION ALL
       |  SELECT id_b, id_a FROM verified
       |),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS label FROM edges
       |  UNION
       |  SELECT e.src AS id, r.label FROM reach r JOIN edges e ON e.dst = r.id
       |),
       |clusters AS (
       |  SELECT MIN(label) AS rep, id AS member FROM reach GROUP BY id
       |),
       |tq AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |), m AS (
       |  SELECT doc_id, lang,
       |    len(w) AS tc,
       |    ${sqlStopwordCount("w")} AS sc,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(w, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS cl
       |  FROM tq
       |), scored AS (
       |  SELECT doc_id, lang, tc, ${sqlQualityScore("tc", "sc", "cl")} AS score
       |  FROM m
       |), bg AS (
       |  SELECT doc_id, unnest([ws[k] || ' ' || ws[k+1]
       |    FOR k IN generate_series(1, len(ws) - 1)]) AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |), bc AS (
       |  SELECT doc_id, g, COUNT(*) AS cnt FROM bg GROUP BY doc_id, g
       |), repf AS (
       |  SELECT doc_id, ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS dup2f
       |  FROM bc GROUP BY doc_id
       |)
       |SELECT s.lang, COUNT(*) AS n_docs, CAST(SUM(s.tc) AS BIGINT) AS tokens
       |FROM scored s JOIN repf r ON s.doc_id = r.doc_id
       |WHERE s.doc_id NOT IN (SELECT member FROM clusters WHERE member <> rep)
       |  AND s.score >= 0.5 AND r.dup2f <= 0.3
       |GROUP BY s.lang ORDER BY s.lang""".stripMargin

  private val dd04Oracle: String = {
    // Spark finds the pairs with a complete prefix-filter candidate
    // scheme, so brute force over all pairs is the oracle
    val inter = "len(list_intersect(a.hh, b.hh))"
    val j = s"$inter * 1.0 / (a.cnt + b.cnt - $inter)"
    s"""WITH $sqlDocsShingles,
       |hh AS (
       |  SELECT id, list_distinct(list_transform(sh, s -> ${sqlRollingHash("s")})) AS hh
       |  FROM docs
       |),
       |sized AS (SELECT id, hh, len(hh) AS cnt FROM hh)
       |SELECT a.id AS id_a, b.id AS id_b, ROUND($j, 4) AS j
       |FROM sized a JOIN sized b ON a.id < b.id
       |WHERE $j >= 0.9
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Integer-exact quality score — SQL twin of
    * TextAnalysis.qualityScoreFromStats: one division of exact integer
    * sums, engine-reproducible without ROUND. */
  private def sqlQualityScore(tc: String, sc: String, cl: String): String =
    s"CASE WHEN $tc = 0 THEN 0.0 ELSE " +
      s"CAST(5 * $tc * least($tc, 100) + 300 * least(5 * $sc, $tc) + " +
      s"(CASE WHEN $cl >= 3 * $tc AND $cl <= 8 * $tc THEN 200 * $tc ELSE 0 END) AS DOUBLE) " +
      s"/ CAST(1000 * $tc AS DOUBLE) END"

  /** Sequential-fold dot product of two DOUBLE list expressions. */
  private def sqlDot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[CAST(($a)[k] AS DOUBLE) * CAST(($b)[k] AS DOUBLE) FOR k IN generate_series(1, $dim)]), " +
      s"(acc, x) -> acc + x)"

  private def sqlCosine(a: String, b: String, dim: Int): String =
    s"(${sqlDot(a, b, dim)}) / (sqrt(${sqlDot(a, a, dim)}) * sqrt(${sqlDot(b, b, dim)}))"

  private val ss01Oracle: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, ROUND(${sqlCosine("e.embedding", "q.qv", 64)}, 4) AS sim
       |FROM embeddings e CROSS JOIN q
       |WHERE vec_id <> 0
       |ORDER BY ${sqlCosine("e.embedding", "q.qv", 64)} DESC, vec_id
       |LIMIT 10""".stripMargin

  /** LSH bucket of an embedding list expression (integer hyperplanes
    * generated from Similarity.plane). */
  private def sqlBucket(v: String, nPlanes: Int = Similarity.NumPlanes): String =
    (0 until nPlanes).map { i =>
      val planes = (0 until 64).map(j => s"${Similarity.plane(i, j)}.0").mkString("[", ", ", "]")
      val dot = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[CAST(($v)[k] AS DOUBLE) * ($planes)[k] FOR k IN generate_series(1, 64)]), " +
        s"(acc, x) -> acc + x)"
      s"CASE WHEN $dot > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Banded LSH key of table `t` (`rows` sign bits over planes
    * t*rows .. t*rows+rows-1) — the SQL twin of Similarity.lshBandKeys. */
  private def sqlBandKey(v: String, t: Int, rows: Int): String =
    (0 until rows).map { r =>
      val planes = (0 until 64).map(j =>
        s"${Similarity.plane(t * rows + r, j)}.0").mkString("[", ", ", "]")
      val dot = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"[CAST(($v)[k] AS DOUBLE) * ($planes)[k] FOR k IN generate_series(1, 64)]), " +
        s"(acc, x) -> acc + x)"
      s"CASE WHEN $dot > 0 THEN ${1 << r} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** dd05's oracle: SimHash reproduced in DuckDB. FNV-1a 64-bit runs in
    * HUGEINT arithmetic mod 2^64 over each token's UTF-8 bytes (via
    * hex(encode(t)); XOR only ever touches the low byte, so it is lifted
    * to BIGINT); the 64 bit-votes aggregate per document; the 4 16-bit
    * LSH chunks and the Hamming verify mirror Dedup.simhashNearDupPairs.
    * All constants come from HashUtil/the query (maxHamming = 8). */
  private val dd05Oracle: String = {
    import graft.functions.HashUtil
    val basis = java.lang.Long.toUnsignedString(HashUtil.FnvBasis)
    val prime = java.lang.Long.toUnsignedString(HashUtil.FnvPrime)
    val fnv =
      s"""list_reduce(list_prepend(CAST($basis AS HUGEINT),
         |      [CAST(16*(strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1))-1)
         |          + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1))-1) AS BIGINT)
         |       FOR i IN generate_series(1, length(hx)//2)]),
         |      (h, b) -> ((h - h % 256 + xor(CAST(h % 256 AS BIGINT), b)) * $prime)
         |                % 18446744073709551616)""".stripMargin
    val votes = (0 until 64).map(b =>
      s"SUM(CASE WHEN (uh // ${java.lang.Long.toUnsignedString(1L << b)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val chunks = (0 until 4).map { k =>
      (0 until 16).map(r => s"CASE WHEN v${16 * k + r} > 0 THEN ${1 << r} ELSE 0 END")
        .mkString("(", " + ", s") AS c$k")
    }.mkString(",\n    ")
    val ham = (0 until 4).map(k => s"bit_count(xor(a.c$k, b.c$k))").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t FROM documents
       |),
       |fnv AS (
       |  SELECT id, $fnv AS uh
       |  FROM (SELECT id, hex(encode(t)) AS hx FROM tok)
       |),
       |votes AS (
       |  SELECT id,
       |    $votes
       |  FROM fnv GROUP BY id
       |),
       |sk AS (
       |  SELECT id,
       |    $chunks
       |  FROM votes
       |),
       |exploded AS (
       |  SELECT id, unnest(generate_series(0, 3)) AS k, unnest([c0, c1, c2, c3]) AS ck,
       |    c0, c1, c2, c3
       |  FROM sk
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, CAST($ham AS INT) AS hamming
       |  FROM exploded a JOIN exploded b ON a.k = b.k AND a.ck = b.ck AND a.id < b.id
       |)
       |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 8
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val dd10Oracle: String = {
    val cos = sqlCosine("x.embedding", "y.embedding", 64)
    // the bands-per-rows lookup comes from the SAME Scala function the
    // engine's lshGeometryFor calls, embedded as an integer CASE — the
    // one float computation (acos/log on the recall curve) happens once
    // in one place, so a DuckDB-vs-JVM libm boundary can never split
    // the two sides' geometry
    val bandsCase = (Similarity.MinRows to Similarity.MaxRows).map(r =>
      s"WHEN $r THEN ${Similarity.bandsForRows(r, Dd10Threshold)}").mkString(" ")
    // sqlBandKey generalized to a computed plane index: the plane
    // literal (i*97 + (k-1)*31) % 19 - 9 is evaluated IN SQL with
    // i = t*nrows + r, same integer arithmetic, same fold order as the
    // Scala kernel, so the sign bits agree bitwise
    val planeDot =
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "[CAST((embedding)[k] AS DOUBLE) * " +
        "CAST(((t * nrows + r) * 97 + (k - 1) * 31) % 19 - 9 AS DOUBLE) " +
        "FOR k IN generate_series(1, 64)]), (acc, x) -> acc + x)"
    s"""WITH geo AS (
       |  SELECT nrows, CASE nrows $bandsCase END AS nbands FROM (
       |    SELECT MIN(r) AS nrows
       |    FROM generate_series(${Similarity.MinRows}, ${Similarity.MaxRows}) t(r)
       |    WHERE r = ${Similarity.MaxRows}
       |       OR ${Similarity.DefaultPairsPerKey} * (CAST(1 AS BIGINT) << r)
       |          >= (SELECT COUNT(*) FROM embeddings))
       |),
       |keyed AS (
       |  SELECT vec_id AS id,
       |    [list_reduce(list_prepend(0,
       |       [CASE WHEN $planeDot > 0 THEN (1 << r) ELSE 0 END
       |        FOR r IN generate_series(0, nrows - 1)]), (a, b) -> a + b)
       |     FOR t IN generate_series(0, nbands - 1)] AS bk
       |  FROM embeddings, geo
       |),
       |exploded AS (
       |  SELECT id, unnest(generate_series(0, nbands - 1)) AS band,
       |    unnest(bk) AS key
       |  FROM keyed, geo
       |),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM exploded a JOIN exploded b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id
       |)
       |SELECT cd.id_a, cd.id_b, ROUND($cos, 4) AS c
       |FROM cand cd JOIN embeddings x ON cd.id_a = x.vec_id
       |  JOIN embeddings y ON cd.id_b = y.vec_id
       |WHERE $cos >= $Dd10Threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val ss02Oracle: String =
    s"""SELECT ${sqlBucket("embedding")} AS bucket, COUNT(*) AS n
       |FROM embeddings
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  private val ss03Oracle: String =
    s"""WITH q AS (
       |  SELECT embedding AS qv, ${sqlBucket("embedding")} AS qb
       |  FROM embeddings WHERE vec_id = 0
       |)
       |SELECT vec_id, ROUND(${sqlCosine("e.embedding", "q.qv", 64)}, 4) AS sim
       |FROM embeddings e CROSS JOIN q
       |WHERE vec_id <> 0 AND ${sqlBucket("e.embedding")} = q.qb
       |ORDER BY ${sqlCosine("e.embedding", "q.qv", 64)} DESC, vec_id
       |LIMIT 5""".stripMargin

  /** Squared-distance restatement shared by the k-means oracle CTEs. */
  private def sqlSqd(v: String, c: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[ (($v)[i] - ($c)[i]) * (($v)[i] - ($c)[i]) FOR i IN generate_series(1, 64) ]), " +
      s"(acc2, x2) -> acc2 + x2)"

  /** The deterministic-Lloyd re-fit as DuckDB CTEs — ends at `af`
    * (vec_id, v, cell: the final assignment) and `c$Ss04Iters` (the final
    * centroids), over `e` (all vectors but the query row 0) and `q` (the
    * query vector). Shared by every oracle that consumes the
    * [[ivfModel]] quantizer (ss04/ss07 probe, dd12 semantic dedup). */
  private val kmeansOracleCtes: String = kmeansOracleCtesFor("vec_id <> 0", None)

  /** The fine (second-level) Lloyd CTEs of dd16's two-level oracle —
    * extends [[kmeansOracleCtes]]'s `af` (the coarse assignment): per
    * coarse cell, init the fine centroids from the k2 lowest-id
    * members, iterate arg-min (over the row's OWN cell's fine list,
    * ties to the lowest fine id) + 1e-6-rounded means [[Ss04Iters]]
    * times, and end at `comp` (vec_id, v, composite BIGINT cell =
    * coarse·k2 + fine) — the exact restatement of
    * [[graft.ops.Clustering.kmeansTwoLevel]] +
    * [[graft.ops.Clustering.assignCellsTwoLevel]]. */
  private def fineOracleCtes(k2: Int): String =
    fineOracleCtesFor(k2, fitSrc = "af", assignSrc = "af", fallback = false)

  /** [[fineOracleCtes]] generalized for dd17's train-once-append shape:
    * the fine Lloyd CTEs run over `fitSrc` (the TRAIN slice's coarse
    * assignment `atf`) while the final composite assignment `faf`/`comp`
    * runs over `assignSrc` (the larger slice's `af`); with `fallback`
    * set, coarse cells the fit never saw keep their coarse centroid as
    * their single fine centroid — the exact restatement of
    * [[graft.ops.Clustering.kmeansTwoLevel]]'s coverage fallback, which
    * is what makes assignment through the persisted model TOTAL over a
    * grown corpus. `fitSrc = assignSrc = "af", fallback = false`
    * reproduces dd16's classic text. */
  private def fineOracleCtesFor(k2: Int, fitSrc: String, assignSrc: String,
      fallback: Boolean): String = {
    def flCte(src: String): String =
      s"SELECT cell, list(struct_pack(fine := fine, c := c) ORDER BY fine) AS fs " +
        s"FROM $src GROUP BY cell"
    def faCte(l: String, src: String): String =
      s"SELECT vec_id, v, cell, list_reduce(list_transform(fs, s -> struct_pack(" +
        s"d := ${sqlSqd("v", "s.c")}, fine := s.fine)), " +
        s"(acc, x) -> CASE WHEN x.d < acc.d OR (x.d = acc.d AND x.fine < acc.fine) " +
        s"THEN x ELSE acc END).fine AS fine FROM $src JOIN $l USING (cell)"
    def fcCte(a: String): String =
      s"SELECT cell, fine, list(m ORDER BY j) AS c FROM (" +
        s"SELECT cell, fine, j, ROUND(AVG(v[j]), 6) AS m FROM $a, " +
        s"(SELECT unnest(generate_series(1, 64)) AS j) tj GROUP BY cell, fine, j) t " +
        s"GROUP BY cell, fine"
    val iterCtes = (1 to Ss04Iters).map { i =>
      s"fa$i AS (${faCte(s"fl${i - 1}", fitSrc)}), fc$i AS (${fcCte(s"fa$i")}), " +
        s"fl$i AS (${flCte(s"fc$i")})"
    }.mkString(",\n")
    val finalList =
      if (!fallback) s"fl$Ss04Iters"
      else "flfull"
    val fallbackCte =
      if (!fallback) ""
      else
        s""",
           |flfull AS (
           |  SELECT cell, fs FROM fl$Ss04Iters
           |  UNION ALL
           |  SELECT cell, [struct_pack(fine := CAST(0 AS BIGINT), c := c)] AS fs
           |  FROM c$Ss04Iters WHERE cell NOT IN (SELECT cell FROM fl$Ss04Iters)
           |)""".stripMargin
    s"""f0 AS (
       |  SELECT cell, rn - 1 AS fine, v AS c FROM (
       |    SELECT cell, v, ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
       |    FROM $fitSrc) t
       |  WHERE rn <= $k2
       |), fl0 AS (${flCte("f0")}),
       |$iterCtes$fallbackCte,
       |faf AS (${faCte(finalList, assignSrc)}),
       |comp AS (SELECT vec_id, v, CAST(cell AS BIGINT) * $k2 + fine AS cell FROM faf)""".stripMargin
  }

  /** [[kmeansOracleCtes]] generalized for ss12's train-once-append
    * shape: the fit CTEs run over the `trainWhere` slice, and when
    * `assignWhere` is set the FINAL assignment `af` runs over that
    * (larger) slice with the trained centroids — the oracle restatement
    * of assigning an appended batch through a model it was never fitted
    * on. `None` keeps the classic fit-set assignment (and the exact
    * CTE text every pre-ss12 consumer graded against). */
  private def kmeansOracleCtesFor(trainWhere: String,
      assignWhere: Option[String]): String = {
    def listCte(c: String): String =
      s"SELECT list(struct_pack(cell := cell, c := c) ORDER BY cell) AS cs FROM $c"
    def assignCte(l: String, src: String = "e"): String =
      s"SELECT vec_id, v, list_reduce(list_transform(cs, s -> struct_pack(" +
        s"d := ${sqlSqd("v", "s.c")}, cell := s.cell)), " +
        s"(acc, x) -> CASE WHEN x.d < acc.d OR (x.d = acc.d AND x.cell < acc.cell) " +
        s"THEN x ELSE acc END).cell AS cell FROM $src, $l"
    def meansCte(a: String): String =
      s"SELECT cell, list(m ORDER BY j) AS c FROM (" +
        s"SELECT cell, j, ROUND(AVG(v[j]), 6) AS m FROM $a, " +
        s"(SELECT unnest(generate_series(1, 64)) AS j) tj GROUP BY cell, j) t GROUP BY cell"
    val iterCtes = (1 to Ss04Iters).map { i =>
      s"a$i AS (${assignCte(s"l${i - 1}")}), c$i AS (${meansCte(s"a$i")}), " +
        s"l$i AS (${listCte(s"c$i")})"
    }.mkString(",\n")
    val eaCte = assignWhere.map(w =>
      s""", ea AS (
         |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         |  FROM embeddings WHERE $w
         |)""".stripMargin).getOrElse("")
    val afSrc = if (assignWhere.isDefined) "ea" else "e"
    // the train slice's own assignment through the FINAL centroids —
    // what a two-level oracle fits its fine level on (dd17); unused
    // CTEs cost nothing in DuckDB, so it is emitted whenever the
    // train/assign slices differ
    val atfCte =
      if (assignWhere.isDefined) s""",
         |atf AS (${assignCte(s"l$Ss04Iters", "e")})""".stripMargin
      else ""
    s"""e AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
       |  FROM embeddings WHERE $trainWhere
       |), q AS (
       |  SELECT [CAST(x AS DOUBLE) FOR x IN embedding] AS qv
       |  FROM embeddings WHERE vec_id = 0
       |)$eaCte, c0 AS (
       |  SELECT rn - 1 AS cell, v AS c FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn, v FROM e) t
       |  WHERE rn <= $Ss04Cells
       |), l0 AS (${listCte("c0")}),
       |$iterCtes,
       |af AS (${assignCte(s"l$Ss04Iters", afSrc)})$atfCte""".stripMargin
  }

  /** ss04's oracle re-runs the ENTIRE deterministic k-means fit
    * (init = lowest-id vectors, arg-min fold assignment, 1e-6-rounded
    * means, Ss04Iters Lloyd iterations) and then the nProbe-cell cosine
    * re-rank — every fold in the same sequential order as the Spark
    * kernels, so the fitted cells agree bit for bit. */
  private val ss04Oracle: String =
    s"""WITH $kmeansOracleCtes,
       |pc AS (SELECT cell FROM c$Ss04Iters, q ORDER BY ${sqlSqd("qv", "c")}, cell LIMIT $Ss04Probe)
       |SELECT vec_id, ROUND(${sqlCosine("v", "qv", 64)}, 4) AS sim
       |FROM af JOIN pc USING (cell), q
       |ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
       |LIMIT 5""".stripMargin

  /** ss12's oracle: the fit runs over the OLD slice only, the final
    * assignment over the whole corpus — exactly the append semantics
    * (new vectors quantized by a model that never saw them). */
  private val ss12Oracle: String =
    s"""WITH ${kmeansOracleCtesFor("vec_id <> 0 AND vec_id % 5 <> 1", Some("vec_id <> 0"))},
       |pc AS (SELECT cell FROM c$Ss04Iters, q ORDER BY ${sqlSqd("qv", "c")}, cell LIMIT $Ss04Probe),
       |serve AS (
       |  SELECT 'serve' AS part, vec_id AS a, ROUND(${sqlCosine("v", "qv", 64)}, 4) AS b
       |  FROM af JOIN pc USING (cell), q
       |  ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
       |  LIMIT 5
       |), census AS (
       |  SELECT 'cell_' || CAST(cell AS VARCHAR) AS part, COUNT(*) AS a,
       |    CAST(SUM(CASE WHEN vec_id % 5 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b
       |  FROM af GROUP BY cell
       |)
       |SELECT part, a, b FROM serve
       |UNION ALL SELECT part, a, b FROM census
       |ORDER BY part, a""".stripMargin

  private val ss05Oracle: String =
    s"""WITH q AS (
       |  SELECT embedding AS qv, ${sqlBucket("embedding", 4)} AS qb
       |  FROM embeddings WHERE vec_id = 0
       |), p AS (
       |  SELECT qb AS pb FROM q
       |  UNION ALL SELECT xor(qb, 1) FROM q
       |  UNION ALL SELECT xor(qb, 2) FROM q
       |  UNION ALL SELECT xor(qb, 4) FROM q
       |  UNION ALL SELECT xor(qb, 8) FROM q
       |)
       |SELECT vec_id, ROUND(${sqlCosine("e.embedding", "q.qv", 64)}, 4) AS sim
       |FROM embeddings e CROSS JOIN q
       |WHERE vec_id <> 0
       |  AND ${sqlBucket("e.embedding", 4)} IN (SELECT pb FROM p)
       |ORDER BY ${sqlCosine("e.embedding", "q.qv", 64)} DESC, vec_id
       |LIMIT 5""".stripMargin

  private val dd11Oracle: String = {
    // complete candidates Spark-side, so brute force is the oracle
    val inter = "len(list_intersect(a.hh, b.hh))"
    val c = s"$inter * 1.0 / a.cnt"
    s"""WITH $sqlDocsShingles,
       |hh AS (
       |  SELECT id, list_distinct(list_transform(sh, s -> ${sqlRollingHash("s")})) AS hh
       |  FROM docs
       |),
       |sized AS (SELECT id, hh, len(hh) AS cnt FROM hh WHERE len(hh) > 0)
       |SELECT a.id AS id_a, b.id AS id_b, ROUND($c, 4) AS containment
       |FROM sized a JOIN sized b ON a.id <> b.id
       |WHERE $c >= 0.8
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val ss06Oracle: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bkt FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${sqlCosine("q.embedding", "c.embedding", 64)} AS sim
       |  FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id BETWEEN 1 AND 20 AND c.vec_id <> 0
       |), r AS (
       |  SELECT qid, cid, sim,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
       |  FROM scored
       |)
       |SELECT qid, cid, ROUND(sim, 4) AS sim, rn
       |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  private val dd06Oracle: String = {
    val cos = sqlCosine("a.embedding", "b.embedding", 64)
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($cos, 4) AS c
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE $cos >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def sqlStopwordCount(w: String): String =
    s"len(list_filter($w, t -> t IN (${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(", ")})))"

  // CAST wraps the SUMs: DuckDB SUM(BIGINT) yields HUGEINT, which the driver's
  // pandas bridge floats — values equal but the format-sensitive hash differs.
  private val tx01Oracle: String =
    s"""SELECT lang, COUNT(*) AS docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
       |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '), w -> CAST(ceil(length(w) / 4.0) AS BIGINT))),
       |      (acc, x) -> acc + x)) AS BIGINT) AS bpe_tokens,
       |  ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val tx02Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), m AS (
       |  SELECT doc_id,
       |    len(w) AS tc,
       |    ${sqlStopwordCount("w")} AS sc,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(w, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS cl
       |  FROM t
       |)
       |SELECT doc_id, ${sqlQualityScore("tc", "sc", "cl")} AS score
       |FROM m
       |ORDER BY score DESC, doc_id
       |LIMIT 100""".stripMargin

  private val tx03Oracle: String = {
    val counts = TextAnalysis.LangMarkers.map { case (lang, markers) =>
      s"len(list_filter(w, t -> t IN (${markers.map("'" + _ + "'").mkString(", ")}))) AS c_$lang"
    }.mkString(",\n    ")
    val best = TextAnalysis.LangMarkers.map(m => s"c_${m._1}").mkString("greatest(", ", ", ")")
    val cases = TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN c_$lang = best AND best > 0 THEN '$lang'"
    }.mkString("\n      ")
    s"""WITH t AS (
       |  SELECT lang, string_split(text, ' ') AS w FROM documents
       |), c AS (
       |  SELECT lang,
       |    $counts
       |  FROM t
       |), p AS (
       |  SELECT lang, $best AS best, * FROM c
       |)
       |SELECT lang, CASE
       |      $cases
       |      ELSE 'und' END AS predicted, COUNT(*) AS n
       |FROM p GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
  }

  private val tx04Oracle: String =
    s"""SELECT doc_id, ${sqlRollingHash("text")} AS fp
       |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin

  /** BYTE-based like the Spark side (payload = UTF-8 bytes; the stub sums
    * raw byte values and `octet_length`): the text is hex-encoded and
    * each byte rebuilt from its hex pair, so the twin holds for ANY
    * corpus, not just an all-ASCII fixture where codepoints == bytes.
    * The `length(text) >= 64` filter is intentionally CHAR-based on both
    * engines (it mirrors the query's pre-pack filter, not the stub). */
  private val mm01Oracle: String = {
    def bytesOf(hx: String) =
      s"""[CAST((strpos('0123456789ABCDEF', $hx[2*i-1:2*i-1]) - 1) * 16
         |        + strpos('0123456789ABCDEF', $hx[2*i:2*i]) - 1 AS BIGINT)
         |     FOR i IN generate_series(1, len($hx) // 2)]""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS byte_len
       |  FROM documents WHERE length(text) >= 64
       |), h AS (
       |  SELECT doc_id, byte_len, hx[1:32] AS x16, hx[1:128] AS x64 FROM t
       |), v AS (
       |  SELECT doc_id, byte_len,
       |    ${bytesOf("x16")} AS h16,
       |    ${bytesOf("x64")} AS h64
       |  FROM h
       |)
       |SELECT doc_id, byte_len,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), h16), (acc, x) -> acc + x) AS head_sum,
       |  len(list_filter(h64, x -> x // 64 = 0)) AS hist0,
       |  len(list_filter(h64, x -> x // 64 = 1)) AS hist1
       |FROM v ORDER BY doc_id LIMIT 100""".stripMargin
  }

  /** The IMI multiprobe ladder as DuckDB CTEs, shared by every rung-4
    * serve oracle (ss13/ss14/ss15/ss16): `pc` is the query's
    * [[Ss13Coarse]] nearest coarse cells from the final coarse
    * centroids, `pfsrc` the fallback-complete fine list (the fitted
    * fine centroids plus, for coarse cells the fine fit never
    * populated, the coarse centroid as fine 0 — exactly
    * [[graft.ops.Clustering.kmeansTwoLevel]]'s coverage rule), and
    * `pf` the probed COMPOSITE cells: per descended coarse cell, its
    * [[Ss13Probe]] nearest fine centroids (row_number partitioned by
    * coarse cell — the per-cell top-n the multiprobe takes). */
  private val twoLevelProbeCtes: String =
    s"""pc AS (SELECT cell FROM c$Ss04Iters, q ORDER BY ${sqlSqd("qv", "c")}, cell LIMIT $Ss13Coarse),
       |pfsrc AS (
       |  SELECT cell, fine, c FROM fc$Ss04Iters
       |  UNION ALL
       |  SELECT cell, CAST(0 AS BIGINT) AS fine, c FROM c$Ss04Iters
       |  WHERE cell NOT IN (SELECT cell FROM fc$Ss04Iters)
       |), pf AS (
       |  SELECT pcell FROM (
       |    SELECT CAST(p.cell AS BIGINT) * $Dd16Fine + f.fine AS pcell,
       |      ROW_NUMBER() OVER (PARTITION BY p.cell
       |        ORDER BY ${sqlSqd("qv", "f.c")}, f.fine) AS prn
       |    FROM pc p JOIN pfsrc f ON f.cell = p.cell, q
       |  ) WHERE prn <= $Ss13Probe
       |)""".stripMargin

  /** ss13/ss14's shared oracle: the two-level refit (coverage fallback
    * included in the ASSIGNMENT too, so `comp` is total exactly like
    * `assignCellsTwoLevel`) + the multiprobe ladder + cosine ranking —
    * one text, two plan shapes (coarse-sliced corpus assignment vs the
    * partition-pruned layout). */
  private val ss13Oracle: String =
    s"""WITH $kmeansOracleCtes,
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "af", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes
         |SELECT vec_id, ROUND(${sqlCosine("v", "qv", 64)}, 4) AS sim
         |FROM comp JOIN pf ON comp.cell = pf.pcell, q
         |ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
         |LIMIT 5""".stripMargin

  /** ss15's oracle: ss08's recall contract restated at rung 4 — exact
    * top-10 from raw cosine, approximate top-10 through the full
    * two-level refit + multiprobe ladder, per-k hit counts. */
  private val ss15Oracle: String =
    s"""WITH $kmeansOracleCtes,
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "af", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes,
         |ex AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (
         |    ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id) AS re
         |  FROM e, q QUALIFY re <= 10
         |), ap AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (
         |    ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id) AS ra
         |  FROM comp JOIN pf ON comp.cell = pf.pcell, q QUALIFY ra <= 10
         |)
         |SELECT
         |  CAST(COALESCE(SUM(CASE WHEN re <= 1 AND ra <= 1 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_1,
         |  CAST(COALESCE(SUM(CASE WHEN re <= 5 AND ra <= 5 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_5,
         |  CAST(COALESCE(SUM(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_10
         |FROM ex JOIN ap USING (vec_id)""".stripMargin

  /** ss17's oracle: ss09's bounds-refit + quantization restatement
    * composed with the two-level refit and the multiprobe ladder — the
    * probed composite cells' members ranked by the exact integer dot
    * product, each with its float-cosine exact-top-10 membership. */
  private val ss17Oracle: String =
    s"""WITH $kmeansOracleCtes,
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "af", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes,
         |bounds AS (
         |  SELECT k, min(CAST(embedding[k] AS DOUBLE)) AS lo,
         |         max(CAST(embedding[k] AS DOUBLE)) AS hi
         |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS k) dims
         |  WHERE vec_id <> 0
         |  GROUP BY k
         |), b AS (
         |  SELECT list(lo ORDER BY k) AS lo,
         |         list(CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END ORDER BY k) AS sp
         |  FROM bounds
         |), qz AS (
         |  SELECT vec_id,
         |    [CAST(least(255.0, greatest(0.0,
         |       round((CAST(embedding[k] AS DOUBLE) - b.lo[k]) * 255.0 / b.sp[k])))
         |     AS BIGINT) - 128 FOR k IN generate_series(1, 64)] AS qvec
         |  FROM embeddings CROSS JOIN b
         |), qrow AS (SELECT qvec AS qq FROM qz WHERE vec_id = 0),
         |scored AS (
         |  SELECT z.vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [z.qvec[k] * qrow.qq[k] FOR k IN generate_series(1, 64)]),
         |    (acc, x) -> acc + x) AS qscore
         |  FROM qz z JOIN comp c2 ON z.vec_id = c2.vec_id
         |  JOIN pf ON c2.cell = pf.pcell
         |  CROSS JOIN qrow
         |  ORDER BY qscore DESC, z.vec_id LIMIT $Ss17K
         |), ex AS (
         |  SELECT vec_id FROM e, q
         |  ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
         |  LIMIT $Ss17K
         |)
         |SELECT s.vec_id, s.qscore,
         |  s.vec_id IN (SELECT vec_id FROM ex) AS in_exact10
         |FROM scored s ORDER BY s.qscore DESC, s.vec_id""".stripMargin

  /** ss16's oracle: the two-level fit over the OLD slice only (coarse
    * train/assign split + fine fit on the train slice's assignment
    * `atf`), the coverage fallback, the UNION assigned through the
    * trained model (`comp` — exactly what the loaded persisted model
    * serves), then the multiprobe serve + the per-cell appended
    * census. */
  private[queries] val ss16Oracle: String =
    s"""WITH ${kmeansOracleCtesFor("vec_id <> 0 AND vec_id % 5 <> 1", Some("vec_id <> 0"))},
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "atf", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes,
         |serve AS (
         |  SELECT 'serve' AS part, vec_id AS a, ROUND(${sqlCosine("v", "qv", 64)}, 4) AS b
         |  FROM comp JOIN pf ON comp.cell = pf.pcell, q
         |  ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
         |  LIMIT 5
         |), census AS (
         |  SELECT 'cell_' || CAST(cell AS VARCHAR) AS part, COUNT(*) AS a,
         |    CAST(SUM(CASE WHEN vec_id % 5 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b
         |  FROM comp GROUP BY cell
         |)
         |SELECT part, a, b FROM serve
         |UNION ALL SELECT part, a, b FROM census
         |ORDER BY part, a""".stripMargin

  /** ss18's oracle: ss16's old-slice two-level refit + union assignment
    * + multiprobe ladder, composed with ss17's quantization restatement
    * — except the bounds fit on the OLD SLICE only (the append batch
    * arrives after the codebook is built), the serve ranks by the exact
    * integer dot product, and the clamp row counts the appended batch's
    * components that saturate under the old bounds (the measured
    * bounds-drift cost). */
  private val ss18Oracle: String =
    s"""WITH ${kmeansOracleCtesFor("vec_id <> 0 AND vec_id % 5 <> 1", Some("vec_id <> 0"))},
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "atf", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes,
         |bounds AS (
         |  SELECT k, min(CAST(embedding[k] AS DOUBLE)) AS lo,
         |         max(CAST(embedding[k] AS DOUBLE)) AS hi
         |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS k) dims
         |  WHERE vec_id <> 0 AND vec_id % 5 <> 1
         |  GROUP BY k
         |), b AS (
         |  SELECT list(lo ORDER BY k) AS lo,
         |         list(CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END ORDER BY k) AS sp
         |  FROM bounds
         |), qz AS (
         |  SELECT vec_id,
         |    [CAST(least(255.0, greatest(0.0,
         |       round((CAST(embedding[k] AS DOUBLE) - b.lo[k]) * 255.0 / b.sp[k])))
         |     AS BIGINT) - 128 FOR k IN generate_series(1, 64)] AS qvec
         |  FROM embeddings CROSS JOIN b
         |), qrow AS (SELECT qvec AS qq FROM qz WHERE vec_id = 0),
         |serve AS (
         |  SELECT 'serve' AS part, z.vec_id AS a,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [z.qvec[k] * qrow.qq[k] FOR k IN generate_series(1, 64)]),
         |      (acc, x) -> acc + x) AS DOUBLE) AS b
         |  FROM qz z JOIN comp c2 ON z.vec_id = c2.vec_id
         |  JOIN pf ON c2.cell = pf.pcell
         |  CROSS JOIN qrow
         |  ORDER BY b DESC, z.vec_id LIMIT $Ss17K
         |), census AS (
         |  SELECT 'cell_' || CAST(cell AS VARCHAR) AS part, COUNT(*) AS a,
         |    CAST(SUM(CASE WHEN vec_id % 5 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b
         |  FROM comp GROUP BY cell
         |), clamps AS (
         |  SELECT len(list_filter(
         |    [round((CAST(embedding[k] AS DOUBLE) - b.lo[k]) * 255.0 / b.sp[k])
         |     FOR k IN generate_series(1, 64)], r -> r < 0 OR r > 255)) AS nc
         |  FROM embeddings CROSS JOIN b WHERE vec_id <> 0 AND vec_id % 5 = 1
         |), clamp AS (
         |  SELECT 'clamp' AS part,
         |    CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS a,
         |    CAST(COALESCE(SUM(CASE WHEN nc > 0 THEN 1 ELSE 0 END), 0) AS DOUBLE) AS b
         |  FROM clamps
         |)
         |SELECT part, a, b FROM serve
         |UNION ALL SELECT part, a, b FROM census
         |UNION ALL SELECT part, a, b FROM clamp
         |ORDER BY part, a""".stripMargin

  /** dd18's oracle: the full two-level refit + multiprobe ladder
    * (ss13's CTEs), with the takedown restated definitionally as an
    * anti-join — the post-delete layout must equal "the corpus minus
    * the removal set, assigned through the unchanged model", served and
    * censused (id sums pin WHICH rows survived). */
  private val dd18Oracle: String =
    s"""WITH $kmeansOracleCtes,
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "af", assignSrc = "af", fallback = true)},
         |$twoLevelProbeCtes,
         |surv AS (
         |  SELECT vec_id, v, cell FROM comp WHERE vec_id % $Dd18Mod <> $Dd18Res
         |), serve AS (
         |  SELECT 'serve' AS part, vec_id AS a, ROUND(${sqlCosine("v", "qv", 64)}, 4) AS b
         |  FROM surv JOIN pf ON surv.cell = pf.pcell, q
         |  ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id
         |  LIMIT 5
         |), census AS (
         |  SELECT 'cell_' || CAST(cell AS VARCHAR) AS part, COUNT(*) AS a,
         |    CAST(SUM(vec_id) AS DOUBLE) AS b
         |  FROM surv GROUP BY cell
         |)
         |SELECT part, a, b FROM serve
         |UNION ALL SELECT part, a, b FROM census
         |ORDER BY part, a""".stripMargin

  val oracle: Map[String, String] = Map(
    "dd01_exact_dedup" ->
      "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dups FROM documents GROUP BY text ORDER BY keep_id LIMIT 200",
    "dd02_prefix_dedup" ->
      ("SELECT array_to_string(string_split(text, ' ')[1:2], ' ') AS k, MIN(doc_id) AS keep_id, COUNT(*) AS dups " +
        "FROM documents GROUP BY 1 ORDER BY keep_id LIMIT 200"),
    "dd03_minhash_lsh" -> dd03Oracle,
    "dd04_exact_jaccard" -> dd04Oracle,
    "dd05_simhash" -> dd05Oracle,
    "dd06_embedding_cosine" -> dd06Oracle,
    "dd07_dedup_clusters" -> dd07Oracle,
    "dd08_dedup_filtered" -> dd08Oracle,
    "dd09_incremental_dedup" -> dd09Oracle,
    "dd10_blocked_embedding" -> dd10Oracle,
    "dd11_containment" -> dd11Oracle,
    "dd12_semantic_dedup" ->
      s"""WITH $kmeansOracleCtes,
         |dropped AS (
         |  SELECT DISTINCT a.vec_id AS id
         |  FROM af a JOIN af b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE ${sqlCosine("a.v", "b.v", 64)} >= $Dd12Threshold
         |)
         |SELECT af.cell, COUNT(*) AS members,
         |  CAST(SUM(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dropped,
         |  CAST(COALESCE(SUM(CASE WHEN d.id IS NOT NULL THEN af.vec_id END), 0)
         |    AS BIGINT) AS dropped_id_sum
         |FROM af LEFT JOIN dropped d ON af.vec_id = d.id
         |GROUP BY af.cell ORDER BY af.cell""".stripMargin,
    // dd12's census over the TWO-LEVEL quantizer: the coarse CTEs extend
    // with the fine Lloyd chain and the composite-cell drop rule
    // dd17: the full two-level refit over the OLD slice (coarse CTEs
    // with the train/assign split, fine CTEs fitted on atf), the
    // coverage fallback, and the composite assignment of the UNION
    // through the persisted model — members/appended/id sums per cell
    "dd17_twolevel_persisted" ->
      s"""WITH ${kmeansOracleCtesFor("vec_id <> 0 AND vec_id % 5 <> 1", Some("vec_id <> 0"))},
         |${fineOracleCtesFor(Dd16Fine, fitSrc = "atf", assignSrc = "af", fallback = true)}
         |SELECT cell, COUNT(*) AS members,
         |  CAST(SUM(CASE WHEN vec_id % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS appended,
         |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
         |FROM comp GROUP BY cell ORDER BY cell""".stripMargin,
    // dd18: takedown without refit — refit + probe ladder + anti-join
    "dd18_takedown" -> dd18Oracle,
    "dd16_twolevel_semantic" ->
      s"""WITH $kmeansOracleCtes,
         |${fineOracleCtes(Dd16Fine)},
         |dropped AS (
         |  SELECT DISTINCT a.vec_id AS id
         |  FROM comp a JOIN comp b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE ${sqlCosine("a.v", "b.v", 64)} >= $Dd12Threshold
         |)
         |SELECT comp.cell, COUNT(*) AS members,
         |  CAST(SUM(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS dropped,
         |  CAST(COALESCE(SUM(CASE WHEN d.id IS NOT NULL THEN comp.vec_id END), 0)
         |    AS BIGINT) AS dropped_id_sum
         |FROM comp LEFT JOIN dropped d ON comp.vec_id = d.id
         |GROUP BY comp.cell ORDER BY comp.cell""".stripMargin,
    // contamination restated: distinct word 8-grams per side, the
    // benchmark's distinct-gram set, per-doc hit counts, lang census
    "dd13_decontaminate" ->
      s"""WITH grams AS (
         |  SELECT doc_id, list_distinct([array_to_string(w[i:i+${Dd13Ngram - 1}], ' ')
         |                 FOR i IN generate_series(1, len(w) - ${Dd13Ngram - 1})]) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE len(w) >= $Dd13Ngram
         |),
         |bset AS (SELECT DISTINCT unnest(g) AS gram FROM grams
         |         WHERE doc_id % $Dd13Mod = 0),
         |hits AS (
         |  SELECT e.doc_id, COUNT(*) AS n_hits
         |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams
         |        WHERE doc_id % $Dd13Mod <> 0) e
         |  JOIN bset USING (gram)
         |  GROUP BY e.doc_id
         |)
         |SELECT lang, COUNT(*) AS n_docs,
         |  COUNT(h.doc_id) AS contaminated,
         |  CAST(COALESCE(SUM(h.n_hits), 0) AS BIGINT) AS hit_grams,
         |  CAST(SUM(CASE WHEN h.doc_id IS NULL
         |    THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS clean_tokens
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % $Dd13Mod <> 0
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // the occurrence MULTISET (no list_distinct — contrast dd13): a doc's
    // own repeats both count as occurrences and make the gram duplicated
    "dd14_span_dedup" ->
      s"""WITH occ AS (
         |  SELECT doc_id, lang, array_to_string(w[i:i+${Dd14Ngram - 1}], ' ') AS gram
         |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(w) - ${Dd14Ngram - 1})) AS i) t
         |), pdg AS (
         |  SELECT doc_id, lang, gram, COUNT(*) AS cnt FROM occ GROUP BY doc_id, lang, gram
         |), gt AS (
         |  SELECT gram, SUM(cnt) AS tot FROM pdg GROUP BY gram
         |), pd AS (
         |  SELECT doc_id, lang, SUM(cnt) AS total_grams,
         |    SUM(CASE WHEN tot > 1 THEN cnt ELSE 0 END) AS dup_grams
         |  FROM pdg JOIN gt USING (gram) GROUP BY doc_id, lang
         |)
         |SELECT lang, COUNT(*) AS docs,
         |  CAST(SUM(total_grams) AS BIGINT) AS total_grams,
         |  CAST(SUM(dup_grams) AS BIGINT) AS dup_grams,
         |  CAST(SUM(CASE WHEN dup_grams * $Dd14Heavy > total_grams THEN 1 ELSE 0 END) AS BIGINT)
         |    AS heavy_docs
         |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,
    // dd14's CTEs one HAVING away: the heavy set is dd14's heavy_docs
    // rule verbatim; the survivor census left-anti-joins it and keeps
    // sub-8-word documents (absent from pd) by the IS NULL branch
    "dd15_span_trim" ->
      s"""WITH occ AS (
         |  SELECT doc_id, array_to_string(w[i:i+${Dd14Ngram - 1}], ' ') AS gram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |       LATERAL (SELECT unnest(generate_series(1, len(w) - ${Dd14Ngram - 1})) AS i) t
         |), pdg AS (
         |  SELECT doc_id, gram, COUNT(*) AS cnt FROM occ GROUP BY doc_id, gram
         |), gt AS (
         |  SELECT gram, SUM(cnt) AS tot FROM pdg GROUP BY gram
         |), heavy AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, SUM(cnt) AS total_grams,
         |      SUM(CASE WHEN tot > 1 THEN cnt ELSE 0 END) AS dup_grams
         |    FROM pdg JOIN gt USING (gram) GROUP BY doc_id
         |  ) WHERE dup_grams * $Dd14Heavy > total_grams
         |)
         |SELECT lang, COUNT(*) AS docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |FROM documents d LEFT JOIN heavy h USING (doc_id)
         |WHERE h.doc_id IS NULL
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "ss01_cosine_topk" -> ss01Oracle,
    "ss02_lsh_histogram" -> ss02Oracle,
    "ss03_ann_topk" -> ss03Oracle,
    "ss04_ivf_topk" -> ss04Oracle,
    // the loaded-model serve must equal the refit bit-for-bit, so the
    // refit oracle grades it unchanged
    "ss11_ivf_persisted" -> ss04Oracle,
    "ss12_ivf_append" -> ss12Oracle,
    // ss13: the full two-level refit, then the probe ladder restated —
    // coarse argmin, the probed cell's fine top-2 (coverage fallback
    // unioned in), composite membership, cosine ranking
    "ss13_twolevel_topk" -> ss13Oracle,
    // ss14 serves ss13's query from the composite-cell layout —
    // same model/probes/re-rank, pruned-scan plan pinned in OpsSpec
    "ss14_twolevel_served" -> ss13Oracle,
    // ss15: the rung-4 recall contract (ss08's shape over the
    // two-level refit + multiprobe ladder)
    "ss15_twolevel_recall" -> ss15Oracle,
    // ss16: the served two-level append — old-slice fit, union
    // assignment through the persisted model, multiprobe serve + census
    "ss16_twolevel_append" -> ss16Oracle,
    // ss17: the int8-quantized rung-4 serve — bounds refit +
    // quantization arithmetic + two-level refit + multiprobe + integer
    // dot ranking, quality loss measured per row
    "ss17_twolevel_quantized" -> ss17Oracle,
    // ss18: the quantized layout's append lifecycle — old-slice bounds
    // + model, union quantized/assigned through the loaded artifacts,
    // integer-dot multiprobe serve + census + measured clamp drift
    "ss18_quantized_append" -> ss18Oracle,
    // ss19 serves ss16's exact contract from the COMPACTED rewrite —
    // one oracle text, fragmented and compacted layouts both held to it
    "ss19_layout_compact" -> ss16Oracle,
    "ss05_multiprobe_topk" -> ss05Oracle,
    // ss05's restatement with the metadata predicate applied before the
    // probe — pre-filter semantics stated definitionally
    "ss10_filtered_ann" ->
      s"""WITH q AS (
         |  SELECT embedding AS qv, ${sqlBucket("embedding", 4)} AS qb
         |  FROM embeddings WHERE vec_id = 0
         |), p AS (
         |  SELECT qb AS pb FROM q
         |  UNION ALL SELECT xor(qb, 1) FROM q
         |  UNION ALL SELECT xor(qb, 2) FROM q
         |  UNION ALL SELECT xor(qb, 4) FROM q
         |  UNION ALL SELECT xor(qb, 8) FROM q
         |)
         |SELECT vec_id, ROUND(${sqlCosine("e.embedding", "q.qv", 64)}, 4) AS sim
         |FROM embeddings e CROSS JOIN q
         |WHERE vec_id <> 0 AND label % 2 = 0
         |  AND ${sqlBucket("e.embedding", 4)} IN (SELECT pb FROM p)
         |ORDER BY ${sqlCosine("e.embedding", "q.qv", 64)} DESC, vec_id
         |LIMIT 5""".stripMargin,
    "ss06_knn_join" -> ss06Oracle,
    // the served layout is the SAME model + probes + re-rank as ss04,
    // just read through a partition-pruned scan — one oracle, two plans
    "ss07_ivf_served" -> ss04Oracle,
    "ss08_ann_recall" ->
      s"""WITH $kmeansOracleCtes,
         |ex AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (
         |    ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id) AS re
         |  FROM e, q QUALIFY re <= 10
         |), pc AS (
         |  SELECT cell FROM c$Ss04Iters, q
         |  ORDER BY ${sqlSqd("qv", "c")}, cell LIMIT $Ss04Probe
         |), ap AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (
         |    ORDER BY ${sqlCosine("v", "qv", 64)} DESC, vec_id) AS ra
         |  FROM af JOIN pc USING (cell), q QUALIFY ra <= 10
         |)
         |SELECT
         |  CAST(COALESCE(SUM(CASE WHEN re <= 1 AND ra <= 1 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_1,
         |  CAST(COALESCE(SUM(CASE WHEN re <= 5 AND ra <= 5 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_5,
         |  CAST(COALESCE(SUM(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS hits_at_10
         |FROM ex JOIN ap USING (vec_id)""".stripMargin,
    // bounds refit in SQL (exact data values, no arithmetic), then the
    // quantization restated literally: clamp(round((v-lo)*255/span))-128
    "ss09_quantized_ann" ->
      s"""WITH bounds AS (
         |  SELECT k, min(CAST(embedding[k] AS DOUBLE)) AS lo,
         |         max(CAST(embedding[k] AS DOUBLE)) AS hi
         |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS k) dims
         |  GROUP BY k
         |), b AS (
         |  SELECT list(lo ORDER BY k) AS lo,
         |         list(CASE WHEN hi > lo THEN hi - lo ELSE 1.0 END ORDER BY k) AS sp
         |  FROM bounds
         |), qz AS (
         |  SELECT vec_id,
         |    [CAST(least(255.0, greatest(0.0,
         |       round((CAST(embedding[k] AS DOUBLE) - b.lo[k]) * 255.0 / b.sp[k])))
         |     AS BIGINT) - 128 FOR k IN generate_series(1, 64)] AS q
         |  FROM embeddings CROSS JOIN b
         |), qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [z.q[k] * qv.qq[k] FOR k IN generate_series(1, 64)]),
         |    (acc, x) -> acc + x) AS qscore
         |  FROM qz z CROSS JOIN qv WHERE vec_id <> 0
         |  ORDER BY qscore DESC, vec_id LIMIT $Ss09K
         |), ex AS (
         |  SELECT e.vec_id FROM embeddings e
         |  CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0
         |  ORDER BY ${sqlCosine("e.embedding", "q.qe", 64)} DESC, e.vec_id
         |  LIMIT $Ss09K
         |)
         |SELECT s.vec_id, s.qscore,
         |  s.vec_id IN (SELECT vec_id FROM ex) AS in_exact10
         |FROM scored s ORDER BY s.qscore DESC, s.vec_id""".stripMargin,
    "tx01_token_stats" -> tx01Oracle,
    "tx02_quality_score" -> tx02Oracle,
    "tx03_langid" -> tx03Oracle,
    "tx04_fingerprint" -> tx04Oracle,
    "tx05_char_ngrams" ->
      ("SELECT bg, COUNT(*) AS n FROM (SELECT unnest([substring(text, i, 2) " +
        "FOR i IN generate_series(1, length(text) - 1)]) AS bg FROM documents) " +
        "GROUP BY bg ORDER BY n DESC, bg LIMIT 20"),
    "tx06_repetition" ->
      """WITH b AS (
        |  SELECT doc_id, unnest([ws[k] || ' ' || ws[k+1]
        |    FOR k IN generate_series(1, len(ws) - 1)]) AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), c AS (
        |  SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY doc_id, bg
        |)
        |SELECT doc_id,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS dup2f,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top2f
        |FROM c GROUP BY doc_id ORDER BY doc_id LIMIT 200""".stripMargin,
    "tx08_curation" -> tx08Oracle,
    "tx09_train_mix" -> {
      val h = sqlRollingHash(s"CAST(doc_id AS VARCHAR) || ':${Tx09Salt}'")
      val quota = s"CASE WHEN lang = 'en' THEN ${Tx09Quotas("en")} ELSE $Tx09Default END"
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
         |FROM documents
         |WHERE ($h) % 100 < $quota
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // REAL BPE counts (recursive-CTE merge loop); the prefix sum and the
    // start-window rule ((cum - own) // ctx) restate packSequences
    "tx10_sequence_packing" ->
      s"""WITH RECURSIVE
         |$bpeOracleCtes, c AS (
         |  SELECT d.source, d.doc_id, b.bpe,
         |    SUM(b.bpe) OVER (PARTITION BY d.source ORDER BY d.doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents d JOIN bpe_doc b USING (doc_id)
         |)
         |SELECT source, CAST((cum - bpe) // $Tx10Ctx AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(bpe) AS BIGINT) AS tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY source, seq_id
         |ORDER BY source, seq_id""".stripMargin,
    "tx11_bpe_census" ->
      s"""WITH RECURSIVE
         |$bpeOracleCtes
         |SELECT d.lang, COUNT(*) AS docs,
         |  CAST(SUM(b.bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(SUM(b.bpe) AS BIGINT) AS bpe_tokens_ids,
         |  CAST(MAX(b.bpe) AS BIGINT) AS max_doc_tokens
         |FROM documents d JOIN bpe_doc b USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // the same bpe_doc inventory, then pure integer plan arithmetic
    "tx15_mix_plan" ->
      s"""WITH RECURSIVE
         |$bpeOracleCtes, avail AS (
         |  SELECT lang, CAST(SUM(b.bpe) AS BIGINT) AS avail
         |  FROM documents d JOIN bpe_doc b USING (doc_id)
         |  GROUP BY lang
         |), tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total FROM avail),
         |shares AS (SELECT * FROM (VALUES ${Tx15Shares
             .map { case (l, p) => s"('$l', $p)" }.mkString(", ")}) s(lang, share)),
         |p AS (
         |  SELECT a.lang, a.avail,
         |    ((t.total * $Tx15BudgetPct) // 100 * COALESCE(s.share, 0)) // 100 AS target
         |  FROM avail a CROSS JOIN tot t LEFT JOIN shares s USING (lang)
         |)
         |SELECT lang, avail, CAST(target AS BIGINT) AS target,
         |  CAST(least(avail, target) AS BIGINT) AS planned,
         |  ROUND(CAST(least(avail, target) AS DOUBLE) / avail, 4) AS rate,
         |  CAST(target - least(avail, target) AS BIGINT) AS deficit
         |FROM p ORDER BY lang""".stripMargin,
    // the scrub restated against DuckDB's RE2 engine — an independent
    // regex implementation, same patterns (GENERATED from PiiPatterns,
    // so the contract can't drift and a new family extends the SQL
    // mechanically); counts use the same scrub semantics as piiCounts
    // (pattern i counted on the text with patterns 0..i-1 redacted);
    // base_hits pins the corpus carries no PII of its own
    "tx16_pii_scrub" -> {
      val pats = TextAnalysis.PiiPatterns
      // col with patterns 0..n-1 redacted, as nested DuckDB SQL
      def scrubColUpTo(col: String, n: Int): String =
        pats.take(n).foldLeft(col) { case (sql, (_, re, tok)) =>
          s"regexp_replace($sql, '$re', '$tok', 'g')" }
      def scrubUpTo(n: Int): String = scrubColUpTo("itext", n)
      val countSql = pats.zipWithIndex.map { case ((name, re, _), i) =>
        s"    len(regexp_extract_all(${scrubUpTo(i)}, '$re')) AS ${name}s," }
        .mkString("\n")
      // base_hits under the SAME progressive-scrub semantics as the
      // Spark side's piiCounts(text) — pattern i counted on text with
      // patterns 0..i-1 redacted — so one shared definition grades the
      // corpus-is-clean pin (independent raw-text counts would disagree
      // on overlapping spans and misreport a dirty corpus as an engine
      // mismatch)
      val baseSql = pats.zipWithIndex.map { case ((_, re, _), i) =>
        s"len(regexp_extract_all(${scrubColUpTo("text", i)}, '$re'))" }.mkString(" + ")
      val sumSql = pats.map { case (name, _, _) =>
        s"  CAST(SUM(${name}s) AS BIGINT) AS ${name}s," }.mkString("\n")
      val anySql = pats.map { case (name, _, _) => s"${name}s" }.mkString(" + ")
      s"""WITH it AS (
         |  SELECT lang, text, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example' ELSE '' END
         |    || CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-' || CAST(doc_id % 10000 AS VARCHAR) ELSE '' END
         |    || CASE WHEN doc_id % 5 = 2 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 3 THEN ' card 4111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-2222-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 11 = 4 THEN ' iban DE' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || 'BANK' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 10, '0') ELSE '' END
         |    || CASE WHEN doc_id % 13 = 5 THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 17 = 6 THEN ' ring +44-20-' || lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') ELSE '' END
         |    AS itext
         |  FROM documents
         |), c AS (
         |  SELECT lang,
         |$countSql
         |    length(${scrubUpTo(pats.size)}) AS clean_len,
         |    $baseSql AS base_hits
         |  FROM it
         |)
         |SELECT lang, COUNT(*) AS docs,
         |$sumSql
         |  CAST(SUM(CASE WHEN $anySql > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS redacted_docs,
         |  CAST(SUM(clean_len) AS BIGINT) AS clean_chars,
         |  CAST(SUM(base_hits) AS BIGINT) AS base_hits
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    },
    "tx12_bpe_token_freq" ->
      s"""WITH RECURSIVE
         |$bpeOracleCtes, vocab(id, tok) AS (
         |  SELECT * FROM (VALUES ${graft.functions.BpeVocab.vocabSqlValues}) v(id, tok)
         |), occ AS (
         |  SELECT e.word, f.seq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
         |  ) e JOIN bpe_final f USING (word) WHERE e.word <> ''
         |), toks AS (
         |  SELECT unnest(list_filter(string_split(seq, '/'), t -> t <> '')) AS tok
         |  FROM occ
         |)
         |SELECT v.id AS tid, t.tok AS token, COUNT(*) AS n
         |FROM toks t JOIN vocab v ON v.tok = t.tok
         |GROUP BY 1, 2 ORDER BY n DESC, token LIMIT 25""".stripMargin,
    "tx07_doc_frequency" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents
        |), f AS (
        |  SELECT word, COUNT(*) AS df FROM w GROUP BY word
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT word, df, ROUND(CAST(df AS DOUBLE) / n_docs, 4) AS df_frac
        |FROM f, n
        |WHERE CAST(df AS DOUBLE) / n_docs >= 0.4
        |ORDER BY df DESC, word""".stripMargin,
    "tx13_lm_quality" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
         |), bg AS (
         |  SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS bigram
         |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t
         |), model AS (
         |  SELECT bigram, COUNT(*) AS c FROM bg WHERE lang = 'en'
         |  GROUP BY 1 ORDER BY c DESC, bigram LIMIT $Tx13TopK
         |), scored AS (
         |  SELECT w.doc_id, w.lang,
         |    COUNT(b.bigram) AS n_bg, COUNT(m.c) AS n_known,
         |    COALESCE(SUM(m.c), 0) AS mass
         |  FROM w LEFT JOIN bg b USING (doc_id) LEFT JOIN model m USING (bigram)
         |  GROUP BY 1, 2
         |)
         |SELECT lang, COUNT(*) AS docs, CAST(SUM(n_bg) AS BIGINT) AS bigrams,
         |  CAST(SUM(n_known) AS BIGINT) AS known,
         |  CAST(SUM(mass) AS BIGINT) AS mass,
         |  CAST(SUM(CASE WHEN n_known * 2 < n_bg THEN 1 ELSE 0 END) AS BIGINT)
         |    AS low_coverage_docs
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin,
    // the analytic twin: a document round-trips iff it is letters+spaces
    // only (otherwise the encoder emits -1 and strict decode nulls), and
    // the appended out-of-vocab id nulls EVERY corrupted decode
    "tx14_bpe_roundtrip" ->
      """SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(CASE WHEN regexp_matches(text, '^[a-z ]*$')
        |    THEN len(replace(text, ' ', '')) ELSE 0 END) AS BIGINT) AS chars,
        |  CAST(SUM(CASE WHEN regexp_matches(text, '^[a-z ]*$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS roundtrips,
        |  COUNT(*) AS corrupt_nulls
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "mm01_multimodal_stub" -> mm01Oracle,
    "mm02_frame_sampling" ->
      ("SELECT lang, COUNT(*) AS n, CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS bytes " +
        "FROM documents WHERE doc_id % 10 = 0 GROUP BY lang ORDER BY lang"),
    // the encode side is pinned by construction (same doc_id arithmetic);
    // a byte-layout or parser bug breaks width/height/bit_depth here
    "mm03_png_decode" ->
      ("SELECT doc_id, CAST(16 + doc_id % 64 AS INTEGER) AS width, " +
        "CAST(16 + (doc_id * 7) % 64 AS INTEGER) AS height, " +
        "CAST(8 AS INTEGER) AS bit_depth, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 6 END AS INTEGER) AS color_type, " +
        "TRUE AS rejects_junk " +
        "FROM documents ORDER BY doc_id LIMIT 200"),
    // lossless codec + solid colour: pixel stats restate arithmetically
    // from the same doc_id → (w, h, r, g, b) mapping the fixture uses
    "mm04_image_decode" ->
      ("SELECT doc_id, CAST(4 + doc_id % 13 AS INTEGER) AS width, " +
        "CAST(3 + (doc_id * 5) % 11 AS INTEGER) AS height, " +
        "CAST((4 + doc_id % 13) * (3 + (doc_id * 5) % 11) AS BIGINT) AS px, " +
        "CAST(doc_id % 256 AS DOUBLE) AS r_mean, " +
        "CAST((doc_id * 3) % 256 AS DOUBLE) AS g_mean, " +
        "CAST((doc_id * 7) % 256 AS DOUBLE) AS b_mean " +
        "FROM documents WHERE doc_id < 400 ORDER BY doc_id"),
    // codec dispatch: the format must come back from the reader ImageIO
    // sniffed, and the stats must survive all three codecs losslessly
    "mm05_codec_dispatch" ->
      ("SELECT doc_id, " +
        "CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' " +
        "ELSE 'gif' END AS fmt, " +
        "CAST(4 + doc_id % 13 AS INTEGER) AS width, " +
        "CAST(3 + (doc_id * 5) % 11 AS INTEGER) AS height, " +
        "CAST((4 + doc_id % 13) * (3 + (doc_id * 5) % 11) AS BIGINT) AS px, " +
        "CAST(doc_id % 256 AS DOUBLE) AS r_mean, " +
        "CAST((doc_id * 3) % 256 AS DOUBLE) AS g_mean, " +
        "CAST((doc_id * 7) % 256 AS DOUBLE) AS b_mean " +
        "FROM documents WHERE doc_id < 300 ORDER BY doc_id"),
    // JPEG is lossy: grade what survives exactly — sniffed format,
    // dimensions, and junk rejection (the %7 rows never appear)
    "mm08_jpeg_dispatch" ->
      ("SELECT doc_id, 'jpeg' AS fmt, " +
        "CAST(8 + doc_id % 17 AS INTEGER) AS width, " +
        "CAST(5 + (doc_id * 3) % 13 AS INTEGER) AS height " +
        "FROM documents WHERE doc_id < 300 AND doc_id % 7 <> 0 ORDER BY doc_id"),
    // audio decode: PCM16 is lossless and integer-exact, so the decoded
    // sample statistics are pure arithmetic in (doc_id, i); i ranges over
    // a fixed series filtered to the per-doc count (DuckDB generate_series
    // rejects lateral column bounds)
    "mm06_audio_decode" ->
      """WITH p AS (
        |  SELECT doc_id, 50 + doc_id % 50 AS n,
        |         CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate
        |  FROM documents WHERE doc_id < 300
        |), s AS (
        |  SELECT p.doc_id, p.sample_rate,
        |    (p.doc_id * 31 + t.i * 7) % 65536 - 32768 AS v
        |  FROM p, generate_series(0, 98) AS t(i)
        |  WHERE t.i < p.n
        |)
        |SELECT doc_id, MAX(sample_rate) AS sample_rate,
        |  CAST(1 AS INTEGER) AS channels,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(ABS(v)) AS INTEGER) AS peak
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same tone wave, framewise: v at sample i, pv at i-1 (only read
    // when i is not a frame start), full frames only on both sides
    "mm09_audio_frames" ->
      s"""WITH p AS (
         |  SELECT doc_id, 50 + doc_id % 50 AS n
         |  FROM documents WHERE doc_id < 300
         |), s AS (
         |  SELECT p.doc_id, t.i,
         |    CAST(t.i // $Mm09FrameLen AS INTEGER) AS frame,
         |    (p.doc_id * 31 + t.i * 7) % 65536 - 32768 AS v,
         |    (p.doc_id * 31 + (t.i - 1) * 7) % 65536 - 32768 AS pv
         |  FROM p, generate_series(0, 98) AS t(i)
         |  WHERE t.i < (p.n // $Mm09FrameLen) * $Mm09FrameLen
         |)
         |SELECT doc_id, frame, CAST(COUNT(*) AS INTEGER) AS n,
         |  CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
         |  CAST(MAX(ABS(v)) AS INTEGER) AS peak,
         |  CAST(SUM(CASE WHEN i % $Mm09FrameLen > 0
         |    AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS INTEGER)
         |    AS crossings
         |FROM s GROUP BY doc_id, frame ORDER BY doc_id, frame""".stripMargin,
    // resize: output dims are the TARGET dims; a solid colour survives
    // nearest-neighbor resampling and the lossless PNG re-encode exactly
    "mm07_image_resize" ->
      ("SELECT doc_id, " +
        "CAST(3 + doc_id % 9 AS INTEGER) AS width, " +
        "CAST(2 + (doc_id * 3) % 7 AS INTEGER) AS height, " +
        "CAST((3 + doc_id % 9) * (2 + (doc_id * 3) % 7) AS BIGINT) AS px, " +
        "CAST(doc_id % 256 AS DOUBLE) AS r_mean, " +
        "CAST((doc_id * 3) % 256 AS DOUBLE) AS g_mean, " +
        "CAST((doc_id * 7) % 256 AS DOUBLE) AS b_mean " +
        "FROM documents WHERE doc_id < 300 ORDER BY doc_id"),
    // every hash bit re-derived arithmetically from the shared pattern
    // (base*7 + gx*13 + gy*29) % 256 — lossless PNG + copied-pixel
    // downsample means the real codec path must reproduce it exactly
    "mm10_phash_dedup" ->
      s"""WITH b AS (
         |  SELECT doc_id, doc_id % $Mm10Groups AS base
         |  FROM documents WHERE doc_id < 300
         |), h AS (
         |  SELECT doc_id,
         |    bit_or(CASE WHEN (base*7 + (x+1)*13 + y*29) % 256
         |                   > (base*7 + x*13 + y*29) % 256
         |      THEN CAST(1 AS BIGINT) << (y*8 + x) ELSE CAST(0 AS BIGINT) END) AS dhash
         |  FROM b,
         |    generate_series(0, ${Multimodal.DHashW - 1}) AS gx(x),
         |    generate_series(0, ${Multimodal.DHashH - 1}) AS gy(y)
         |  GROUP BY doc_id
         |)
         |SELECT MIN(doc_id) AS survivor, dhash, COUNT(*) AS n_dups
         |FROM h GROUP BY dhash ORDER BY survivor""".stripMargin,
  )
}
