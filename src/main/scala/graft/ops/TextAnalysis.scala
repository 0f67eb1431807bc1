package graft.ops

import graft.functions.exprs
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: token counting, quality
  * scoring, language identification, document fingerprinting. All plain
  * column arithmetic over the tokens array — runs inside whole-stage
  * codegen, no UDFs, and each formula has an exact DuckDB equivalent for
  * the oracle.
  */
object TextAnalysis {

  /** Stopword list shared with the oracle (kept tiny and fixed —
    * the scoring contract, not a linguistic claim). */
  final val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Language marker words for the n-gram/marker langid heuristic.
    * Priority order breaks ties deterministically. */
  final val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "das"),
    "fr" -> Seq("le", "les", "et"))

  def tokens(text: Column): Column = split(text, " ")

  /** Fused per-document token statistics — struct(tc, sc, cl, bpe) =
    * (token count, stopword count, summed token length, BPE-ish subword
    * estimate) in one pass over the text (graft_token_stats kernel).
    * Every multi-metric consumer (tx01, qualityScore) reads fields off
    * this struct instead of re-splitting the text per metric. */
  def tokenStats(text: Column): Column = exprs.token_stats(text, Stopwords)

  /** BPE-ish token estimate: words are roughly ceil(len/4) subword units
    * — the standard chars/4 heuristic, summed per word so whitespace
    * never counts. Kept as the cheap screening path; real counts are
    * [[bpeCount]]. */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long"))

  /** REAL merge-table BPE token count ([[graft.functions.BpeVocab]]
    * fixture vocab; graft_bpe_count codegen kernel). The contract number
    * for mix ratios, packing and compute cost — an estimate silently
    * mis-sizes all three. */
  def bpeCount(text: Column): Column = graft.functions.bpe.bpe_count(text)

  /** Token-id sequence of the text (ARRAY<INT>; 'a'..'z' → 0..25, merge
    * rank r → 26+r, unknown char → -1) — what actually ships to a
    * trainer. */
  def bpeTokenIds(text: Column): Column = graft.functions.bpe.bpe_token_ids(text)

  /** Detokenize an id sequence (space-free inverse of [[bpeTokenIds]];
    * strict null on any out-of-vocab id — see
    * [[graft.functions.BpeUtil.decode]]). */
  def bpeDecode(ids: Column): Column = graft.functions.bpe.bpe_decode(ids)

  /** Composite quality score in [0,1]:
    * 0.5·min(tokens/100,1) + 0.3·min(stopword_ratio·5,1) + 0.2·lenScore
    * where lenScore = 1 if mean word length in [3,8], else 0.
    * All three metrics read off one fused tokenStats evaluation.
    */
  def qualityScore(text: Column): Column = qualityScoreFromStats(tokenStats(text))

  /** Quality score from an already-computed [[tokenStats]] struct.
    * Evaluated as ONE division of exact integer numerator/denominator —
    * score = (5·tc·min(tc,100) + 300·min(5·sc,tc) + 200·tc·shape) /
    * (1000·tc) — so the emitted double is bit-identical in any engine
    * under any evaluation order; the previous ROUND of chained float
    * arithmetic flipped at representation boundaries (one sf0.1 row).
    * Empty documents (tc = 0) score 0. */
  def qualityScoreFromStats(ts: Column): Column = {
    val tc = ts.getField("tc").cast("long")
    val sc = ts.getField("sc").cast("long")
    val cl = ts.getField("cl")
    val num = lit(5L) * tc * least(tc, lit(100L)) +
      lit(300L) * least(lit(5L) * sc, tc) +
      when(cl >= lit(3L) * tc && cl <= lit(8L) * tc, lit(200L) * tc).otherwise(lit(0L))
    when(tc === 0L, lit(0.0))
      .otherwise(num.cast("double") / (tc * lit(1000L)).cast("double"))
  }

  /** Marker-word language id: argmax of per-language marker counts, ties
    * broken by LangMarkers order, 'und' when no marker hits. */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, markers) =>
      lang -> exprs.count_in_set(tokens(text), markers)
    }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und"): Column) { case ((lang, c), acc) =>
      when(c === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** 64-bit-ish document fingerprint: polynomial rolling hash of the full
    * text (native codegen expression; oracle = list_reduce char fold). */
  def fingerprint(text: Column): Column = exprs.rolling_hash(text)

  /** Word bigrams of `text` in order (with repeats — repetition metrics
    * need the multiset, unlike [[graft.ops.Dedup.shingles]]). Fused
    * codegen kernel; one pass over the text instead of the interpreted
    * transform/sequence/slice/concat_ws chain. */
  def wordBigrams(text: Column): Column = exprs.word_ngrams(text, 2)

  /** Gopher-style repetition metrics per document:
    * `dup2f` = fraction of bigram occurrences that are repeats
    * (1 − distinct/total), `top2f` = most frequent bigram's share.
    * Heavily repetitive (boilerplate / generated) text scores high on
    * both and gets filtered before training.
    *
    * Plan: explode bigrams → (doc, bigram) hash agg → per-doc hash agg —
    * two shuffles with map-side partials, linear in corpus size; the
    * per-row alternative (array_distinct + per-element frequency scan)
    * is O(len²) per document and was rejected.
    */
  def repetitionMetrics(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"), explode(wordBigrams(col(textCol))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("total"), count(lit(1)).as("dist"), max("cnt").as("top"))
      .select(col("doc_id"),
        round(lit(1.0) - col("dist").cast("double") / col("total"), 4).as("dup2f"),
        round(col("top").cast("double") / col("total"), 4).as("top2f"))

  /** Deterministic stratified sampling for training-mix rebalancing:
    * a document is kept iff rolling_hash(id ⧺ ":" ⧺ salt) mod 100 falls
    * under its stratum's percentage quota. Hash-based (not rand()) so
    * the sample is reproducible across runs, engines and partitionings —
    * the property a data-mix spec needs — and membership is row-local
    * (no shuffle; the census afterwards is one hash agg). */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      stratumCol: String, quotas: Map[String, Int], defaultQuota: Int,
      salt: String): org.apache.spark.sql.DataFrame = {
    val h = pmod(exprs.rolling_hash(
      concat(col(idCol).cast("string"), lit(":" + salt))), lit(100))
    val quota = quotas.foldLeft(lit(defaultQuota)) { case (acc, (k, q)) =>
      when(col(stratumCol) === k, lit(q)).otherwise(acc)
    }
    df.filter(h < quota)
  }

  /** Greedy sequence packing (concat-and-chunk, the standard GPT-style
    * pretraining layout): documents are laid head to tail in
    * deterministic (shard, order) order and cut into fixed `ctxTokens`
    * windows; a document belongs to the sequence its FIRST token lands
    * in (`seq_id = (running_total - own_tokens) div ctxTokens`). The
    * final packing step of a training pipeline, downstream of token
    * stats (tx01), quality (tx02/tx08), dedup (dd*) and mixing (tx09).
    *
    * Scale: packing needs a total order, which is a single-partition
    * sort at corpus scale — so it is computed PER SHARD (one window per
    * `shardCol` group, one shuffle total). That matches production
    * practice: sequences never span shard/worker boundaries, and the
    * shard key (source, file, worker split) bounds each sort. A
    * whole-corpus order would serialize 100 TB through one task and is
    * deliberately not offered.
    *
    * `orderCol` must be a total order within each shard (a ROWS-frame
    * prefix sum over tied keys is tie-order dependent on any engine);
    * use a unique id. */
  def packSequences(df: org.apache.spark.sql.DataFrame, shardCol: String,
      orderCol: String, tokCol: String, ctxTokens: Long): org.apache.spark.sql.DataFrame = {
    require(ctxTokens > 0, s"packSequences needs ctxTokens > 0, got $ctxTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("__graft_cum", sum(col(tokCol).cast("long")).over(w))
      .withColumn("seq_id",
        expr(s"(__graft_cum - cast(`$tokCol` as bigint)) div $ctxTokens"))
      .drop("__graft_cum")
  }

  /** Reference bigram language model for CCNet-style quality scoring:
    * the `topK` most frequent word bigrams of a trusted reference slice
    * (e.g. a wiki-like source) with their counts. The cap is the scale
    * contract — whatever the reference corpus size, the model is at most
    * `topK` rows, so scoring can ALWAYS broadcast it; a real CCNet
    * deployment ships a fixed-size model file for the same reason.
    * Deterministic under ties (count desc, then bigram). */
  def bigramLmModel(ref: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int): org.apache.spark.sql.DataFrame =
    ref.select(explode(wordBigrams(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("bg_count"))
      .sort(col("bg_count").desc, col("bigram"))
      .limit(topK)

  /** Per-document LM coverage against a [[bigramLmModel]] — the
    * integer-exact stand-in for perplexity (log-prob sums are
    * float-summation-order dependent across engines; counts are not):
    * `n_bigrams` the document's bigram occurrences, `n_known` how many
    * of them the model has seen, `mass` the summed model counts of the
    * known ones. Low `n_known`/`n_bigrams` coverage means the document's
    * word transitions are alien to the reference corpus — the same
    * signal a perplexity filter thresholds on. Plan: row-local explode →
    * broadcast-hash left join (the model is capped) → one hash agg; no
    * shuffle grows with the model. `carryCols` ride along through the
    * explode into the group key (a language or source tag the caller
    * will aggregate by next) — carrying them is free row-local width,
    * where joining them back afterwards would be a second doc-count-
    * sized shuffle. */
  def lmCoverage(docs: org.apache.spark.sql.DataFrame, model: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, carryCols: String*): org.apache.spark.sql.DataFrame = {
    val keys = col(idCol) +: carryCols.map(col)
    docs.select(keys :+ explode_outer(wordBigrams(col(textCol))).as("bigram"): _*)
      .join(broadcast(model), Seq("bigram"), "left")
      .groupBy(keys: _*)
      .agg(count(col("bigram")).as("n_bigrams"),
        count(col("bg_count")).as("n_known"),
        coalesce(sum(col("bg_count")), lit(0L)).as("mass"))
  }

  /** PII patterns shared verbatim with the oracle — (name, regex,
    * redaction token), applied in order. The regex subset is chosen to
    * mean the same thing in Java's engine and RE2-style engines
    * (character classes, bounded repeats, no backrefs/lookaround), so
    * Spark's codegen'd regexp_replace/regexp_count and DuckDB's
    * regexp_replace(..., 'g')/regexp_extract_all agree byte for byte.
    * The list is the scrubbing CONTRACT (what a compliance pass removes
    * before training), not a claim of linguistic coverage. */
  final val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+", "<EMAIL>"),
    ("phone", "\\+1-555-[0-9]+", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("card", "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}", "<CARD>"),
    ("iban", "[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}", "<IBAN>"),
    // government-id (SSN-shaped 3-2-4): ordered AFTER card so 4-4-4-4
    // digit groups are claimed by the card family first — on the
    // scrubbed text a card's groups can never re-fire as an SSN
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    // locale-aware phone (UK-style +44-AA-NNNNNNN), distinct from the
    // NANP +1-555 family above: a scrub contract that only knows one
    // country's phone shape ships PII for every other locale
    ("ukphone", "\\+44-[0-9]{2}-[0-9]{7}", "<UKPHONE>"))

  /** Per-pattern PII match counts of `text`, in [[PiiPatterns]] order —
    * row-local codegen'd regexp_count columns (the detection census a
    * privacy review reads before any redaction ships).
    *
    * Counts use SCRUB semantics: pattern i is counted on the text with
    * patterns 0..i-1 already redacted — exactly the text [[piiScrub]]
    * hands pattern i — so the census always agrees with what the scrub
    * redacts. An overlapping span (a dotted quad inside an email local
    * part, say) counts ONCE, for the first pattern that claims it;
    * counting every pattern on the raw text instead would double-count
    * it and report more hits than redactions. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.foldLeft((Seq.empty[(String, Column)], text)) {
      case ((acc, t), (name, re, token)) =>
        (acc :+ (name -> regexp_count(t, lit(re))),
          regexp_replace(t, re, token))
    }._1

  /** `text` with every [[PiiPatterns]] match replaced by its redaction
    * token, patterns applied in list order (email before ip, so a
    * dotted-quad inside an already-redacted email can't double-fire;
    * [[piiCounts]] counts on the same progressively-scrubbed text, so
    * census and redactions agree span for span).
    * Row-local, no shuffle — the map stage of a corpus scrub. */
  def piiScrub(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, re, token)) =>
      regexp_replace(c, re, token) }

  /** Corpus-level document frequency: for each word, in how many
    * documents it appears (`df`) and the fraction of the corpus
    * (`df_frac`) — the data-driven stopword/boilerplate discovery pass
    * of a curation pipeline. Per-doc distinct words are row-local
    * (array_distinct before the explode keeps the exchange at one row
    * per (doc, word), not per occurrence); one hash agg on the word. */
  def documentFrequency(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    df.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("word"), col("df"),
        (col("df").cast("double") / col("n_docs")).as("df_frac"))
  }
}
