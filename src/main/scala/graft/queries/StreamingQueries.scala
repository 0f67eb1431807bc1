package graft.queries

import graft.ops.Clustering
import graft.streaming.{AnnIngest, EventStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming queries, run to completion (Trigger.AvailableNow + memory
  * sink) so the result is a deterministic DataFrame the DuckDB oracle can
  * check: st01 tumbling-window aggregation, st02 stateful sessionization
  * (oracle = gaps-and-islands SQL, excluding each user's final —
  * still-open — session).
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Stateful micro-batch queries pay a per-partition constant (state
    * store open/commit/snapshot) per batch that dwarfs the data at test
    * scale and is pure overhead even at 100 TB unless the state itself is
    * large (a stream-stream join opens FOUR stores per partition per
    * side). 2 is the measured local sweet spot: vs 4 it cut the
    * st-family total ~20%; 1 is faster still on lifecycle-dominated
    * queries but serializes the real per-key work (sessionization lost
    * 40%). This is the RUN-TO-COMPLETION VERIFICATION harness setting —
    * a production continuous stream sizes state partitions to cluster
    * parallelism and keyspace, not to 2. The count is fixed into the
    * (fresh) checkpoint at query start, so it cannot disagree with a
    * prior run. Results are partition-count invariant — pinned by the
    * DuckDB oracles. */
  private val streamStatePartitions = "2"

  /** Shared by the st-queries and pc11 (the streaming LAS read).
    *
    * Checkpoints (offset/commit logs + every state-store delta file, all
    * fsync-heavy) go to tmpfs when the host has one with headroom
    * ([[graft.Fs.fastTempBase]], re-checked per query so a tmpfs that
    * fills mid-run demotes to disk instead of failing) — a
    * run-to-completion memory-sink query needs no durability, and the
    * default disk-backed temp dir charges each micro-batch a filesystem
    * round trip. Falls back to the JVM temp dir elsewhere. */
  private[queries] def runToCompletion(df: DataFrame, name: String,
      mode: String): DataFrame = runToCompletion(df, name, mode, None, None)

  private[queries] def runToCompletion(df: DataFrame, name: String,
      mode: String, midStream: Option[() => Unit]): DataFrame =
    runToCompletion(df, name, mode, midStream, None)

  /** Like [[runToCompletion]], but with an optional mid-stream action:
    * after the first drain, `land()` runs (typically copying new source
    * files into the streamed directory) and the query drains again —
    * files LANDING while the query is live, the actual continuous-ingest
    * shape. Uses the default trigger rather than AvailableNow, which
    * snapshots the available data at start and would never see the
    * landed files.
    *
    * `providerClass`, when set, selects the state-store backend for
    * THIS query (fixed into its fresh checkpoint at start, restored
    * after) — how st10 grades the RocksDB provider the 100 TB state
    * story defers to, against the same oracle as the heap run.
    *
    * `noDataBatch = false` disables the trailing watermark-advancing
    * no-data micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`)
    * for THIS query. A no-data batch runs the full stateful plan (state
    * store load + commit per partition per operator) to let the advanced
    * watermark EVICT state and, for some sinks, EMIT finalized rows — at
    * this harness's 2 state partitions it costs nearly as much as the
    * data batch. Callers may disable it ONLY when the final answer
    * provably cannot depend on it: a complete-mode sink rewrites the
    * whole result table every batch (the no-data rewrite is
    * byte-identical), and an INNER stream-stream join emits matches in
    * the data batch that pairs them (eviction emits nothing). Append-
    * mode AGGREGATIONS must keep it — their rows only emit when the
    * watermark passes the window. Production continuous streams keep
    * the default: there the tick is amortized and eviction is the
    * point. */
  private[queries] def runToCompletion(df: DataFrame, name: String,
      mode: String, midStream: Option[() => Unit],
      providerClass: Option[String],
      noDataBatch: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    // SESSION-GLOBAL conf mutation (same pattern as shuffle.partitions
    // below): set → run → restore assumes the graded queries run ONE AT
    // A TIME in this session — a streaming query started concurrently
    // during the window would silently pick up this provider. The
    // driver's grading loop is single-threaded; a concurrent harness
    // would need these queries built on spark.newSession() so the
    // override stays session-local.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    providerClass.foreach(spark.conf.set(providerKey, _))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevMaint = spark.conf.getOption("spark.sql.streaming.stateStore.maintenanceInterval")
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    spark.conf.set("spark.sql.shuffle.partitions", streamStatePartitions)
    // a run-to-completion query never benefits from the background
    // snapshot/cleanup tick (providers are unloaded right below); pushing
    // it past any realistic run length keeps it from racing the timed
    // region and showing up as ±0.3 s bench jitter
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "10m")
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNoData = spark.conf.getOption(noDataKey)
    if (!noDataBatch) spark.conf.set(noDataKey, "false")
    val ckptDir = graft.Fs.fastTempBase.map(base =>
      java.nio.file.Files.createTempDirectory(base, s"graft_ckpt_$name"))
    try {
      val writer = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
      // AvailableNow snapshots the source at start — correct for a fixed
      // dataset, but it would never pick up files landed mid-stream
      if (midStream.isEmpty) writer.trigger(Trigger.AvailableNow())
      ckptDir.foreach(p => writer.option("checkpointLocation", p.toString))
      val q = writer.start()
      try {
        q.processAllAvailable()
        midStream.foreach { land => land(); q.processAllAvailable() }
      } finally q.stop()
    } finally {
      // explicit checkpoints aren't force-deleted; best-effort tmpfs cleanup
      ckptDir.foreach(graft.Fs.deleteRecursively)
      if (providerClass.isDefined) prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      if (!noDataBatch) prevNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
      prevMaint match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.maintenanceInterval")
      }
      // Drop this query's loaded state-store providers now instead of
      // waiting for the 60 s maintenance tick: back-to-back stateful
      // queries otherwise accumulate every stopped query's in-memory
      // version maps (the round-2 bench degradation shape).
      org.apache.spark.sql.graftglue.Bridge.unloadStateStores()
    }
    spark.table(name)
  }

  /** st01: tumbling 1-hour windows per event type (complete mode). */
  private val st01: Q = (s, d) => {
    val stream = EventStreams.readEventStream(s, d)
    val out = runToCompletion(
      EventStreams.windowedCounts(stream, "1 hour"), "graft_st01", "complete")
    out.select(col("window.start").as("ws"), col("event_type"), col("n"), col("sv"))
      .sort("ws", "event_type")
  }

  /** st02: 30-minute-gap sessions via flatMapGroupsWithState. */
  private val st02: Q = (s, d) => {
    val stream = EventStreams.toTypedEvents(EventStreams.readEventStream(s, d))
    val sessions = EventStreams.sessionize(stream, 30)
    val out = runToCompletion(sessions.toDF(), "graft_st02", "update")
    out.select(
        col("user_id"),
        col("start_us"),
        col("end_us"),
        col("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .sort("user_id", "start_us")
  }

  /** st03: Spark's native session_window aggregation (complete mode —
    * no watermark needed, all sessions emit). A session's end is the
    * last event time + gap; events merge while strictly inside the
    * previous window, so the oracle breaks on `ts - prev >= gap`. */
  private val st03: Q = (s, d) => {
    val stream = EventStreams.readEventStream(s, d)
    val agg = stream
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
    val out = runToCompletion(agg, "graft_st03", "complete")
    out.select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n"), col("sv"))
      .sort("user_id", "start_us")
  }

  /** st04: stream-stream interval join — purchases correlated to the
    * same user's signup within 12 hours (watermarks bound the join
    * state; inner matches emit as found, so a run-to-completion pass
    * yields exactly the batch join's rows). */
  private val st04: Q = (s, d) => {
    val ev = EventStreams.readEventStream(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("ts").as("sts"))
      .withWatermark("sts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("value"))
      .withWatermark("pts", "1 hour")
    val joined = signups.join(purchases,
      expr("su = pu AND pts >= sts AND pts <= sts + INTERVAL 12 HOURS"))
    // INNER join: matches emit in the data batch that pairs them; the
    // trailing no-data batch only evicts state, so it is skipped (see
    // runToCompletion's noDataBatch contract)
    val out = runToCompletion(joined, "graft_st04", "append",
      None, None, noDataBatch = false)
    out.select(col("su").as("user_id"),
        unix_micros(col("sts")).as("signup_us"),
        unix_micros(col("pts")).as("purchase_us"),
        round(col("value"), 2).as("value"))
      .sort("user_id", "signup_us", "purchase_us")
      .limit(500)
  }

  /** st05: streaming ingest dedup — dropDuplicatesWithinWatermark on
    * event_id (the exactly-once ingestion shape: retried/replayed events
    * collapse to one, and the watermark bounds the dedup state instead
    * of letting it grow forever). The events table has unique event_ids,
    * so the oracle is the full per-type census — what matters is that
    * the stateful dedup emits each id exactly once. */
  private def st05Pipeline(s: SparkSession, d: String, name: String,
      providerClass: Option[String]): DataFrame = {
    val ev = EventStreams.readEventStream(s, d)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val agg = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
    // complete-mode aggregate above the dedup so every group emits;
    // the no-data batch would rewrite the identical complete-mode table
    // (it only evicts expired dedup state), so it is skipped
    val out = runToCompletion(agg, name, "complete", None, providerClass,
      noDataBatch = false)
    out.select(col("event_type"), col("n"), col("sv")).sort("event_type")
  }

  private val st05: Q = (s, d) => st05Pipeline(s, d, "graft_st05", None)

  /** st10: st05's stateful dedup + aggregate graded ON THE ROCKSDB
    * state store — the disk-backed provider a 100 TB continuous
    * pipeline actually deploys (heap state caps at executor memory;
    * RocksDB spills per-partition state to local SSD with bounded
    * block-cache memory). Same pipeline, same oracle, down to the
    * value: the provider is a deployment knob, never a semantics knob,
    * and this entry makes that claim a graded fact rather than a spec
    * aside. Two stateful operators exercise the store (the
    * watermark-bounded dedup buffer and the complete-mode aggregate). */
  private val st10: Q = (s, d) => st05Pipeline(s, d, "graft_st10", Some(
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** st06's sketch size (shared with its oracle). */
  private final val St06K = 64

  /** st06: streaming approximate COUNT(DISTINCT) — per-event-type
    * distinct-user estimates from the KMV sketch aggregate running as
    * streaming state. Spark refuses exact distinct aggregation on a
    * stream (state would be unbounded per group); the k-minimum-values
    * buffer is the answer: constant memory per group, merges across
    * micro-batches bit-identically to a single pass, so the batch oracle
    * checks the streaming run value-for-value. */
  private val st06: Q = (s, d) => {
    val ev = EventStreams.readEventStream(s, d)
    val agg = ev
      .select(col("event_type"),
        graft.functions.exprs.kmv_hash(col("user_id").cast("string")).as("h"))
      .groupBy(col("event_type"))
      .agg(graft.functions.exprs.kmv_distinct(col("h"), St06K).as("kmv"))
    val out = runToCompletion(agg, "graft_st06", "complete")
    out.select(col("event_type"), col("kmv.kth").as("kth"),
        round(col("kmv.est"), 2).as("est"))
      .sort("event_type")
  }

  /** st07: streaming near-duplicate ADMISSION GATE — documents flow
    * through [[graft.streaming.StreamingDedup.bandGate]] (row-local
    * fused MinHash banding, then one long of state per LSH bucket:
    * the smallest doc id that claimed it), and a document is admitted
    * iff none of its band buckets was claimed by a smaller id. The
    * batch post-processing assembles the admitted corpus; the oracle
    * restates the same rule declaratively over all pairs ("collides
    * iff a smaller-id doc shares a bucket"), which the gate's
    * smallest-first chain semantics provably equal under in-order
    * arrival. The streaming twin of dd09's batch screen — corpus
    * growth screens only new arrivals, never re-scans. */
  private def st07Pipeline(s: SparkSession, d: String, name: String,
      providerClass: Option[String]): DataFrame = {
    val hits = graft.streaming.StreamingDedup.bandGate(
      graft.streaming.StreamingDedup.readDocumentStream(s, d), "doc_id", "text").toDF()
    val out = runToCompletion(hits, name, "append", None, providerClass)
    val coll = out.filter(col("hit")).select(col("id")).distinct()
    graft.Tables.documents(s, d)
      .join(coll, col("doc_id") === col("id"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .sort("doc_id")
  }

  private val st07: Q = (s, d) => st07Pipeline(s, d, "graft_st07", None)

  /** st11: st07's near-dup admission gate graded on ROCKSDB — the
    * CUSTOM-state complement to st10: st05/st10 exercise Spark's
    * built-in dedup/aggregation state encodings, while the band gate
    * keeps arbitrary user state (one long per LSH bucket) under
    * `flatMapGroupsWithState`, the riskier provider seam a bespoke
    * streaming operator actually depends on. Same pipeline, same
    * oracle, value-identical or the hash breaks. */
  private val st11: Q = (s, d) => st07Pipeline(s, d, "graft_st11", Some(
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** st08: streaming DECONTAMINATION gate — dd13's benchmark 8-gram
    * screen at the ingest front door. The static side is the eval
    * suite's distinct-gram set (broadcast-size by construction); each
    * arriving document first passes a ROW-LOCAL Bloom membership screen
    * over its gram ROLLING HASHES ([[graft.ops.Joins.bloomTestFor]]
    * inside `exists`, probing the fused
    * [[graft.ops.Dedup.shingleHashes]] kernel — the clean majority is
    * dismissed without ever materializing a gram string; the Bloom is
    * built over `rolling_hash(gram)` of the reference set, and a
    * rolling-hash collision can only ADD a false positive), and only
    * Bloom-positive docs explode their gram STRINGS into the exact
    * stream-static broadcast join that eliminates false positives. The
    * output census (the admitted clean corpus per language) is exact —
    * the Bloom can only send extra docs to the join, never hide one —
    * so the oracle is dd13's contamination rule restated on the clean
    * side. At 100 TB the gate is the shape that matters: per-row work is
    * one fused hash pass + k long-hashes per gram for the
    * overwhelmingly-clean majority; state-free (the benchmark is
    * static), unlike st07's corpus-membership gate.
    *
    * The text is DELIBERATELY tokenized twice on the stream side — once
    * inside the `exists` hash-screen kernel, once in the string-shingle
    * explode for Bloom-positives. Both are row-local; only the rare
    * positives pay the second pass. Caching an array between the two
    * operators would force a materialization boundary BEFORE the
    * stateless screen — a shuffle-or-persist the clean majority never
    * needed — so do not "optimize" the recompute away. */
  private val st08: Q = (s, d) => {
    import graft.ops.{Dedup, Joins}
    val benchGrams = graft.Tables.documents(s, d)
      .filter(col("doc_id") % OpsQueries.Dd13Mod === 0)
      .select(explode(Dedup.shingles(col("text"), OpsQueries.Dd13Ngram)).as("gram"))
      .distinct()
      .localCheckpoint(eager = true) // static side: bloom build + exact join read it once
    // measure-then-size-or-escalate, at the DOCUMENT design point: the
    // screen's unit is an exists() over a doc's ~50 grams, so a
    // per-gram fp of 1% compounds to a ~40% per-doc pass rate and the
    // screen degenerates to a pass-through (the sf1 probe surfaced
    // exactly that: 18k Bloom-positives for 190 truly contaminated
    // docs, every one paying the explode+join). 24 bits/gram with k = 8
    // holds the per-doc fp near 0.2% up to the ScreenMaxBits budget
    // (~44M grams — a benchmark-suite set, not a corpus); a reference
    // set beyond it ESCALATES to the exact join alone (screen = None):
    // a capped filter's fp would compound back toward pass-through and
    // its k hashes per gram would buy nothing. Either way the output
    // is exact — the screen only ever forwards extra docs to the join.
    // the screen probes ROLLING HASHES (the fused shingleHashes kernel:
    // O(chars + grams) per doc, zero gram strings) against a Bloom built
    // over rolling_hash(gram) of the reference set — value-identical
    // hashes by the shingle_hash_set contract, so a string-gram match
    // always passes the screen and a hash collision only forwards one
    // extra doc to the exact join
    val benchGramHashes = benchGrams.select(
      graft.functions.exprs.rolling_hash(col("gram")).as("gh"))
    val (_, screen) = Joins.bloomScreenFor(benchGramHashes, "gh",
      bitsPerKey = 24, k = 8, maxBits = Joins.ScreenMaxBits)
    val stream = graft.streaming.StreamingDedup.readDocumentStream(s, d)
      .filter(col("doc_id") % OpsQueries.Dd13Mod =!= 0)
    val screened = screen.fold(stream)(test =>
      stream.filter(exists(Dedup.shingleHashes(col("text"), OpsQueries.Dd13Ngram), test)))
    val hits = screened
      .select(col("doc_id"), explode(
        Dedup.shingles(col("text"), OpsQueries.Dd13Ngram)).as("gram"))
      .join(benchGrams, Seq("gram"))
      .select(col("doc_id"))
    val out = runToCompletion(hits, "graft_st08", "append")
    val contaminated = out.distinct()
    graft.Tables.documents(s, d)
      .filter(col("doc_id") % OpsQueries.Dd13Mod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("clean_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("clean_tokens"))
      .sort("lang")
  }

  /** st09's bar width in microseconds (1-hour tumbling bars — matches
    * the `window(ts, "1 hour")` epoch-aligned buckets). */
  private final val St09BarUs = 3600L * 1000000L

  /** st09: streaming OHLC bars ([[graft.streaming.EventStreams.ohlcBars]])
    * — the live metrics-store compaction, tp07's streaming twin: per
    * (hour bar, user) open/high/low/close/count over click values, with
    * open/close picked under the total (time, id) order by mergeable
    * min_by/max_by state so micro-batch boundaries can never change a
    * bar. Complete mode for the deterministic verification run; the
    * oracle re-derives open/close with ROW_NUMBER windows exactly like
    * tp07's, so the streaming state merge is graded value-identical to
    * the batch aggregate. */
  private val st09: Q = (s, d) => {
    val ev = EventStreams.readEventStream(s, d)
      .filter(col("event_type") === "click")
    val out = runToCompletion(
      EventStreams.ohlcBars(ev, "1 hour"), "graft_st09", "complete")
    out.select(col("user_id"), unix_micros(col("window.start")).as("bar_us"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
      .sort("user_id", "bar_us")
  }

  /** st12's stable sink token: idempotence keys on (token, epochId), so
    * the token must survive a query restart — a per-run id would make
    * every replayed epoch land as a duplicate. */
  private final val St12Token = "st12ingest"

  private val st12Layout = oncePerDataset { (s, d) =>
    val e = graft.Tables.embeddings(s, d)
    val model = Clustering.loadTwoLevel(s, OpsQueries.twoLevelSavedPath(s, d))
    val dir = graft.Fs.jvmTempDir("graft_st12")
    val landing = dir.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    val layout = dir.resolve("layout").toString
    // land one batch as ONE flat file the file source will pick up
    def land(df: DataFrame, name: String): Unit = {
      val tmp = dir.resolve(name + "_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val st = java.nio.file.Files.list(tmp)
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally st.close()
      }
      java.nio.file.Files.move(part, landing.resolve(name + ".parquet"))
      graft.Fs.deleteRecursively(tmp)
    }
    land(e.filter(col("vec_id") =!= 0 && col("vec_id") % 5 =!= 1), "batch0")
    val lastDataEpoch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val ingest: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (b, ep) =>
        // default-trigger streams may fire data-free batches; they must
        // neither advance the replayed-epoch marker nor touch the layout
        if (!b.isEmpty) {
          lastDataEpoch.updateAndGet(m => math.max(m, ep))
          AnnIngest.appendBatchIdempotent(b.toDF(), ep,
            "vec_id", "embedding", model, layout, St12Token)
        }
    val ckpt = graft.Fs.fastTempBase
      .map(base => java.nio.file.Files.createTempDirectory(base, "graft_ckpt_st12"))
      .getOrElse(dir.resolve("ckpt"))
    val q = s.readStream.schema(e.schema).parquet(landing.toString)
      .writeStream.foreachBatch(ingest)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      q.processAllAvailable()
      // the NEW batch lands while the query is live — continuous ingest
      land(e.filter(col("vec_id") =!= 0 && col("vec_id") % 5 === 1), "batch1")
      q.processAllAvailable()
    } finally {
      q.stop()
      graft.Fs.deleteRecursively(ckpt)
    }
    // restart replay, graded: re-apply the final epoch with identical
    // content — exactly what a checkpoint-restarted query does to an
    // uncommitted epoch; the census below catches any duplication
    AnnIngest.appendBatchIdempotent(
      s.read.schema(e.schema)
        .parquet(landing.resolve("batch1.parquet").toString),
      lastDataEpoch.get(), "vec_id", "embedding", model, layout, St12Token)
    layout
  }

  /** st12: STREAMING INGEST INTO A SERVED ANN LAYOUT — the st×ss
    * composition a LIVE embedding index runs: embedding batches LAND as
    * files (the second batch arrives while the query is running — the
    * continuous-ingest shape), each micro-batch is assigned through the
    * LOADED old-slice two-level model (dd17's persisted artifact; the
    * fit never sees the streamed batches) and appended into the
    * composite-cell layout by
    * [[graft.streaming.AnnIngest.appendBatchIdempotent]] under the
    * streaming sink's epoch-idempotence discipline: files named
    * `part-<epoch>-<seq>-<token>.parquet`, a replayed epoch deletes its
    * own files before landing them again. The replay is GRADED, not
    * assumed: after the stream completes, the final epoch is re-applied
    * with identical content (the restarted-query shape) — a broken
    * overwrite discipline double-counts the appended batch and the
    * census hash mismatches. Graded result = ss16's contract (the
    * layout must equal the batch append's: multiprobe serve over the
    * union + per-cell census with appended counts), same oracle text —
    * one contract, batch and streaming ingest both held to it. */
  private val st12: Q = (s, d) => {
    val model = Clustering.loadTwoLevel(s, OpsQueries.twoLevelSavedPath(s, d))
    val path = st12Layout(s, d)
    OpsQueries.twoLevelServeAndCensus(s, path, model, OpsQueries.queryVec(s, d))
  }

  val queries: Map[String, Q] = Map(
    "st12_ann_ingest" -> st12,
    "st01_windowed_stream" -> st01,
    "st09_stream_ohlc" -> st09,
    "st02_sessionization" -> st02,
    "st03_session_window" -> st03,
    "st04_stream_join" -> st04,
    "st05_stream_dedup" -> st05,
    "st06_stream_distinct" -> st06,
    "st07_neardup_gate" -> st07,
    "st08_decontamination_gate" -> st08,
    "st10_rocksdb_dedup" -> st10,
    "st11_rocksdb_gate" -> st11,
  )

  /** The st05 dedup census contract, shared verbatim by st10 (the
    * RocksDB-provider twin) so the two entries can never drift. */
  private val st05Oracle: String =
    """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
      |FROM (SELECT DISTINCT ON (event_id) event_type, value FROM events
      |      ORDER BY event_id)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The st07 admission-census contract, shared verbatim by st11 (the
    * RocksDB-provider twin of the custom-state gate): a doc collides
    * iff ANY smaller-id doc shares one of its band buckets (same
    * bucket CTEs as the dd03 oracle). */
  private val st07Oracle: String =
    s"""WITH ${OpsQueries.bandExplodedCtes},
       |coll AS (
       |  SELECT DISTINCT a.id FROM exploded a
       |  JOIN exploded b ON a.band = b.band AND a.key = b.key AND b.id < a.id
       |)
       |SELECT doc_id, lang FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM coll)
       |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // st12 is held to ss16's EXACT contract: the streamed layout must
    // equal the batch append's — old-slice fit, union assignment through
    // the persisted model, multiprobe serve, appended census
    "st12_ann_ingest" -> OpsQueries.ss16Oracle,
    // the SHARED OHLC grading contract (TemporalQueries.ohlcOracleSql):
    // the streaming state merge must equal tp07's batch aggregate
    "st09_stream_ohlc" -> TemporalQueries.ohlcOracleSql("bar_us", St09BarUs),
    "st01_windowed_stream" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "st02_sessionization" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM e
        |), s AS (
        |  SELECT user_id, grp, epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
        |    COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        |  FROM g GROUP BY user_id, grp
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY grp DESC) AS rn
        |  FROM s
        |)
        |SELECT user_id, start_us, end_us, n_events, total_value
        |FROM r WHERE rn > 1
        |ORDER BY user_id, start_us""".stripMargin,
    "st03_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM e
        |)
        |SELECT user_id,
        |  epoch_us(MIN(ts)) AS start_us,
        |  epoch_us(MAX(ts)) + 1800000000 AS end_us,
        |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_us""".stripMargin,
    "st04_stream_join" ->
      """SELECT s.user_id, epoch_us(s.ts) AS signup_us, epoch_us(p.ts) AS purchase_us,
        |  ROUND(p.value, 2) AS value
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 12 HOUR
        |ORDER BY s.user_id, signup_us, purchase_us
        |LIMIT 500""".stripMargin,
    "st05_stream_dedup" -> st05Oracle,
    // identical contract on the RocksDB provider: backend choice must
    // never change a value
    "st10_rocksdb_dedup" -> st05Oracle,
    "st06_stream_distinct" -> {
      // same sketch arithmetic as sk01's oracle, over user_id strings
      val est = s"CAST(${St06K - 1} AS DOUBLE) * 9.223372036854775808e18 / CAST(kth AS DOUBLE)"
      s"""WITH u AS (
         |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS us FROM events
         |), f AS (
         |  SELECT event_type, ${TemporalQueries.sqlFnv1a64("hx")} AS fh
         |  FROM (SELECT event_type, hex(encode(us)) AS hx FROM u) t
         |), k AS (
         |  SELECT event_type, ${TemporalQueries.sqlKmvFinalize("fh")} AS kh FROM f
         |), d AS (
         |  SELECT DISTINCT event_type, kh FROM k
         |), r AS (
         |  SELECT event_type, kh,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY kh) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM d
         |), kths AS (
         |  SELECT event_type, kh AS kth, nd FROM r WHERE rn = least(nd, $St06K)
         |)
         |SELECT event_type, kth,
         |  ROUND(CASE WHEN nd < $St06K THEN CAST(nd AS DOUBLE) ELSE $est END, 2) AS est
         |FROM kths
         |ORDER BY event_type""".stripMargin
    },
    // the declarative restatement of the gate's chain rule: a doc
    // collides iff ANY smaller-id doc shares one of its band buckets
    // (same bucket CTEs as the dd03 oracle)
    "st07_neardup_gate" -> st07Oracle,
    // identical contract for the custom band state on RocksDB
    "st11_rocksdb_gate" -> st07Oracle,
    // dd13's contamination rule, clean side only: the Bloom prefilter
    // can only add candidates to the exact join, never hide one
    "st08_decontamination_gate" ->
      s"""WITH grams AS (
         |  SELECT doc_id, list_distinct([array_to_string(w[i:i+${OpsQueries.Dd13Ngram - 1}], ' ')
         |                 FOR i IN generate_series(1, len(w) - ${OpsQueries.Dd13Ngram - 1})]) AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  WHERE len(w) >= ${OpsQueries.Dd13Ngram}
         |),
         |bset AS (SELECT DISTINCT unnest(g) AS gram FROM grams
         |         WHERE doc_id % ${OpsQueries.Dd13Mod} = 0),
         |hits AS (
         |  SELECT DISTINCT e.doc_id
         |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams
         |        WHERE doc_id % ${OpsQueries.Dd13Mod} <> 0) e
         |  JOIN bset USING (gram)
         |)
         |SELECT lang, COUNT(*) AS clean_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS clean_tokens
         |FROM documents d
         |WHERE d.doc_id % ${OpsQueries.Dd13Mod} <> 0
         |  AND d.doc_id NOT IN (SELECT doc_id FROM hits)
         |GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
