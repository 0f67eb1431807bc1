package graft.pointcloud.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming ingest of point-cloud directories (SURVEY §7.7): the file is
  * the unit of progress. An offset is the APPEND-ONLY list of known file
  * names in first-seen order (the same seen-files idea as Spark's
  * FileStreamSource, carried in the offset so a restart replays
  * identically from the offset log alone). Consequences:
  *  - a file's fid is its index in that list — first-seen order — and can
  *    never change once assigned, no matter what arrives later;
  *  - a late file whose name sorts before already-processed names is
  *    still ingested (it simply gets the next fid), so ingest is complete
  *    without any naming-convention requirement;
  *  - each micro-batch processes exactly end.files minus start.files.
  * The offset grows with the file count; at ~100 bytes per path an
  * offset log entry stays manageable well past 10^5 files. For sources
  * that rotate their directories (delete or archive files once
  * ingested), `compactFileListThreshold` (option, int > 0) bounds the
  * list: whenever the tail exceeds the threshold, the longest PREFIX of
  * COMMITTED entries whose files are no longer present in the listing is
  * replaced by a count (`base`), so the offset becomes
  * `(compacted-count, tail-list)`. Re-admission of a compacted name is
  * impossible by construction — the file was absent from the directory
  * when compacted, and membership tests only matter for listed files; a
  * file RE-CREATED under a compacted name is genuinely new data and is
  * ingested fresh (new fid). fids stay stable because a fid is the
  * file's GLOBAL index `base + tail-index`, which compaction never
  * changes. Only committed entries compact (an uncommitted entry may
  * still be replayed from the write-ahead offset, which needs its name),
  * and only a prefix does (so the base+index arithmetic stays exact); a
  * long-lived file therefore blocks compaction of everything admitted
  * after it — rotate whole directories, not random files, to keep the
  * tail short.
  * Headers are read per batch on the driver (exactly like the batch
  * path), and [[SplitPlanner]] cuts and packs each batch's splits
  * exactly as it does for a batch scan.
  *
  * A file enters the offset only once its header parses AND the file is
  * at least as long as the header promises (offset + count × stride): a
  * file still being copied into the directory — even one whose header
  * bytes have already landed — is deferred and retried on the next
  * trigger instead of being dropped forever or read short (the offset IS
  * the seen-file list, so membership means done). The flip side: a
  * permanently corrupt file costs one header read + warning per trigger
  * until removed — producers should move files into the directory
  * atomically (write elsewhere on the same FS, then rename) so neither
  * case arises. XYZ files carry NO header (count is unknown until
  * scan), so the length check cannot protect them: atomic moves are a
  * hard requirement for XYZ sources. `maxFilesPerTrigger` (option)
  * bounds how many NEW files each trigger admits; fids stay
  * first-seen-order stable because they are indices in the same
  * append-only list regardless of batch size. Implements
  * `SupportsTriggerAvailableNow`, so `Trigger.AvailableNow` freezes the
  * file set at query start and drains it across as many
  * `maxFilesPerTrigger`-bounded batches as needed (a plain
  * MicroBatchStream would be wrapped to call latestOffset ONCE and
  * silently stop after the first batch's admissions).
  */
class PointCloudMicroBatchStream(
    kind: FormatKind,
    provider: PointCloudProvider,
    readSchema: StructType,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    checkpointLocation: String,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    /** ALL pushed conjuncts (claimed + residual) — planning-only, like
      * the batch scan's planFilters: LAZ keeps record filters residual
      * (pushedFilters is EMPTY there), but COPC chunk skipping may use
      * every conjunct conservatively since Spark re-evaluates residuals
      * exactly on whatever still decodes. */
    planFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    /** The `copc.maxlevel` preview bound (−1 = unset), parsed by the scan
      * builder: a malformed or un-honorable declaration must fail the
      * query at start, not be swallowed by the per-file skip-unreadable
      * catch below (which would run the stream forever delivering zero
      * rows). */
    copcMaxLevel: Int = -1)
  extends MicroBatchStream with SupportsTriggerAvailableNow with Logging {

  import PointCloudMicroBatchStream.FileListOffset

  require(copcMaxLevel < 0 || kind == FormatKind.Las,
    s"copc.maxLevel is only honorable on COPC .laz sources, not ${kind.name}")

  // NOTE on the `bbox` read option ([[SubscriptionOption]]): it is THE pushdown
  // channel for streaming reads — Spark never calls pushFilters for a
  // micro-batch source, so WHERE-derived filters never reach here. The
  // option's synthesized filters arrive through the normal parameters
  // instead: [[PointCloudScanBuilder]] seeds them into recordFilters
  // (→ `pushedFilters`, applied exactly by the readers) and skipFilters
  // (→ `planFilters`, file-skip + COPC chunk pruning) at CONSTRUCTION,
  // which happens for the streaming scan too. Parsing the option here a
  // second time would evaluate every box conjunct twice per record.

  /** Tail of the known-file list in first-seen order (global indices
    * `[base, base + known.size)`); extended by latestOffset, seeded by
    * deserializeOffset after a restart (the larger TOTAL wins — the list
    * is append-only and base monotone, so total orders offsets). */
  @volatile private var known: Vector[String] = Vector.empty

  /** Count of compacted entries: files admitted, committed, and since
    * removed from the source directory, dropped from the list by
    * compaction. Their global indices `[0, base)` stay allocated. */
  @volatile private var base: Long = 0L

  /** Highest committed total, advanced ONLY by commit(): compaction must
    * never drop an entry the engine could still replay from the
    * write-ahead offset log (deserializeOffset also sees UNcommitted
    * offsets after a restart, so it cannot advance this). After a
    * restart this resets to 0 and compaction simply waits for the first
    * commit of the new run. */
  @volatile private var committedTotal: Long = 0L

  /** Sections read while ADMITTING a file in latestOffset, consumed by
    * planInputPartitions so each admitted file's header is read once per
    * run (a replay after restart re-reads; that is the normal batch-path
    * cost). Entries are removed on use — memory stays bounded by the
    * admitted-but-not-yet-planned window, not the corpus. */
  private val pendingSections =
    scala.collection.mutable.HashMap.empty[String, Seq[FileSection]]

  private def intOption(name: String): Option[Int] =
    PointCloudUtil.intOption(k => Option(options.get(k)), name)

  private val maxFilesPerTrigger: Option[Int] = {
    val v = intOption("maxFilesPerTrigger")
    // 0 would admit nothing forever while the stream reports healthy
    require(v.forall(_ > 0), s"maxFilesPerTrigger must be positive, got ${v.get}")
    v
  }

  private val compactThreshold: Option[Int] = {
    val v = intOption("compactFileListThreshold")
    require(v.forall(_ > 0), s"compactFileListThreshold must be positive, got ${v.get}")
    v
  }

  private def listFiles(): Seq[String] =
    PointCloudUtil.expandPaths(
      PointCloudUtil.explicitPaths(options), kind, LocalIo.conf).sorted

  /** File set frozen by `prepareForTriggerAvailableNow`: under
    * `Trigger.AvailableNow` only these files are ever admitted, and the
    * engine keeps running batches until they drain (or stall on a file
    * that never becomes admissible — it is then left for the next run,
    * with a warning per attempt). */
  @volatile private var availableNowTarget: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowTarget = Some(listFiles().toSet)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = FileListOffset(0L, Vector.empty)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = synchronized {
    val seen = known.toSet
    val listed = listFiles()
    val unseen = listed.filterNot(seen)
    val fresh = availableNowTarget match {
      case Some(target) => unseen.filter(target)
      case None => unseen
    }
    // admit a file only once its header parses AND the bytes the header
    // promises are all present: a mid-copy file (header landed, data
    // still copying) is retried next trigger instead of burning its fid
    // or reading short
    val budget = limit match {
      case f: ReadMaxFiles => f.maxFiles()
      case _ => Int.MaxValue
    }
    val admitted = Vector.newBuilder[String]
    var n = 0
    val it = fresh.iterator
    while (n < budget && it.hasNext) {
      val path = it.next()
      try {
        val sections = provider.streamSections(path, options)
        // LAZ sections prove their own completeness: the chunk table
        // lives at the END of the file and its parse validates the
        // chunk-region byte sum, so a mid-copy file already failed above
        val need = sections.iterator
          .filter(fs => fs.laz.isEmpty && fs.section.count >= 0)
          .map(fs => fs.section.offset + fs.section.byteSize)
          .foldLeft(0L)(math.max)
        if (need > 0L) {
          val p = new Path(path)
          val len = p.getFileSystem(LocalIo.conf).getFileStatus(p).getLen
          if (len < need) throw new java.io.IOException(
            s"file is $len bytes but the header promises $need (mid-copy?)")
        }
        pendingSections.put(path, sections)
        admitted += path
        n += 1
      } catch {
        case e: Exception =>
          logWarning(s"Deferring unreadable ${kind.name} file $path " +
            s"(retried next trigger): ${e.getMessage}")
      }
    }
    val add = admitted.result()
    if (add.nonEmpty) known = known ++ add
    // compact: drop the longest prefix of COMMITTED entries whose files
    // are gone from the directory (deleted/rotated by the producer) —
    // they can never be re-listed, so forgetting the names is safe, and
    // prefix-only keeps fid = base + index exact
    compactThreshold.foreach { t =>
      if (known.size > t) {
        val listedSet = listed.toSet
        var drop = 0
        while (drop < known.size && base + drop < committedTotal &&
               !listedSet.contains(known(drop))) drop += 1
        if (drop > 0) {
          logInfo(s"Compacted $drop rotated ${kind.name} file entries out of " +
            s"the offset list (base ${base} -> ${base + drop}, tail ${known.size - drop})")
          base += drop
          known = known.drop(drop)
        }
      }
    }
    FileListOffset(base, known)
  }

  override def deserializeOffset(json: String): Offset = {
    val off = FileListOffset.fromJson(json)
    synchronized {
      if (off.total > base + known.size) { base = off.base; known = off.files }
    }
    off
  }

  override def commit(end: Offset): Unit = synchronized {
    committedTotal = math.max(committedTotal, end.asInstanceOf[FileListOffset].total)
  }

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the list is append-only, so "already processed" is an index
    // comparison: everything below start's TOTAL was in start (whether
    // the name survives in its tail or was compacted into its base)
    val startTotal = start.asInstanceOf[FileListOffset].total
    val endOff = end.asInstanceOf[FileListOffset]
    val sections = endOff.files.zipWithIndex.flatMap { case (path, i) =>
      // fid = GLOBAL index in the append-only offset list (base + tail
      // index): stable across batches, restarts, and compaction
      val fid = math.toIntExact(endOff.base + i)
      if (endOff.base + i < startTotal) Nil
      else try {
        // admitted this run → header already read at admission time;
        // replay after restart falls back to reading it here
        val fileSections = synchronized(pendingSections.remove(path))
          .getOrElse(provider.streamSections(path, options))
        // header file-skip against the declared box: a whole file outside
        // it plans ZERO splits (it is still admitted into the offset list
        // — progress bookkeeping is not planning)
        val kept = fileSections
          .map(fs => SectionWithFid(fs.section, fid, fs.lasStats, fs.laz))
          .filter(sf => kind == FormatKind.Xyz || planFilters.isEmpty ||
            SectionSkip.mayMatch(SectionSkip.sectionRange(sf), planFilters))
        // a declared preview over a file without a COPC octree index must
        // FAIL the stream — thrown as the marker the catch below re-throws
        // past the skip-unreadable path
        if (copcMaxLevel >= 0) kept.foreach(CopcPrune.requirePreviewHonorable)
        kept
      } catch {
        case e: CopcPreviewUnhonorable => throw e // a contract breach, not a bad file
        case e: Exception =>
          logWarning(s"Skipping unreadable ${kind.name} file $path: ${e.getMessage}")
          Nil
      }
    }
    // the batch planner: the same splits (COPC chunk skipping from the
    // full conjunct set; the readers evaluate pushedFilters exactly on
    // whatever still decodes) packed into the same core-sized tasks
    SplitPlanner.plan(kind, sections, tableSchema, planFilters, copcMaxLevel)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PointCloudReaderFactory(readSchema.json, tableSchema.json, pushedFilters)
}

object PointCloudMicroBatchStream {
  import org.json4s.JsonDSL._
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Append-only known-file list: `base` entries compacted away (files
    * rotated out of the source directory after commit) plus the live
    * tail. Serialized as a bare JSON array while base == 0 — byte-
    * identical to the pre-compaction format, so old checkpoints replay
    * and non-compacting streams keep their offset format — and as
    * `{"base":N,"files":[...]}` once compaction has happened. */
  private[connector] case class FileListOffset(base: Long, files: Vector[String])
      extends Offset {
    def total: Long = base + files.size
    override def json(): String =
      if (base == 0L) JsonMethods.compact(JsonMethods.render(files))
      else JsonMethods.compact(JsonMethods.render(
        ("base" -> base) ~ ("files" -> files)))
  }

  private[connector] object FileListOffset {
    private def names(vs: List[JValue]): Vector[String] = vs.map {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"bad offset element $other")
    }.toVector

    def fromJson(json: String): FileListOffset =
      JsonMethods.parse(json) match {
        case JArray(vs) => FileListOffset(0L, names(vs))
        case obj: JObject =>
          (obj \ "base", obj \ "files") match {
            case (JInt(b), JArray(vs)) => FileListOffset(b.toLong, names(vs))
            case _ => throw new IllegalArgumentException(s"bad offset json $obj")
          }
        case other => throw new IllegalArgumentException(s"bad offset json $other")
      }
  }
}
