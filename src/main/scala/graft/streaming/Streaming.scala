package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming pipelines — the reference's continuous update
  * cycle (broker.update_db: ingest → qc → fill on every new import)
  * re-expressed as streaming plans over the same event schema.
  *
  * The batch twins of these aggregations live in
  * graft.tsdb.Aggregate.streamWindowBatch and are oracle-checked; the
  * streaming paths share the logical plan shape and are covered by
  * MemoryStream tests.
  */
// Serializable: the sessionizer's state closure calls the module's
// micros/tsOf/emit helpers, so executors deserialize the (stateless)
// module reference along with the closure
object Streaming extends Serializable {

  /** Tumbling 6h windowed aggregation with a 1h watermark: counts and
    * value sums per (window, event_type). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")) + lit(1e-9), 3).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding (hopping) 2h/30min windowed aggregation with a 1h
    * watermark — the streaming form of `Aggregate.slidingWindow`
    * (identical plan, plus state eviction by watermark). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")) + lit(1e-9), 3).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming ingest near-dup screen: flag every arriving document
    * that shares ANY MinHash band with the existing corpus, by probing
    * a broadcast Bloom sketch of the corpus band index
    * ([[graft.dedup.Bloom]]) — stateless, per-row, join-free: the
    * sketch is an 8 KiB single-row frame cross-joined in (stream-static
    * over a global-aggregate side), so each micro-batch is a map-only
    * pass whatever the corpus size. A flagged doc proceeds to exact
    * verification; a clean doc provably shares no band with the corpus
    * (Bloom has no false negatives). The batch twin is
    * [[graft.dedup.Bloom.screenQuery]] (q_dedup_bloom, oracled). */
  def nearDupScreen(streamDocs: DataFrame, corpus: DataFrame): DataFrame =
    graft.dedup.Bloom.probe(streamDocs, graft.dedup.Bloom.build(corpus))

  /** The at-least-once `foreachBatch` sink every maintained streaming
    * pipeline below shares: [[attach]] runs [[update]] once per
    * micro-batch, serialized on the instance, and skips a batchId at
    * or below the last one processed — a batch redelivered after a
    * restart must not be double-applied. */
  trait AtLeastOnce {
    @volatile private var lastBatchId: Long = -1L

    /** Apply one micro-batch. */
    def update(batch: DataFrame): Unit

    def attach(stream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
      stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          synchronized {
            if (batchId > lastBatchId) { update(batch.toDF()); lastBatchId = batchId }
          }
        }
        .start()
  }

  /** Streaming twin of the incremental text screen — the Bloom band
    * screen's EXACT sibling: [[nearDupScreen]] answers "maybe dup"
    * per row from an 8 KiB sketch; this one runs the full PPJoin
    * probe of each micro-batch against the persisted
    * [[graft.dedup.Dedup.TextIndexSnapshot]] and emits the verified
    * is_dup / best_match / best_jaccard row per arriving doc
    * (identical to the batch
    * [[graft.dedup.Dedup.incrementalDedupWithSnapshot]] frame,
    * spec-pinned). Per batch only the BATCH is shingled and probed:
    * within the broadcast budget each arriving document is one probe
    * of the snapshot's prepared index (built by the first batch,
    * broadcast once and reused by every later one); past it, the
    * batch's prefixes are equi-joined with the snapshot's prefix
    * postings and verified by keyed joins against its sorted hash sets
    * (the rule of the batch screen). No per-key streaming state: the
    * index lives in the artifact, the maintained result is
    * O(screened docs). foreachBatch is at-least-once, so a redelivered
    * batchId is skipped rather than double-screened. */
  class IncrementalScreen(snapshot: graft.dedup.Dedup.TextIndexSnapshot) extends AtLeastOnce {
    @volatile private var resultFrame: Option[DataFrame] = None

    /** All screened rows so far (doc_id, is_dup, best_match,
      * best_jaccard) — one per arrived doc. */
    def results: Option[DataFrame] = resultFrame

    /** Screen one batch and fold it into the maintained result frame.
      * localCheckpoint (eager) truncates the per-batch union lineage,
      * as in [[ContinuousQc.update]]; superseded checkpoint blocks are
      * released so a long-running stream pins O(1) frames. */
    def update(batch: DataFrame): Unit = synchronized {
      val b = batch.persist()
      if (b.isEmpty) { b.unpersist(); return }
      // the screen is lazy: the eager checkpoint runs it before b is released
      val screened = graft.dedup.Dedup.incrementalDedupWithSnapshot(b, snapshot)
      val next = resultFrame.map(_.unionByName(screened)).getOrElse(screened.toDF())
        .localCheckpoint(true)
      val old = resultFrame
      resultFrame = Some(next)
      old.foreach(graft.core.Checkpoints.release)
      b.unpersist()
    }
  }

  /** The FULL continuous dedup pipeline — what a crawl ingest actually
    * runs: per micro-batch of arriving documents, (1) probe the
    * maintained text-index artifact for the batch's complete
    * cross-side near-dup pairs (increment-only shingling), (2) find
    * the batch's within-side pairs, (3) fold both into the maintained
    * component labels ([[graft.dedup.Dedup.mergeComponents]] — the
    * label history rides as star edges, never re-propagated), and
    * (4) APPEND the batch to the index artifact so the next batch is
    * screened against this one too
    * ([[graft.dedup.Dedup.appendToTextIndexSnapshot]], frozen df
    * order — pair the stream with the periodic rebuild the df-drift
    * canary calibrates). The maintained `labels` frame after every
    * batch EQUALS the one-shot [[graft.dedup.Dedup.components]] over
    * all documents seen so far (spec-pinned across micro-batches):
    * continuous ingest loses nothing vs the nightly batch job.
    * foreachBatch at-least-once: redelivered batchIds are skipped. */
  class ClusterMaintenance(initial: graft.dedup.Dedup.TextIndexSnapshot,
      initialLabels: DataFrame) extends AtLeastOnce {
    @volatile private var snapshot = initial
    @volatile private var labelFrame: DataFrame = initialLabels.localCheckpoint(true)

    /** Current (doc_id, comp, comp_size) labels over every doc seen. */
    def labels: DataFrame = labelFrame
    /** The maintained index artifact (day-0 build + all appends). */
    def index: graft.dedup.Dedup.TextIndexSnapshot = snapshot

    def update(batch: DataFrame): Unit = synchronized {
      val b = batch.persist()
      if (b.isEmpty) { b.unpersist(); return }
      val next = graft.dedup.Dedup
        .incrementalComponents(b, labelFrame, snapshot)
        .localCheckpoint(true)
      // append AFTER screening: a batch must not match itself through
      // the index (its within-side pairs are already counted)
      val appended = graft.dedup.Dedup.appendToTextIndexSnapshot(snapshot, b)
      // the appended rows' lineage reads the batch frame, which is only
      // valid during this trigger — checkpoint the index so the
      // artifact is self-contained before the batch is released. This
      // in-memory twin re-materializes the whole index per batch;
      // production appends the new rows to the PARQUET artifact instead
      // (TextIndexSnapshot.save/load, as q_dedup_snapshot_cycle runs),
      // paying only the increment.
      val compacted = appended.copy(index = appended.index.localCheckpoint(true))
      val oldLabels = labelFrame
      val old = snapshot
      labelFrame = next
      snapshot = compacted
      graft.core.Checkpoints.release(oldLabels)
      // the superseded index and the probe the batch's screen prepared
      // over it
      old.release()
      if (old.index ne initial.index) graft.core.Checkpoints.release(old.index)
      b.unpersist()
    }
  }

  /** Streaming twin of the LSH-screened embedding snapshot
    * ([[graft.dedup.Dedup.embeddingIncrementalWithLshSnapshot]]) —
    * [[IncrementalScreen]]'s vector sibling: each micro-batch of
    * arriving embeddings probes the persisted band signatures with a
    * stream-static (band, sig) equi-join, exact-verifies only the
    * collisions, and folds the verified is_dup / best_match /
    * best_cosine rows into the maintained result (identical to the
    * batch screen per batch, spec-pinned). No per-key streaming state:
    * the index lives in the artifact; the maintained frame is
    * O(screened vectors) with localCheckpoint-truncated lineage.
    * foreachBatch is at-least-once, so a redelivered batchId is
    * skipped rather than double-screened. */
  class EmbeddingLshScreen(snapshot: graft.dedup.Dedup.EmbeddingLshSnapshot) extends AtLeastOnce {
    @volatile private var resultFrame: Option[DataFrame] = None

    /** All screened rows so far (vec_id, is_dup, best_match,
      * best_cosine) — one per arrived vector. */
    def results: Option[DataFrame] = resultFrame

    def update(batch: DataFrame): Unit = synchronized {
      val b = batch.persist()
      if (b.isEmpty) { b.unpersist(); return }
      val screened =
        graft.dedup.Dedup.embeddingIncrementalWithLshSnapshot(b, snapshot)
      // localCheckpoint(eager) materializes the screen before b is
      // released and truncates the per-batch union lineage
      val next = resultFrame.map(_.unionByName(screened)).getOrElse(screened.toDF())
        .localCheckpoint(true)
      val old = resultFrame
      resultFrame = Some(next)
      old.foreach(graft.core.Checkpoints.release)
      b.unpersist()
    }
  }

  /** Stream-static enrichment: join each arriving event to the station
    * registry (a static dimension frame). The static side broadcasts —
    * per micro-batch the stream is enriched map-side with NO shuffle
    * and no streaming state; a registry update is picked up by the
    * next micro-batch (Spark re-resolves static V2 sources per batch). */
  def enrich(streamEvents: DataFrame, meta: DataFrame): DataFrame =
    streamEvents.join(
      org.apache.spark.sql.functions.broadcast(meta),
      streamEvents("user_id") === meta("station_id"), "left")
      .drop("station_id")

  /** Stream-stream interval join: each view joined to the same user's
    * clicks within [view_ts, view_ts + 30 min]. BOTH sides carry a
    * watermark and the join condition carries the time bound — that
    * pair is what lets Spark evict buffered rows: a view older than
    * watermark + 30 min can never match a future click (and vice
    * versa), so per-key state is bounded by the interval × arrival
    * rate, not the stream length. Without the time-range predicate the
    * state would grow forever and Spark would reject the append-mode
    * query outright.
    *
    * Plan shape: both streams hash-partition on user_id (one shuffle
    * each) into a co-partitioned symmetric-hash join; at 1000
    * executors each task owns a user slice and its bounded state
    * store. */
  def intervalJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    v.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("click_value"))
  }

  /** Continuous update cycle — the streaming form of broker.update_db:
    * every micro-batch of imported events triggers a period-scoped
    * incremental qc recompute (graft.tsdb.Incremental) merged into the
    * maintained qc frame, instead of a full-series rerun.
    *
    * In production the store is the day-partitioned raw table (the
    * batch appends day partitions; the slice read is partition-pruned)
    * and the maintained frame is the persisted qc table; here both are
    * held as persisted DataFrames so MemoryStream tests can drive the
    * cycle deterministically. New stations require a one-time full
    * init, exactly like the reference's first-time station import. */
  class ContinuousQc(spark: SparkSession) extends AtLeastOnce {
    import graft.tsdb.{Incremental, QualityCheck, Series}
    @volatile private var store: Option[DataFrame] = None
    @volatile private var qcFrame: Option[DataFrame] = None

    /** The maintained qc frame after all processed batches. */
    def qc: Option[DataFrame] = qcFrame

    /** One import: append the batch, recompute only its day window.
      *
      * Both maintained frames are localCheckpoint(eager)ed, not merely
      * persisted: each batch builds the new store/qc as a plan over the
      * previous one (union / merge), so with plain persist the logical
      * plan deepens linearly and an evicted block would recompute
      * through every prior micro-batch — whose source frames are long
      * unpersisted. The checkpoint truncates lineage each batch (the
      * frames are fully materialized per batch anyway, so this adds no
      * extra pass); production replaces it with a backing table write. */
    def update(batch: DataFrame): Unit = synchronized {
      val b = batch.persist()
      if (b.isEmpty) { b.unpersist(); return }
      val evts = store.map(_.unionByName(b)).getOrElse(b.toDF()).localCheckpoint(true)
      val (loW, hiW) = batchWindow(store, b)
      val raw = Series.dailyRaw(evts)
      val ref = Series.dailyRef(evts)
      val meta = Series.stationMeta(evts)
      val next = (qcFrame match {
        case Some(prev) if Incremental.coversAllStations(prev, meta) =>
          Incremental.updateQc(prev, raw, ref, meta, loW, hiW)
        case _ => QualityCheck.all(raw, ref, meta) // first import / new station init
      }).localCheckpoint(true) // eager: materialized before replacing prev
      // release superseded checkpoint blocks — a long-running stream
      // must not accumulate one pinned frame per micro-batch. These
      // frames are localCheckpoint'ed, so Dataset.unpersist would be a
      // no-op; Checkpoints.release unpersists the backing RDD itself.
      val (oldStore, oldQc) = (store, qcFrame)
      store = Some(evts)
      qcFrame = Some(next)
      oldStore.foreach(graft.core.Checkpoints.release)
      oldQc.foreach(graft.core.Checkpoints.release)
      b.unpersist() // evts is checkpointed — independent of b's blocks
    }
  }

  /** Recompute-window bounds for an incoming batch given the previous
    * store's period: the batch's day span, widened to cover any
    * dense-grid growth between the old period end and the batch (days
    * that exist in neither the previous frame nor the batch window). */
  private[streaming] def batchWindow(store: Option[DataFrame], b: DataFrame):
      (java.sql.Date, java.sql.Date) = {
    val bounds = b.agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi")).head()
    val (bLo, bHi) = (bounds.getDate(0), bounds.getDate(1))
    val old = store.map(_.agg(min(to_date(col("ts"))).as("o0"), max(to_date(col("ts"))).as("o1")).head())
    val loW = old.map(_.getDate(1)) match {
      case Some(o1) if o1.before(bLo) => java.sql.Date.valueOf(o1.toLocalDate.plusDays(1))
      case _ => bLo
    }
    val hiW = old.map(_.getDate(0)) match {
      case Some(o0) if bHi.before(o0) => java.sql.Date.valueOf(o0.toLocalDate.minusDays(1))
      case _ => bHi
    }
    (loW, hiW)
  }

  /** The FULL continuous update cycle — broker.update_db as a stream:
    * every micro-batch runs the period-scoped incremental qc → fillup →
    * richter-correct chain (graft.tsdb.Incremental) and merges each
    * stage into its maintained frame. Fill and correction are day-local
    * given the chain's global-MA convention, so the same recompute
    * window is exact for all three stages; the temperature companion is
    * rebuilt per batch (O(#virtual-station holes), tiny next to the
    * series). Same at-least-once batchId guard and localCheckpoint
    * lineage discipline as [[ContinuousQc]]. */
  class ContinuousCycle(spark: SparkSession) extends AtLeastOnce {
    import graft.tsdb.{Fillup, Incremental, QualityCheck, Richter, Series}
    @volatile private var store: Option[DataFrame] = None
    @volatile private var frames: Option[(DataFrame, DataFrame, DataFrame)] = None

    def qc: Option[DataFrame] = frames.map(_._1)
    def filled: Option[DataFrame] = frames.map(_._2)
    def corr: Option[DataFrame] = frames.map(_._3)

    def update(batch: DataFrame): Unit = synchronized {
      val b = batch.persist()
      if (b.isEmpty) { b.unpersist(); return }
      val evts = store.map(_.unionByName(b)).getOrElse(b.toDF()).localCheckpoint(true)
      val (loW, hiW) = batchWindow(store, b)
      val raw = Series.dailyRaw(evts)
      val ref = Series.dailyRef(evts)
      val meta = Series.stationMeta(evts)
      val temp = Fillup.tempCompanion(evts, meta)
      val next = frames match {
        case Some((prevQc, prevFilled, prevCorr)) if Incremental.coversAllStations(prevQc, meta) =>
          val nQc = Incremental.updateQc(prevQc, raw, ref, meta, loW, hiW).localCheckpoint(true)
          val nFill = Incremental.updateFilled(prevFilled, nQc, meta, loW, hiW).localCheckpoint(true)
          val nCorr = Incremental.updateCorr(prevCorr, nFill, temp, meta, loW, hiW).localCheckpoint(true)
          (nQc, nFill, nCorr)
        case _ => // first import / new station init: full chain
          val nQc = QualityCheck.all(raw, ref, meta).localCheckpoint(true)
          val nFill = Fillup.fillNeighbor(nQc, meta).localCheckpoint(true)
          val nCorr = Richter.correct(spark, nFill, temp, meta).localCheckpoint(true)
          (nQc, nFill, nCorr)
      }
      val (oldStore, oldFrames) = (store, frames)
      store = Some(evts)
      frames = Some(next)
      oldStore.foreach(graft.core.Checkpoints.release)
      oldFrames.foreach { case (a, c, d) =>
        graft.core.Checkpoints.release(a)
        graft.core.Checkpoints.release(c)
        graft.core.Checkpoints.release(d)
      }
      b.unpersist()
    }
  }

  /** Streaming keyed-upsert sink: every micro-batch MERGEs into a
    * day-partitioned parquet table via
    * [[graft.sources.Sources.mergeUpsert]] — the streaming twin of the
    * batch MERGE, and the standard "stream into a mutable table"
    * shape (Delta's `foreachBatch` + MERGE recipe on plain parquet).
    * Idempotent under at-least-once redelivery two ways: a replayed
    * batchId is skipped outright, and even a re-merged batch replaces
    * by key rather than appending — an exactly-once TABLE from an
    * at-least-once stream. Batches arrive keyed latest-wins within
    * the batch (ingestDedup upstream handles in-batch duplicates).
    * EMPTY batches (no-data triggers, recovery ticks) advance the
    * batchId without touching storage — in particular an empty FIRST
    * batch must not bootstrap a schema-less directory that every later
    * merge would fail to read.
    *
    * Only the day partitions a micro-batch touches are rewritten —
    * streaming history never moves, which is what makes the shape
    * viable on a 100 TB table. */
  class UpsertSink(path: String, keyCols: Seq[String],
      partitionCol: String = "day") extends AtLeastOnce {
    def update(batch: DataFrame): Unit = synchronized {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(new org.apache.hadoop.fs.Path(path)))
          graft.sources.Sources.mergeUpsert(spark, path, batch, keyCols, partitionCol)
        else
          batch.write.partitionBy(partitionCol).parquet(path)
      }
    }
  }

  /** Streaming ingest dedup — the streaming twin of q_ingest_dedup's
    * keep-one-per-(station, ts) normalization: re-delivered raw
    * imports (at-least-once sources, overlapping DWD files) are
    * dropped while their key can still recur (within the watermark),
    * so downstream incremental QC never double-counts an interval.
    * State is bounded: dropDuplicatesWithinWatermark evicts keys once
    * the event-time watermark passes them. */
  def ingestDedup(streamEvents: DataFrame, lateness: String = "1 hour"): DataFrame =
    streamEvents
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("user_id", "ts"))

  /** Streaming twin of q_dedup_url — crawl-ingest URL dedup: each
    * arriving document normalizes to its canonical URL
    * ([[graft.llm.Corpus.canonicalUrl]] — the same scheme / www. /
    * tracking-query / trailing-slash / case collapse the batch dedup
    * keys on) and the stream keeps the FIRST fetch per canonical URL
    * still inside the watermark. State is one key per canonical URL
    * within the lateness horizon — bounded by crawl-window volume,
    * never corpus size (a crawl's re-fetch storms are temporally
    * clustered, which is exactly what the watermark models; the
    * cross-window exact pass stays the batch q_dedup_url). */
  def urlIngestDedup(streamDocs: DataFrame, lateness: String = "1 hour"): DataFrame =
    streamDocs
      .withColumn("curl", expr(graft.llm.Corpus.canonicalUrl("url")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("curl"))
      .drop("curl") // internal dedup key — match the batch twin's clean contract

  /** Streaming twin of the robots gate (graft.llm.Robots.robotsFilter)
    * chained ahead of URL dedup — the continuous crawl-frontier shape:
    * each arriving URL joins the STATIC parsed-rules table (robots
    * caches refresh by redeploy, not per batch — a stream-static
    * broadcast join, no stream-side state), disallowed paths drop,
    * and survivors dedup within the watermark. `rules` is the wide
    * per-source frame (source, disallow_rule, allow_rule) from the
    * batch parse; with one disallow + one longer allow per domain the
    * RFC longest-match verdict reduces to a STATELESS projection —
    * allowed unless the disallow prefix matches and the more-specific
    * allow does not. The general multi-rule evaluation stays the
    * batch `q_robots_filter`. */
  def crawlGate(streamDocs: DataFrame, rules: DataFrame,
      lateness: String = "1 hour"): DataFrame =
    streamDocs
      .withColumn("path", concat(lit("/doc/"), col("doc_id")))
      .join(org.apache.spark.sql.functions.broadcast(rules), Seq("source"))
      .filter(!col("path").startsWith(col("disallow_rule")) ||
        col("path").startsWith(col("allow_rule")))
      .drop("disallow_rule", "allow_rule")
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(Seq("path"))

  case class StationEvent(user_id: Long, ts: Timestamp, value: Double)
  case class GapState(lastTs: Long)
  case class GapAlert(station_id: Long, gap_start: Timestamp, gap_hours: Double)

  case class CdcEvent(user_id: Long, event_id: Long, ts: Timestamp,
    event_type: String, value: Double)
  case class CdcState(lastUs: Long, lastId: Long, state: String, value: Double)
  case class CdcRow(user_id: Long, op: String, state: String, value: Double,
    updated_at: Timestamp)

  /** Streaming twin of the batch CDC compaction
    * (graft.analytics.EventAnalytics.cdcMerge): stateful latest-event
    * upsert per key via mapGroupsWithState — each micro-batch emits
    * the merged row for every touched key with insert / update / noop
    * provenance (a batch whose newest event is older than the held
    * state is a late redelivery and changes nothing, mirroring the
    * batch max-struct pick exactly). One fixed-size slot per key ever
    * seen; the only shuffle is the groupByKey hash exchange. */
  def cdcUpsertStream(events: Dataset[CdcEvent]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CdcState, CdcRow](GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[CdcEvent], st: GroupState[CdcState]) =>
          val newest = rows.maxBy(e => (micros(e.ts), e.event_id))
          val cand = (micros(newest.ts), newest.event_id)
          val prev = st.getOption
          val op = prev match {
            case None => "insert"
            case Some(p) if cand._1 > p.lastUs
              || (cand._1 == p.lastUs && cand._2 > p.lastId) => "update"
            case _ => "noop"
          }
          val next =
            if (op == "noop") prev.get
            else CdcState(cand._1, cand._2, newest.event_type, newest.value)
          st.update(next)
          CdcRow(uid, op, next.state,
            math.round((next.value + 1e-9) * 1000) / 1000.0, tsOf(next.lastUs))
      }
  }

  /** Streaming twin of the count-min sketch behind q_cms_heavy_hitters:
    * the CMS is a count-weighted keyed aggregate over (row, bucket)
    * cells — exactly the mergeable shape Structured Streaming
    * maintains as state — so the streaming sketch is a plain stateful
    * groupBy in update mode (4·width cells of bounded state, no
    * watermark needed: the sketch only grows). Identical hash family
    * to the batch path via [[graft.text.TextAnalysis.cmsProj]];
    * StreamingSpec pins cell-for-cell equality with the batch sketch
    * after multi-batch ingest.
    *
    * Plan: per micro-batch a map-side partial count per touched cell;
    * the state update shuffles at most 4·width rows per trigger
    * whatever the ingest volume. */
  def cmsCellsStream(streamDocs: DataFrame, width: Int = 512): DataFrame = {
    graft.functions.GraftFunctions.register(streamDocs.sparkSession)
    streamDocs
      .select(explode(expr(graft.text.TextFns.tokens("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h0", expr("graft_polyhash(tok)"))
      .select(graft.text.TextAnalysis.cmsProj(width))
      .groupBy(col("p.j").as("j"), col("p.bucket").as("bucket"))
      .agg(count(lit(1)).as("cell"))
  }

  case class MsprtEvent(user_id: Long, event_type: String)
  case class MsprtState(nA: Long, xA: Long, nB: Long, xB: Long, maxLl: Double)
  case class MsprtUpdate(n_a: Long, x_a: Long, n_b: Long, x_b: Long,
      log_lambda: Double, p_always_valid: Double, significant: Boolean)

  /** Streaming twin of [[graft.analytics.EventAnalytics.msprt]] — the
    * operational shape of an always-valid test: every arriving batch
    * folds into the cumulative per-arm counts and emits the updated
    * mixture likelihood ratio and always-valid p (running max in
    * state), so the experimenter can stop the moment p crosses α with
    * the guarantee intact. Fed single-day batches it reproduces the
    * batch path's per-day p sequence exactly (StreamingSpec pins
    * this).
    *
    * Plan: one flatMapGroupsWithState on a single experiment key —
    * the state is five numbers, and the per-batch fold is a count
    * over that batch's rows. At production rates the ingest would
    * pre-aggregate per trigger before the state op; the state size
    * and emission contract stay identical. */
  def msprtStream(events: Dataset[MsprtEvent], tau2: Double = 1e-4): Dataset[MsprtUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_ => 0)
      .flatMapGroupsWithState[MsprtState, MsprtUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[MsprtEvent], st: GroupState[MsprtState]) =>
          val s = st.getOption.getOrElse(
            MsprtState(0L, 0L, 0L, 0L, Double.NegativeInfinity))
          var nA = s.nA; var xA = s.xA; var nB = s.nB; var xB = s.xB
          rows.foreach { e =>
            val conv = if (e.event_type == "purchase") 1L else 0L
            if (e.user_id % 2 == 0) { nB += 1; xB += conv }
            else { nA += 1; xA += conv }
          }
          def r6(x: Double): Double =
            BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (nA == 0 || nB == 0) {
            st.update(MsprtState(nA, xA, nB, xB, s.maxLl))
            Iterator.empty
          } else {
            val pPool = (xA + xB).toDouble / (nA + nB)
            val v = pPool * (1.0 - pPool) * (1.0 / nA + 1.0 / nB)
            if (v <= 0.0) {
              // degenerate pooled variance (zero or unanimous
              // conversions so far): the batch msprt filters such days
              // out entirely (filter(v > 0)) — emit nothing so the
              // stream's per-day sequence matches the batch path on
              // every input, not just the fixture's
              st.update(MsprtState(nA, xA, nB, xB, s.maxLl))
              Iterator.empty
            } else {
              val delta = xB.toDouble / nB - xA.toDouble / nA
              val ll = 0.5 * math.log(v / (v + tau2)) +
                delta * delta * tau2 / (2.0 * v * (v + tau2))
              val mx = math.max(s.maxLl, ll)
              st.update(MsprtState(nA, xA, nB, xB, mx))
              val p = r6(math.min(1.0, math.exp(-mx)))
              Iterator.single(MsprtUpdate(nA, xA, nB, xB, r6(ll), p, p < 0.05))
            }
          }
      }
  }

  case class SessEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  case class SessState(sessionIdx: Long, startUs: Long, lastUs: Long, n: Long, sum: Double)
  case class Session(station_id: Long, session_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, sum_value: Double, duration_s: Double)

  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Streaming sessionization — the streaming twin of
    * Aggregate.sessionize: per-station event runs gap-split at
    * `gapMinutes` of event-time silence. A session is emitted once the
    * WATERMARK passes its end + gap (EventTimeTimeout), i.e. when no
    * in-order event can extend it anymore; `session_id` is the same
    * 0-based per-station counter the batch cumulative-sum produces, so
    * on identical input the emitted rows equal the batch frame
    * value-for-value (asserted in StreamingSpec).
    *
    * Scale: state is one fixed-size [[SessState]] per station — after
    * a timeout the slot degrades to an idle counter (n = 0) rather
    * than being removed, because the batch-equivalent session ordinal
    * must survive the silence between two sessions. One 40-byte slot
    * per station ever seen is the cost of stable ordinals; a pipeline
    * that can tolerate per-restart ordinals can remove() on timeout
    * instead. The only shuffle is the groupByKey hash exchange. */
  def sessionizeStream(events: Dataset[SessEvent], gapMinutes: Int = 30,
      lateness: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def emit(uid: Long, s: SessState): Session =
      Session(uid, s.sessionIdx, tsOf(s.startUs), tsOf(s.lastUs), s.n,
        math.round((s.sum + 1e-9) * 1000) / 1000.0,
        math.round(((s.lastUs - s.startUs) / 1e6 + 1e-9) * 1000) / 1000.0)
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            // keep an idle counter slot (n = 0): the next session of
            // this station must continue the batch-equivalent ordinal
            state.update(SessState(closed.sessionIdx + 1, 0L, 0L, 0L, 0.0))
            Iterator.single(emit(uid, closed))
          } else {
            // within a micro-batch, order by (ts, event_id) — the same
            // tiebreaker the batch window uses for duplicate timestamps
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var st = state.getOption
            sorted.foreach { e =>
              val ts = micros(e.ts)
              st = st match {
                case Some(s) if s.n == 0L => // idle counter slot
                  Some(SessState(s.sessionIdx, ts, ts, 1, e.value))
                case Some(s) if ts - s.lastUs > gapUs =>
                  out += emit(uid, s)
                  Some(SessState(s.sessionIdx + 1, ts, ts, 1, e.value))
                case Some(s) =>
                  Some(SessState(s.sessionIdx, s.startUs, math.max(s.lastUs, ts),
                    s.n + 1, s.sum + e.value))
                case None => Some(SessState(0, ts, ts, 1, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              // close once the watermark passes session_end + gap (an
              // idle slot keeps no timeout and just holds the counter)
              if (s.n > 0L)
                state.setTimeoutTimestamp(s.lastUs / 1000 + gapMinutes * 60000L)
            }
            out.iterator
          }
      }
  }

  /** Stateful gap detector: emits an alert when a station goes silent
    * for more than `maxGapHours` between consecutive events —
    * the streaming analog of count_holes. Uses
    * flatMapGroupsWithState with processing-time timeout-free logic
    * (purely event-driven, deterministic in tests). */
  def gapDetector(events: Dataset[StationEvent], maxGapHours: Double = 24.0): Dataset[GapAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (stationId: Long, rows: Iterator[StationEvent], state: GroupState[GapState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val startTs = state.getOption.map(_.lastTs)
          val alerts = scala.collection.mutable.ArrayBuffer.empty[GapAlert]
          var last = startTs
          sorted.foreach { e =>
            last.foreach { prev =>
              val gapH = (e.ts.getTime - prev) / 3600000.0
              if (gapH > maxGapHours)
                alerts += GapAlert(stationId, new Timestamp(prev), math.round(gapH * 100) / 100.0)
            }
            last = Some(e.ts.getTime)
          }
          last.foreach(l => state.update(GapState(l)))
          alerts.iterator
      }
  }

  case class HllEvent(event_type: String, ts: Timestamp, user_id: Long)
  case class HllKey(event_type: String, window_start_ms: Long)
  case class HllRegs(regs: Seq[Int])
  case class HllWindowEstimate(event_type: String, window_start: Timestamp,
    hll_estimate: Double)

  /** Streaming twin of [[graft.analytics.EventAnalytics.hllDistinct]]:
    * per (event_type, tumbling window), the 64-register HyperLogLog
    * distinct-user sketch maintained incrementally in keyed state and
    * emitted ONCE, when the watermark passes the window end
    * (EventTimeTimeout) — the continuous-dashboard shape of the batch
    * sketch. Hash, rho, and estimate arithmetic are byte-identical to
    * the batch operator (same MINSTD step, integer trailing-zero rho,
    * dyadic-rational register sum, small-range linear counting), so on
    * identical input the emitted estimates equal the batch frame
    * value-for-value (asserted in StreamingSpec).
    *
    * Scale: state is one 64-int register array per live
    * (type, window) — sketches merge by element-wise max, so however
    * many events a window sees, its state never grows past the m
    * registers; slots are removed at emission. The only shuffle is the
    * groupByKey hash exchange, and within a micro-batch the registers
    * reduce iterator-order-independently (max is commutative). */
  def hllStream(events: Dataset[HllEvent], windowHours: Int = 6,
      lateness: String = "1 hour"): Dataset[HllWindowEstimate] = {
    import events.sparkSession.implicits._
    val m = 64
    val windowMs = windowHours * 3600000L
    events.withWatermark("ts", lateness)
      .groupByKey(e => HllKey(e.event_type, e.ts.getTime / windowMs * windowMs))
      .flatMapGroupsWithState[HllRegs, HllWindowEstimate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: HllKey, rows: Iterator[HllEvent], state: GroupState[HllRegs]) =>
          if (state.hasTimedOut) {
            val regs = state.get.regs
            state.remove()
            // identical estimate arithmetic to the batch operator
            var s = 0.0; var v = 0
            regs.foreach { mj =>
              if (mj == 0) v += 1 else s += 1.0 / (1L << mj)
            }
            val eRaw = 0.709 * m * m / (s + v)
            val est =
              if (eRaw <= 2.5 * m && v > 0) m.toDouble * math.log(m.toDouble / v)
              else eRaw
            Iterator.single(HllWindowEstimate(key.event_type,
              new Timestamp(key.window_start_ms),
              math.round((est + 1e-9) * 10000) / 10000.0))
          } else {
            val regs = state.getOption.map(_.regs.toArray).getOrElse(new Array[Int](m))
            rows.foreach { e =>
              val h = e.user_id * 48271L % 2147483647L
              val bucket = (h % m).toInt
              val rest = h / m
              val rho =
                if (rest == 0L) 26
                else java.lang.Long.bitCount((rest & -rest) - 1) + 1
              if (rho > regs(bucket)) regs(bucket) = rho
            }
            state.update(HllRegs(regs.toSeq))
            state.setTimeoutTimestamp(key.window_start_ms + windowMs)
            Iterator.empty
          }
      }
  }

  case class FunnelEvent(user_id: Long, event_id: Long, ts: Timestamp,
    event_type: String)
  case class FunnelState(v: Long, c: Long, p: Long) // stage micros, -1 = unset
  case class StageHit(user_id: Long, stage: String, stage_ts: Timestamp)

  /** Streaming twin of [[graft.analytics.EventAnalytics.funnel]]'s
    * per-user stage minima: emits one row the moment a user FIRST
    * completes each causally-ordered stage (view → click at-or-after
    * it → purchase at-or-after that) — the live-dashboard form of the
    * batch funnel, whose cohort aggregate is one tiny groupBy over
    * these rows. On per-user strictly-increasing event times the
    * emitted minima equal the batch window's (asserted in
    * StreamingSpec); an equal-timestamp stage inversion (a click
    * sharing its exact timestamp with the first view but sorting
    * before it) is a batch-only refinement the online form cannot see.
    *
    * Scale: state is three longs per user, ever; no timeout needed —
    * a completed funnel goes quiet, an idle slot is 24 bytes. The only
    * shuffle is the groupByKey hash exchange. */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageHit]
          sorted.foreach { e =>
            val t = micros(e.ts)
            e.event_type match {
              case "view" if st.v < 0 =>
                st = st.copy(v = t); out += StageHit(uid, "view", tsOf(t))
              case "click" if st.v >= 0 && t >= st.v && st.c < 0 =>
                st = st.copy(c = t); out += StageHit(uid, "click", tsOf(t))
              case "purchase" if st.c >= 0 && t >= st.c && st.p < 0 =>
                st = st.copy(p = t); out += StageHit(uid, "purchase", tsOf(t))
              case _ =>
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class AnomEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  case class AnomBuf(values: Seq[Double])
  case class Anomaly(event_id: Long, user_id: Long, value: Double,
    mu: Double, sd: Double, z: Double)

  /** Streaming twin of
    * [[graft.analytics.EventAnalytics.anomalyZscore]]: each event
    * scored online against the mean/stddev of its user's previous
    * `lookback` values, flagged at |z| ≥ `zThresh` with the same
    * cold-start guards (≥ 8 priors, sd noise floor) and the same 4-dp
    * rounding — on in-order input the emitted rows equal the batch
    * frame (asserted in StreamingSpec).
    *
    * Scale: state is a bounded `lookback`-element value buffer per
    * user — O(24 doubles) regardless of stream length; the only
    * shuffle is the groupByKey hash exchange. Purely event-driven (no
    * timeout): an idle user's slot persists, exactly like the batch
    * window would resume if more events arrived. Within a micro-batch
    * rows are ordered by (ts, event_id), the batch window's
    * tiebreaker. */
  def anomalyStream(events: Dataset[AnomEvent], lookback: Int = 24,
      zThresh: Double = 3.0): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    def r4(x: Double): Double = math.round((x + 1e-9) * 10000) / 10000.0
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomBuf, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[AnomEvent], state: GroupState[AnomBuf]) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var buf = state.getOption.map(_.values.toVector).getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
          sorted.foreach { e =>
            val n = buf.length
            if (n >= 8) {
              // mu as Sum/Count and sd via the Welford update in frame
              // order — the exact arithmetic of Spark's Average and
              // CentralMomentAgg aggregates, so the unrounded values
              // feeding the sd floor and the 4-dp z gate are
              // bit-identical to the batch window's, not merely close
              val mu = buf.sum / n
              var wn = 0.0; var wmean = 0.0; var m2 = 0.0
              buf.foreach { v =>
                wn += 1.0
                val delta = v - wmean
                wmean += delta / wn
                m2 += delta * (v - wmean)
              }
              val sd = math.sqrt(m2 / (n - 1))
              if (sd > 0.001) {
                val z = r4((e.value - mu) / sd)
                if (math.abs(z) >= zThresh)
                  out += Anomaly(e.event_id, uid, e.value, r4(mu), r4(sd), z)
              }
            }
            buf = (buf :+ e.value).takeRight(lookback)
          }
          state.update(AnomBuf(buf))
          out.iterator
      }
  }
}
