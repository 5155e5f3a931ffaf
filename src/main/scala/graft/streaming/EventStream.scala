package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event with a floored epoch-second timestamp (the streaming-side twin
  * of the batch `events` projection in [[graft.ops.Events]]). */
case class Ev(user_id: Long, event_id: Long, es: Long)

/** A directed attention-handoff occurrence (src handed attention to dst)
  * emitted by [[EventStream.handoffEdgeStream]] — with multiplicity;
  * downstream keyed-state consumers dedup. */
case class HandEdge(src: Long, dst: Long)

/** Per-hour-bucket handoff state: the bucket's last folded event. */
case class HandState(lastEs: Long, lastEventId: Long, lastUser: Long)

/** Direction flags for one unordered user pair a < b (fwd = a→b seen). */
case class DyadState(fwd: Boolean, rev: Boolean)

/** A dyad-state delta: d_dir new distinct DIRECTED edges this batch on
  * this pair, d_mutual 1 the batch the pair turns mutual (else 0). */
case class DyadDelta(d_dir: Long, d_mutual: Long)

/** One endpoint view of a handoff edge (stateless fan-out, both ends). */
case class EdgeEnd(user_id: Long, nbr: Long)

/** Per-user adjacency state: the DISTINCT simple-graph neighbor set —
  * the "per-user degree map"; bounded by the user's degree. */
case class DegState(nbrs: Seq[Long])

/** A degree-octave retraction delta ([[EventStream.degreeCellsStream]]). */
case class OctDelta(octave: Long, d_users: Long)

/** A closed session emitted by [[EventStream.sessionize]]. */
case class Session(user_id: Long, start_es: Long, end_es: Long, n_events: Long)

/** Open-session state carried between micro-batches. */
case class SessionState(start_es: Long, end_es: Long, n_events: Long)

/** One document entering streaming sequence packing ([[EventStream.packStream]]). */
case class PackDoc(lang: String, shard: Long, doc_id: Long, n_tokens: Long)

/** A packing assignment: which training sequence a document starts in. */
case class PackAssign(lang: String, shard: Long, doc_id: Long, seq_id: Long)

/** Per-(lang, shard) packing state: tokens emitted so far. */
case class PackState(cum: Long)

/** One weighted document entering the streaming sampler
  * ([[EventStream.weightedSampleStream]]): the draw key is computed
  * in-flight by the shared q165 expression. */
case class SampleDoc(lang: String, doc_id: Long, w: Long, skey: Long)

/** Per-language sampler state: the emission counter and the current
  * bottom-k winners as (skey, doc_id, w) — bounded at k rows. */
case class SampleState(upd: Long, winners: Seq[(Long, Long, Long)])

/** One winner row of a sampler snapshot; `upd` is the per-language
  * snapshot counter (a consumer keeps each lang's max-upd set). */
case class SampleWinner(lang: String, upd: Long, rank: Long, doc_id: Long,
  w: Long, skey: Long)

/** One engagement arrival for the streaming decile twin
  * ([[EventStream.engagementCellsStream]]): the user id and the
  * event's cent value. */
case class EngEv(user_id: Long, cents: Long)

/** Per-user engagement state: lifetime event count and cents. */
case class EngState(n: Long, cents: Long)

/** One engagement-histogram delta: `d_users` = ±1 (retraction /
  * insertion of a user's contribution to the `n_events` cell),
  * `d_cents` the signed cents carried. Linear — summed per cell they
  * ARE the engagement histogram. */
case class EngDelta(n_events: Long, d_users: Long, d_cents: Long)

/** One activity arrival for the streaming tenure twin
  * ([[EventStream.tenureCellsStream]]): user id and activity day. */
case class TenEv(user_id: Long, day: Long)

/** Per-user span state: first and last observed activity day. */
case class TenState(f: Long, l: Long)

/** One span-histogram delta: ±1 user at the (f, l) cell. Linear —
  * summed per cell they ARE the span histogram. */
case class TenDelta(f: Long, l: Long, d_users: Long)

/** One hashed audience arrival for the bottom-k sketch stream
  * ([[EventStream.audienceSigStream]]): `h` is the shared q271 hash,
  * computed in-flight by the batch Column expression. */
case class SigEv(event_type: String, h: Long)

/** Per-type bottom-k state: the snapshot counter and the current
  * signature, sorted ascending, bounded at k hashes — the state IS the
  * sketch. */
case class SigState(upd: Long, sig: Seq[Long])

/** One signature snapshot row: `upd` is the per-type snapshot counter
  * (a consumer keeps each type's max-upd set — the SampleWinner
  * convention). */
case class SigRow(event_type: String, upd: Long, rank: Long, h: Long)

/** Per-type CUSUM state: the last day folded and its cumulative sum. */
case class CusumState(lastDay: Long, cusum: Long)

/** One monitored point of the q207 twin — identical columns to the
  * batch query's rows. */
case class CusumPoint(event_type: String, day: Long, cnt: Long,
  cusum: Long, alarm: Long)

/** One typed row of the A/B stream after arm assignment
  * ([[EventStream.abStatusStream]] computes `arm` with the batch Column
  * helper BEFORE typing, so the assignment rule has one definition). */
case class AbEv(user_id: Long, arm: Long, event_type: String)

/** A user's current experiment status — Update-mode upsert rows; a
  * reader keeps the latest per user and rolls up arms exactly like the
  * batch q198 wide stage. */
case class AbStatus(user_id: Long, arm: Long, conv: Long)

/** One typed event entering [[EventStream.transitionStream]] — carries
  * the event_id the batch q201 tie-break orders by. */
case class TransEv(user_id: Long, event_id: Long, es: Long, event_type: String)

/** One raw alarm tick entering [[EventStream.alarmDebounceStream]] —
  * `seq` orders ticks within a key (batch id, day, …). */
case class DebEv(key: String, seq: Long, raw: Long)

/** Debounce state: the currently EMITTED level and the run length of
  * consecutive opposite raw ticks. */
case class DebState(level: Long, run: Long)

/** One debounced tick: the raw level beside the emitted one. */
case class DebOut(key: String, seq: Long, raw: Long, level: Long)

/** Per-user transition state: the last event folded ([[EventStream.transitionStream]]). */
case class TransState(lastEs: Long, lastEventId: Long, lastType: String)

/** One (from → to) transition increment; a reader rolls these up into
  * the q201 matrix. */
case class TransEdge(from_type: String, to_type: String)

/** Per-user U-attribution state ([[EventStream.positionCreditStream]]):
  * the open session's folded tail, its pre-conversion touch types in
  * arrival order (bounded by one session's activity — the
  * sessionWindowStream state class), and whether its first purchase
  * already credited. */
case class AttrState(lastEs: Long, lastEventId: Long,
    touches: Seq[String], converted: Boolean)

/** One credit emission of the q337 twin — `credit_bp` of the 10000 a
  * conversion distributes; a reader sums per channel. */
case class CreditOut(user_id: Long, channel: String, credit_bp: Long)

/** One typed event entering the streaming funnel ([[EventStream.funnelStream]]). */
/** One arriving document of the source-cap stream (q181's twin). */
case class CapDoc(source: String, doc_id: Long, score: Double, n_tok: Long)

/** Per-source cap state: snapshot counter + the current best-`cap`
  * (score desc, doc_id asc) kept tuples (score, doc_id, n_tok). */
case class CapState(upd: Long, kept: Seq[(Double, Long, Long)])

/** One kept doc of a source's numbered cap snapshot. */
case class CapKeep(source: String, upd: Long, rank: Long, doc_id: Long,
    score: Double, n_tok: Long)

/** One (type, day) count of the daily-rate feed ([[EventStream.ewmaStream]]). */
case class DayCount(event_type: String, day: Long, cnt: Long)

/** Per-type EWMA state: the last day folded and its smoothed level. */
case class EwmaState(lastDay: Long, ewma: Long)

/** One smoothed point of the q186 twin — identical columns to the batch
  * query's output rows. */
case class EwmaPoint(event_type: String, day: Long, cnt: Long, ewma_s: Long,
    burst: Long)

/** Per-type Mann–Kendall state ([[EventStream.mannKendallStream]]):
  * last day folded, the daily-count VALUE HISTOGRAM (value-domain-
  * bounded — the state IS the sketch), and the folded S / tie18 /
  * day-count aggregates. */
case class MkState(lastDay: Long, hist: Map[Long, Long], sStat: Long,
    tie18: Long, nDays: Long)

/** One updated trend report of the q332 twin — identical columns to
  * the batch query's output row for the same prefix. */
case class MkPoint(event_type: String, day: Long, n_days: Long,
    n_pairs: Long, s_stat: Long, var_s_x18: Long, tau_bp: Option[Long])

/** One (user, day) purchase-cents total of the daily spend feed
  * ([[EventStream.dailySpendStream]] → [[EventStream.scdTierStream]]). */
case class SpendDay(user_id: Long, day: Long, dc: Long)

/** Per-user SCD2 maintenance state: last day folded, cumulative cents,
  * current tier, versions opened so far — four longs, O(1) per user. */
case class ScdState(lastDay: Long, cum: Long, tier: Long, nVersions: Long)

/** A version-OPEN record of the streaming SCD2 maintenance — the
  * columns of batch q240 minus `valid_to_day`, which an append-only
  * stream cannot retro-emit (the consumer derives it: a version closes
  * when the same user's next version opens; see scdTierStream doc). */
case class TierVersion(user_id: Long, version_no: Long, tier: Long,
    valid_from_day: Long)

case class FunnelEv(user_id: Long, event_type: String, es: Long)

/** Per-user funnel state: first-occurrence timestamp of each stage type. */
case class FunnelState(tView: Option[Long], tClick: Option[Long], tPurchase: Option[Long])

/** A user's current funnel stage (0 = not entered, 3 = fully converted). */
case class FunnelStage(user_id: Long, stage: Long)

/** Per-user funnel state for the timeout variant: first-occurrence
  * timestamps plus the last activity time the attribution clock runs
  * from. */
case class FunnelTimedState(tView: Option[Long], tClick: Option[Long],
  tPurchase: Option[Long], lastEs: Long)

/** Structured Streaming forms of the event operators (the reference is
  * batch-only — SURVEY.md §2.5 records "streaming: none" — so these are
  * north-star surface: readStream → transform → writeStream shapes,
  * exercised by unit tests over MemoryStream since the driver's oracle
  * gate is batch).
  *
  *  - [[windowedCounts]]: watermarked tumbling event-time windows — the
  *    streaming twin of q50. Late data beyond 10 minutes is dropped by
  *    the watermark; state is bounded per (window × type).
  *  - [[sessionize]]: 30-minute-gap sessions via
  *    `flatMapGroupsWithState` — the streaming twin of q51. State per
  *    user is one open session; a session is emitted when a later event
  *    arrives past the gap. At scale state is partitioned by user_id
  *    (the groupByKey shuffle) and each key holds O(1) state.
  */
object EventStream {

  val sessionGapSeconds: Long = graft.ops.Events.sessionGapSeconds

  /** Streaming exact dedup — the streaming twin of q31 for an ingest
    * pipeline: keep the first arrival of each fingerprint, drop replays.
    * `dropDuplicatesWithinWatermark` bounds the dedup state by the
    * watermark (a plain `dropDuplicates` on a stream holds every key ever
    * seen — unbounded state on an infinite ingest): duplicates arriving
    * within the watermark window dedup exactly; a replay older than the
    * watermark can be re-admitted, the standard bounded-state tradeoff,
    * which a downstream batch q31 pass then removes. State is partitioned
    * by the dedup key, O(1) per key. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming ingest curation — the map-side curation columns (q79's
    * normalize + PII/denylist scrub, token count) applied to a document
    * stream: every expression is stateless and per-row, so the SAME column
    * definitions run unchanged under a streaming plan (no watermark or
    * state needed) — the curate-on-ingest shape.
    *
    * Malformed documents are NOT dropped: each row carries `quarantined`
    * (1 when the doc fails the batch A18 grammar — the SAME predicate as
    * q47, [[graft.etl.TextExtract.grammarBad]]), so the sink routes them
    * to a dead-letter output instead of silently losing them — e.g.
    * `.where('quarantined === 1)` to a quarantine path, or one sink
    * `partitionBy("quarantined")`. Batch-vs-stream parity of both the
    * curation columns AND the quarantine split is proved in
    * EventStreamSpec. */
  def curateStream(docs: DataFrame): DataFrame = {
    import graft.ops.{Curation, TextCore}
    val norm = TextCore.normCol(col("text"))
    docs.select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"),
        Curation.scrubHits(col("norm")).cast("long").as("n_hits"),
        md5(Curation.scrubbed(col("norm"))).as("scrub_md5"),
        size(TextCore.wordsCol(col("norm"))).cast("long").as("n_tokens"),
        when(graft.etl.TextExtract.grammarBad(col("norm"),
          TextCore.wordsCol(col("norm"))), 1L).otherwise(0L).as("quarantined"))
  }

  /** Streaming twin of q267's PII scrub — the stateless in-flight
    * privacy pass: each arriving (doc_id, source, text) is scanned and
    * redacted with the SAME per-doc expressions as the gated batch row
    * ([[graft.ops.TextStats.piiScrubCols]] — one definition, zero
    * drift; the residual column proves per-row that redaction removed
    * every match). No watermark, no state: the privacy rule of a
    * stream is per-document. The batch row's plant/aggregate stay
    * batch-side; EventStreamSpec pins per-doc parity on planted PII. */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.ops.TextStats.piiScrubCols(
        docs.select(col("doc_id"), col("source"), col("text").as("t2")))
      .select(col("doc_id"), col("source"),
        col("n_email").cast("long").as("n_email"),
        col("n_phone").cast("long").as("n_phone"),
        col("red"), col("residual").cast("long").as("residual"))

  /** Streaming twin of q266's repetition filter — same stateless
    * posture: arriving docs get the shared word/shingle features and
    * the SAME duplicate-bigram arithmetic
    * ([[graft.ops.TextStats.repetitionStats]]); a flagged doc is
    * routed by `.where('flagged === 1)` exactly like [[curateStream]]'s
    * quarantine split. */
  def repetitionStream(docs: DataFrame): DataFrame =
    graft.ops.TextStats.repetitionStats(
      graft.ops.TextCore.withShingleFeatures(
        docs.select(col("doc_id"), col("text")), col("text")))

  /** Streaming twin of q80's base-corpus classification: a document
    * stream joined against the STATIC base fingerprint index (the
    * stream-static left join — the base side is a fixed snapshot consumed
    * per micro-batch, no streaming state, exactly how a nightly-built
    * dedup index is served to an ingest stream). Each arriving doc is
    * classified dup_of_base or new. In-stream replays are [[dedupStream]]'s
    * job (watermark-bounded state); composing the two gives q80's full
    * three-way classification. At scale the index side is a parquet table
    * joined on the 32-char fp key (broadcast if vocabulary-sized, else a
    * bucketed join — never a re-scan of history). */
  def incrementalDedupStream(docs: DataFrame, baseFps: DataFrame): DataFrame =
    docs.join(
        baseFps.select(col("fp")).distinct().withColumn("in_base", lit(1)),
        Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(col("in_base").isNotNull, "dup_of_base").otherwise("new").as("status"))

  /** Streaming NEAR-dup dedup — the q89 twin [[incrementalDedupStream]]
    * can't be: a lightly-edited re-crawl slips past the exact fingerprint
    * index, so each arriving document's raw text is shingled and
    * MinHash-banded in-stream (all stateless expressions, the SAME
    * [[graft.ops.Dedup.withBandKeys]] definition as batch) and its band
    * keys probe the static base band index — a stream-static equi-LEFT-
    * join on (band, bkey), the nightly q89 snapshot served per
    * micro-batch with no streaming state. The left join keeps documents
    * with no candidate so the downstream report covers every arrival.
    * Candidate dedup, exact-Jaccard verification and the per-doc report
    * are aggregations, so they run in `foreachBatch` via
    * [[neardupReportBatch]] — EventStreamSpec proves the composition's
    * row parity with batch q89 on the same corpus split. At scale the
    * index is a parquet table keyed by 32-char band keys: broadcast if
    * vocabulary-sized, else bucketed — history is never re-scanned. */
  def neardupProbeStream(docs: DataFrame, baseBands: DataFrame): DataFrame = {
    import graft.ops.{Dedup, TextCore}
    val feats = TextCore
      .withShingleFeatures(docs.select(col("doc_id"), col("text")), col("text"))
      .select("doc_id", "sh_md5")
    Dedup.withBandKeys(feats)
      .join(baseBands, Seq("band", "bkey"), "left")
      .select(col("doc_id"), col("base_id"))
  }

  /** The foreachBatch half of the streaming near-dup path: dedup the
    * micro-batch's candidate pairs, verify them at exact Jaccard ≥ 0.5
    * and emit the q89-shaped per-doc report — all through the SAME
    * [[graft.ops.Dedup]] verify/report the batch query uses. `incoming` /
    * `base` are the shingle stores ((doc_id, shingles, n_sh)) candidates
    * are verified against. */
  def neardupReportBatch(candBatch: DataFrame, incoming: DataFrame,
      base: DataFrame): DataFrame = {
    import graft.ops.Dedup
    val cand = candBatch.where(col("base_id").isNotNull)
      .select("doc_id", "base_id").distinct()
    Dedup.neardupReport(candBatch.select("doc_id").distinct(),
      Dedup.neardupVerify(cand, incoming, base))
  }

  /** Streaming SPAN-dedup probe — the span-granularity rung
    * [[neardupProbeStream]] (doc-level MinHash) can't see: an arriving
    * document that stitches corpus boilerplate INTO otherwise-unique
    * text. Each arrival's rolling 8-token window hashes are computed
    * in-flight (stateless per-row expressions, the SAME
    * [[graft.ops.Dedup.spanWindowsOf]] definition as batch q105) and
    * probe the STATIC corpus dup-hash set — q105's `occ > 1` table, the
    * nightly span index — via a stream-static equi-join on the 32-char
    * hash, emitting the flagged (doc_id, n_tokens, start) windows. The
    * per-doc interval union is an aggregation → foreachBatch via
    * [[spanReportBatch]]. Docs shorter than 8 tokens yield no windows
    * and drop out, exactly as in batch. At scale the index is a parquet
    * table keyed by the hash: broadcast if boilerplate-sized, else
    * bucketed — the corpus is never re-scanned per batch. */
  def spanProbeStream(docs: DataFrame, dupHashes: DataFrame): DataFrame = {
    import graft.ops.{Dedup, TextCore}
    val words = docs.select(col("doc_id"),
      TextCore.wordsCol(TextCore.normCol(col("text"))).as("words"))
    Dedup.spanWindowsOf(words)
      .join(dupHashes, Seq("h"))
      .select(col("doc_id"), col("n_tokens"), col("start"))
  }

  /** The foreachBatch half of the streaming span path: q105's per-doc
    * interval-union report over the micro-batch's flagged windows —
    * the SAME [[graft.ops.Dedup.spanReport]] aggregation the batch
    * query uses, so the in-stream flagged-token fractions are
    * row-for-row the batch ones (EventStreamSpec proves it on a
    * two-micro-batch split). */
  def spanReportBatch(flaggedBatch: DataFrame): DataFrame =
    graft.ops.Dedup.spanReport(flaggedBatch)

  /** Streaming CHUNK probe — the content-defined-chunking member of
    * the probe-stream family (exact fingerprints → MinHash bands →
    * span hashes → chunks): arriving documents are chunked IN-FLIGHT
    * with the gated chunker ([[graft.ops.Dedup.cdcChunksOf]] — one
    * definition, zero drift from q166/q167) and every chunk is
    * classified against a STATIC base chunk-hash set (the nightly
    * corpus chunk ledger, the incrementalDedupStream convention):
    * dup = 1 iff the chunk's content already exists in the base.
    * Chunking is stateless map-side; the classify join is
    * stream-static on the 32-char hash (broadcastable when the base
    * set is the q166 DUPLICATED-chunk ledger rather than all chunks).
    * The base is re-resolved per micro-batch when passed as a file
    * read, so a nightly ledger refresh lands without a restart. The
    * base is deduplicated HERE (r12 advice): the membership join must
    * be at-most-one-match regardless of what the caller passes — a raw
    * per-occurrence ledger would otherwise multiply probe rows and
    * silently inflate the rollup's n_chunks/dup_frac. */
  def chunkProbeStream(docs: DataFrame, baseChunks: DataFrame): DataFrame = {
    import graft.ops.{Dedup, TextCore}
    val words = docs.select(col("doc_id"),
      TextCore.wordsCol(TextCore.normCol(col("text"))).as("words"))
    Dedup.cdcChunksOf(words)
      .join(baseChunks.select(col("chunk_md5")).distinct()
          .withColumn("dup", lit(1L)),
        Seq("chunk_md5"), "left")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_md5"), col("n_tok"),
        coalesce(col("dup"), lit(0L)).as("dup"))
  }

  /** Streaming fuzzy-NAME probe — the entity-resolution member of the
    * probe-stream family (exact fingerprints → MinHash bands → span
    * hashes → chunks → names): arriving catalog names are blocked on
    * their noun token in-flight and matched against a STATIC base name
    * set via the SHARED q191 predicate
    * ([[graft.ops.Dedup.fuzzyBlockMatch]] — one definition, zero
    * drift): each output row is (probe_name, match_name, dist ≤ 2),
    * dist 0 meaning "already known". Blocking is stateless map-side;
    * the match join is stream-static on the block key (broadcastable —
    * the base side is catalog-sized). The base is deduplicated HERE
    * (the chunkProbeStream convention): membership semantics must hold
    * regardless of the caller's input shape. */
  def fuzzyNameProbeStream(probes: DataFrame, baseNames: DataFrame): DataFrame = {
    import graft.ops.Dedup
    val p = probes.select(col("name").as("probe_name"),
      element_at(split(col("name"), " "), 2).as("block"))
    Dedup.fuzzyBlockMatch(p,
        baseNames.select(col("name"), col("block")).distinct(), maxDist = 2)
      .select(col("probe_name"), col("name").as("match_name"), col("dist"))
  }

  /** The foreachBatch half of the streaming chunk path: q167's per-doc
    * copy-paste rollup over the micro-batch's probed chunks — the SAME
    * [[graft.ops.Dedup.chunkDupRollup]] aggregation, so an in-flight
    * "mostly stitched from known blocks" verdict is the batch one. */
  def chunkReportBatch(probedBatch: DataFrame): DataFrame =
    graft.ops.Dedup.chunkDupRollup(probedBatch)

  /** The foreachBatch half of the streaming drift path: fold an
    * accumulated frame of [[driftCellsStream]]'s emitted (type, day,
    * bucket, cnt) cells into the gated q229 drift table — epoch from
    * the shared day rule, cells summed per (type, epoch, bucket) (they
    * are linear — the mergeability that makes the histogram the
    * 100 TB representation), then the SAME
    * [[graft.ops.Events.driftTable]] the batch gate runs
    * (the [[chunkReportBatch]] convention: one definition, stream and
    * batch cannot drift). A monitor calls this on each batch of newly
    * closed day-cells unioned with its retained history; the result is
    * the alert table the pipeline gates the next training batch on. */
  def driftReportBatch(cellsBatch: DataFrame): DataFrame = {
    import graft.ops.Events
    Events.driftTable(cellsBatch
      .select(col("event_type"), Events.driftEpoch(col("day")).as("epoch"),
        col("bucket"), col("cnt"))
      .groupBy("event_type", "epoch", "bucket")
      .agg(sum("cnt").as("cnt")))
  }

  /** Streaming ANN serving — the EMBEDDING rung of the probe-stream
    * family (exact fingerprints → MinHash bands → span hashes →
    * vectors): arriving query vectors are answered with top-k cosine
    * neighbors FROM the persisted IVF index, per micro-batch. Unlike
    * the text probes there is no useful stateless in-flight half —
    * probe ranking, the partition-pruned candidate scope and the top-k
    * are all aggregation-shaped — so the WHOLE search runs in `foreachBatch`
    * through the batch helper
    * [[graft.ops.Similarity.ivfIndexSearch]] (the [[spanReportBatch]]
    * convention: one definition, stream and batch can never drift).
    * Queries are independent rows, so the stream holds no state; the
    * index is static files the nightly build owns, erasures
    * ([[graft.ops.Similarity.deleteIvfVectors]]) reach results through
    * the live epoch's erase records without waiting for a rebuild
    * (EventStreamSpec proves two-micro-batch parity with the batch
    * search AND live erasure mid-stream). */
  def annSearchBatch(s: org.apache.spark.sql.SparkSession, index: String,
      nprobe: Int = 4, k: Int = 5)(batch: DataFrame): DataFrame =
    graft.ops.Similarity.ivfIndexSearch(s, index, batch, nprobe, k)

  /** Streaming LEXICAL serving — [[annSearchBatch]]'s BM25 twin: free-
    * text queries (query_id, text) arriving on a stream are searched
    * against the persisted postings index per micro-batch through the
    * batch [[graft.ops.Retrieval.lexIndexSearchText]] (one definition,
    * zero drift). The index is re-resolved per batch, so a mid-stream
    * [[graft.ops.Retrieval.appendLexIndex]] (a new corpus generation)
    * is served on the very next micro-batch — no rebuild, no restart:
    * the LSM merge-on-read freshness the spec pins. */
  def lexSearchBatch(s: org.apache.spark.sql.SparkSession, index: String)
      (batch: DataFrame): DataFrame =
    graft.ops.Retrieval.lexIndexSearchText(s, index, batch)

  /** Streaming HYBRID serving — full q160 semantics per micro-batch
    * from the two persisted artifacts: (query_id, text, qv) queries
    * search the term-bucket-pruned postings index and the probe-pruned
    * IVF index, fused by the SAME [[graft.ops.Retrieval.rrfFuse]] the
    * gated q160 runs (one fusion definition, zero drift — parity
    * spec-pinned against q160's output on corpus queries). */
  def hybridSearchBatch(s: org.apache.spark.sql.SparkSession,
      lexIndex: String, ivfIndex: String)(batch: DataFrame): DataFrame =
    graft.ops.Retrieval.hybridIndexSearch(s, lexIndex, ivfIndex, batch)

  /** Idempotent micro-batch parquet sink for `writeStream.foreachBatch`:
    * each micro-batch overwrites its own `batch_id=<id>` directory, so a
    * REPLAYED batch (restart after a sink-side failure — the at-least-once
    * delivery case) rewrites the same files instead of appending
    * duplicates: exactly-once OUTPUT from at-least-once delivery, the
    * standard transactional-sink pattern on a non-transactional store
    * (micro-batch ids are stable across checkpoint recovery, so the
    * replayed epoch lands on the same directory). Readers see `path` as a
    * normal parquet table partitioned by `batch_id`. */
  def parquetBatchSink(path: String): (DataFrame, Long) => Unit =
    (batch, id) => batch.write.mode("overwrite").parquet(s"$path/batch_id=$id")

  /** Streaming CDC APPLY — `writeStream.foreachBatch` sink that MERGEs
    * each micro-batch of a [[graft.etl.StarBuilder.tableDiff]]-shaped
    * change feed into a versioned warehouse table: read the LATEST
    * committed snapshot, [[graft.etl.StarBuilder.applyChanges]] the
    * batch onto it, and commit the result as a NEW snapshot version —
    * the continuous half of q120, and the streaming-MERGE surface a
    * lakehouse table format exposes. Each micro-batch is one committed
    * version, so downstream "latest" readers only ever see feed-batch
    * boundaries, never a half-applied batch, and time travel across
    * versions replays the feed's history. A REPLAYED batch (restart
    * after a sink-side failure, the at-least-once case) is harmless:
    * on a key-unique feed `applyChanges` is idempotent — re-deleting
    * an absent key removes nothing and a re-upserted post-image equals
    * the row already in place — so the re-committed version is
    * content-identical (spec-pinned): exactly-once TABLE STATE from
    * at-least-once delivery. Empty ticks commit nothing. At scale each
    * batch moves only the delta (the applyChanges anti-join broadcasts
    * the feed); the base table is re-read per batch from the snapshot
    * files, which a cluster deployment serves from the page cache or
    * prunes via the same bucketed layout as the batch path.
    *
    * COMMIT-level exactly-once (the r9 limit, closed): each applied
    * batch records its (streamId, batchId) in the version log's txn
    * ledger ([[graft.etl.SnapshotLog.txnMark]] — the Delta `txn`
    * action), and a replayed batch whose marker exists SKIPS entirely —
    * no duplicate version, no wasted apply. Marker lands after the
    * commit, so a crash in between degrades to the content-level
    * idempotence above (a duplicate version, never wrong data); batch
    * ids are per-stream, so `streamId` must be unique among streams
    * writing this warehouse (defaults to the table name — the
    * single-writer-per-table case). */
  def cdcApplySink(warehouse: String, table: String, keys: Seq[String],
      streamId: String = ""): (DataFrame, Long) => Unit =
    (feedBatch, batchId) => if (!feedBatch.isEmpty) {
      import graft.etl.{SnapshotLog, StarBuilder}
      val sid = if (streamId.nonEmpty) streamId else table
      if (SnapshotLog.txnVersion(warehouse, sid, batchId).isEmpty) {
        // the idempotence AND correctness arguments both assume one change
        // per key per batch (tableDiff's contract): two changes for one key
        // in a single batch have no defined order here, and blindly
        // unioning both post-images would commit a duplicate-key version
        // that stays time-travel-readable forever — fail loudly instead
        val dup = feedBatch.groupBy(keys.map(col): _*).count()
          .where(col("count") > 1).limit(1).count()
        require(dup == 0L,
          s"cdcApplySink: feed batch carries multiple changes for one key " +
            s"(${keys.mkString(", ")}); collapse to one change per key per " +
            "batch upstream (tableDiff feeds are key-unique by construction)")
        // read-modify-write: pin the version we derive from and commit
        // exactly its successor — a concurrent commit makes this batch
        // fail (and replay after restart, idempotently) instead of
        // silently erasing the other writer's version from the latest view
        val cur = SnapshotLog.latestVersion(warehouse).getOrElse(
          throw new IllegalStateException(s"no committed version in $warehouse"))
        val base = StarBuilder.readAt(feedBatch.sparkSession, warehouse, table, Some(cur))
        val v = StarBuilder.writeTableVersionedFrom(
          StarBuilder.applyChanges(base, feedBatch, keys), warehouse, table, cur)
        SnapshotLog.txnMark(warehouse, sid, batchId, v)
      }
    }

  /** Streaming twin of the batch AS-OF attribution (q68): stream-stream
    * inner join of purchases to same-user clicks within the preceding 30
    * minutes. Both sides carry watermarks so the join state is bounded —
    * a click older than the watermark plus the join interval can never
    * match a future purchase and is evicted; without the time-range
    * condition the state would grow with the full click history. State is
    * partitioned by the join key (user_id). */
  def attributionStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        timestamp_seconds(col("es")).as("cts"))
      .withWatermark("cts", "10 minutes")
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        timestamp_seconds(col("es")).as("pts"))
      .withWatermark("pts", "10 minutes")
    p.join(c, col("user_id") === col("c_user") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $sessionGapSeconds SECONDS"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_timestamp(col("pts")).as("purchase_es"),
        unix_timestamp(col("cts")).as("click_es"))
  }

  /** Watermarked tumbling 1-hour counts per event type (streaming q50). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n_events"))

  /** Windowed DISTINCT users via the HLL sketch — the streaming twin of
    * batch q93's falsifiable-error distinct counts, and the form a
    * stream can actually afford: an exact streaming `countDistinct` per
    * window would hold every user id seen in every open window (state ∝
    * traffic), where the HLL state is a fixed-size sketch per (window ×
    * type) regardless of cardinality — Spark merges sketch buffers
    * across micro-batches just like any partial aggregate. Same sketch,
    * same rsd, same input → the estimate is deterministic, so the spec
    * pins stream ≡ batch on the identical events (not just "close"). */
  def windowedDistinctUsers(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(approx_count_distinct("user_id", 0.02).as("hll_users"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("hll_users"))

  /** Streaming Count-Min sketch — the streaming twin of batch q147/q151:
    * each arriving document's tokens increment the sketch's (row, bucket)
    * counters, and Spark merges the partial counts across micro-batches
    * like any streaming aggregate, so the STATE IS THE SKETCH — ≤ 1024
    * cells regardless of traffic (the [[windowedDistinctUsers]] argument
    * at the corpus grain: an exact term table would hold every distinct
    * token ever seen). Counters are linear (q151's merge law), so in
    * complete output mode the cells after any prefix of batches equal
    * the batch sketch of the data seen so far — the parity the spec
    * pins cell-for-cell. Bucket math and normalization are the batch
    * helpers themselves ([[graft.ops.TextStats.cmsBuckets]],
    * [[graft.ops.TextCore.normCol]]), so the geometry cannot drift. */
  /** Streaming BOTTOM-K audience signatures — q271's stateful twin:
    * per event type the state is the signature itself (≤ [[graft.ops
    * .Events.bkK]] sorted hashes — bounded regardless of traffic, the
    * windowedDistinctUsers argument at the signature grain), merged
    * with each batch's arrivals by union → re-bottom-k (the gated
    * merge law, so overlapping replays are harmless). Each batch emits
    * a full snapshot per touched type with a monotone `upd` counter
    * (the weightedSampleStream convention: a consumer keeps each
    * type's max-upd set); the snapshot feeds
    * [[graft.ops.Events.audienceJaccardEst]] directly, so the served
    * overlap estimate is the gated q271 tail verbatim. Hash = the
    * shared q271 Column expression, applied BEFORE typing. */
  def audienceSigStream(events: DataFrame): Dataset[SigRow] = {
    import events.sparkSession.implicits._
    val k = graft.ops.Events.bkK.toInt
    events
      .select(col("event_type"), graft.ops.Events.sigHash.as("h"))
      .as[SigEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[SigState, SigRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[SigEv], state: GroupState[SigState]) =>
          val prev = state.getOption.getOrElse(SigState(0L, Seq.empty))
          val merged = (prev.sig ++ batch.map(_.h)).distinct.sorted.take(k)
          val upd = prev.upd + 1L
          state.update(SigState(upd, merged))
          merged.zipWithIndex.map { case (h, i) =>
            SigRow(key, upd, i + 1L, h)
          }.iterator
      }
  }

  /** Streaming VALUE-HISTOGRAM cells — q277's twin, the
    * [[histCellsStream]] pattern at the events grain: each arriving
    * event increments its (type, cent-value) cell, the cells are
    * LINEAR (counts sum), so complete-mode output after any batch
    * prefix equals the batch histogram of the data seen so far, and a
    * downstream reader serves the winsorized-mean report through the
    * SAME shared tail ([[rollupWinsorBatch]] →
    * [[graft.ops.Events.winsorFromHist]]). State: one counter per
    * distinct (type, cent) — value-domain-bounded, never event count. */
  def valueHistStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))

  /** Serve q277's report from streamed value-histogram cells — the
    * shared batch tail, literally. */
  def rollupWinsorBatch(cellsBatch: DataFrame): DataFrame =
    graft.ops.Events.winsorFromHist(cellsBatch)

  /** Streaming PRIVACY-AUDIT cells — the q339/q340 twin in the
    * [[valueHistStream]] pattern: arriving already-joined
    * (seg, yr, prio) order rows fold to the QI×priority cell counts
    * (a streaming-legal grouped count; the cell table is classes×5
    * bounded — the state IS the audit's sufficient statistic), and a
    * reader serves BOTH privacy reports from a cell snapshot —
    * l-diversity as a plain rollup, t-closeness through
    * [[privacyReportBatch]] → the SAME
    * [[graft.ops.Curation.tClosenessFromCells]] tail the gate reads.
    * Counting is additive, so the served report after any prefix
    * equals batch q340 over the same rows (the spec pins the
    * t-closeness parity — the harder tail, EMD and densified spine
    * included). */
  def qiCellsStream(orders: DataFrame): DataFrame =
    orders.groupBy("seg", "yr", "prio").agg(count(lit(1)).as("cnt"))

  /** Serve q340's t-closeness report from streamed QI cells — the
    * shared gated tail, literally. The snapshot is localCheckpointed
    * first: the tail self-joins the cell frame (classes × spine ×
    * global cums), and a memory-sink VIEW is single-instance — the
    * analyzer throws "conflicting references" on it, while a
    * checkpointed LogicalRDD re-instances per branch (the documented
    * rankCodes-over-views rule). Cells are bounded, so the
    * materialization is kilobytes. */
  def privacyReportBatch(cellsBatch: DataFrame): DataFrame =
    graft.ops.Curation.tClosenessFromCells(cellsBatch.localCheckpoint(true))

  /** Streaming ENGAGEMENT-HISTOGRAM deltas — the rankCodes/segmentation
    * family's stateful twin (q302; the r16 verdict item 7 extension of
    * "state is the sketch" to the BI reports). Unlike
    * [[valueHistStream]], the histogram here is over a DERIVED
    * per-user aggregate (events-per-user), so a user's arrival MOVES
    * them between cells — the twin therefore keeps one (n_events,
    * cents) state per user and emits RETRACTION deltas: each
    * micro-batch folds the user's arrivals and emits (old cell, −1,
    * −old_cents) + (new cell, +1, +new_cents). Delta rows are LINEAR:
    * summed per n_events value they equal the batch engagement
    * histogram of the data seen so far, and the decile/Pareto report
    * is served through the SAME tail the gated q302 reads
    * ([[decileReportBatch]] →
    * [[graft.ops.Events.decileReportFromCells]]). State per user is
    * O(1); downstream cell count is events-per-user-domain-bounded. */
  def engagementCellsStream(events: Dataset[EngEv]): Dataset[EngDelta] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EngState, EngDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[EngEv], state: GroupState[EngState]) =>
          var dn = 0L; var dc = 0L
          batch.foreach { e => dn += 1L; dc += e.cents }
          val prev = state.getOption
          val next = EngState(prev.fold(dn)(_.n + dn),
            prev.fold(dc)(_.cents + dc))
          state.update(next)
          (prev.toSeq.map(p => EngDelta(p.n, -1L, -p.cents)) :+
            EngDelta(next.n, 1L, next.cents)).iterator
      }
  }

  /** Serve q302's decile/Pareto report from streamed engagement
    * deltas: fold the deltas to cells (retractions cancel a user's
    * previous contribution; emptied cells drop), then the shared
    * gated tail, literally. */
  def decileReportBatch(deltaBatch: DataFrame): DataFrame =
    graft.ops.Events.decileReportFromCells(
      deltaBatch
        .groupBy("n_events")
        .agg(sum("d_users").as("n_users"), sum("d_cents").as("cents"))
        .where(col("n_users") > 0L))

  /** Streaming SPAN-HISTOGRAM deltas — q330's stateful twin, the
    * [[engagementCellsStream]] retraction pattern at the tenure grain:
    * a user's arrival can extend their (first, last) activity span,
    * MOVING them between span cells, so the state is one (f, l) pair
    * per user and each micro-batch that changes it emits a retraction
    * of the old cell and an insertion of the new (a batch that
    * changes nothing emits nothing). Folded deltas equal the batch
    * span histogram after any prefix, and the hazard report — horizon,
    * censoring and all — is served through the SAME tail the gated
    * q330 reads ([[hazardReportBatch]] →
    * [[graft.ops.Events.tenureHazardFromCells]]; the horizon is a
    * cells property, so late data re-derives censoring correctly
    * instead of freezing a stale horizon into state). */
  def tenureCellsStream(events: Dataset[TenEv]): Dataset[TenDelta] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TenState, TenDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TenEv], state: GroupState[TenState]) =>
          var mn = Long.MaxValue; var mx = Long.MinValue
          batch.foreach { e =>
            if (e.day < mn) mn = e.day
            if (e.day > mx) mx = e.day
          }
          val prev = state.getOption
          val next = TenState(prev.fold(mn)(p => math.min(p.f, mn)),
            prev.fold(mx)(p => math.max(p.l, mx)))
          state.update(next)
          if (prev.contains(next)) Iterator.empty
          else (prev.toSeq.map(p => TenDelta(p.f, p.l, -1L)) :+
            TenDelta(next.f, next.l, 1L)).iterator
      }
  }

  /** Serve q330's hazard report from streamed span deltas — fold to
    * cells, then the shared gated tail, literally. */
  def hazardReportBatch(deltaBatch: DataFrame): DataFrame =
    graft.ops.Events.tenureHazardFromCells(
      deltaBatch
        .groupBy("f", "l")
        .agg(sum("d_users").as("n_users"))
        .where(col("n_users") > 0L))

  /** Streaming ATTENTION-HANDOFF EDGES — the graph family's ingest
    * stage (r17 verdict item 7): the batch edge derivation is a
    * lag-1 window per hour bucket ([[graft.ops.Events.handoffEdges]]),
    * so the streaming state is exactly the lag cursor — per hour
    * bucket, the LAST folded event — and each micro-batch emits the
    * handoffs its arrivals complete (including the one that closes
    * over the state boundary, which a naive per-batch window would
    * drop). Same strictly-ahead in-order ingest contract as
    * [[transitionStream]] (a redelivered duplicate would emit a
    * spurious edge no batch run counts). Scale: the key domain is
    * hour buckets, so one bucket's arrivals serialize through one
    * task — the SAME trade the batch window makes (its lag partitions
    * by `es div 3600`); state is O(1) per bucket. */
  def handoffEdgeStream(events: Dataset[Ev]): Dataset[HandEdge] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.es / 3600L)
      .flatMapGroupsWithState[HandState, HandEdge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (hb: Long, batch: Iterator[Ev], state: GroupState[HandState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.es, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[HandEdge]
          sorted.foreach { e =>
            cur.foreach { st =>
              require(e.es > st.lastEs ||
                (e.es == st.lastEs && e.event_id > st.lastEventId),
                s"handoffEdgeStream: bucket $hb event ${e.event_id} at ${e.es} " +
                  s"arrived at or behind folded state (${st.lastEs}, ${st.lastEventId}) — " +
                  "the in-order ingest contract is broken")
              if (st.lastUser != e.user_id)
                out += HandEdge(st.lastUser, e.user_id)
            }
            cur = Some(HandState(e.es, e.event_id, e.user_id))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming DYAD STATE — q344's stateful twin, the keyed
    * EDGE-STATE STORE: keyed by the unordered user pair, the state is
    * which of the two directions has ever been seen, and a batch that
    * completes a new direction emits a delta (+1 distinct directed
    * edge; +1 mutual the batch the pair turns reciprocal). Folded
    * deltas equal the batch (E, M) counters after any prefix, and the
    * census row — null dyads, reciprocity and all — is served through
    * the LITERAL gated q344 tail
    * ([[dyadReportBatch]] → [[graft.ops.Events.dyadCensusRow]]).
    * State is one 2-bit flag pair per DISTINCT edge — the same
    * cardinality the batch self-join shuffles, held incrementally. */
  def dyadCellsStream(edges: Dataset[HandEdge]): Dataset[DyadDelta] = {
    import edges.sparkSession.implicits._
    edges
      .groupByKey(e => (math.min(e.src, e.dst), math.max(e.src, e.dst)))
      .flatMapGroupsWithState[DyadState, DyadDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), batch: Iterator[HandEdge],
         state: GroupState[DyadState]) =>
          val st0 = state.getOption.getOrElse(DyadState(fwd = false, rev = false))
          var st = st0
          batch.foreach { e =>
            if (e.src < e.dst) st = st.copy(fwd = true)
            else st = st.copy(rev = true)
          }
          if (st == st0) Iterator.empty
          else {
            state.update(st)
            val dDir = (if (st.fwd && !st0.fwd) 1L else 0L) +
              (if (st.rev && !st0.rev) 1L else 0L)
            val dMut = if (st.fwd && st.rev && !(st0.fwd && st0.rev)) 1L else 0L
            Iterator.single(DyadDelta(dDir, dMut))
          }
      }
  }

  /** Serve q344's census from streamed dyad deltas plus the node
    * count (its own trivially-streamable running count, supplied by
    * the caller): fold to the (e, m) counters, then the shared gated
    * tail, literally. */
  def dyadReportBatch(deltaBatch: DataFrame, nNodes: DataFrame): DataFrame =
    graft.ops.Events.dyadCensusRow(
      deltaBatch
        .agg(coalesce(sum("d_dir"), lit(0L)).as("e"),
          coalesce(sum("d_mutual"), lit(0L)).as("m"))
        .crossJoin(broadcast(nNodes)))

  /** [[HandEdge]]s fanned out to both endpoints — the stateless feed
    * of [[degreeCellsStream]] (a simple-graph edge contributes one
    * neighbor to EACH end, whichever direction it ran). */
  def edgeEnds(edges: Dataset[HandEdge]): Dataset[EdgeEnd] = {
    import edges.sparkSession.implicits._
    edges.flatMap(e => Seq(EdgeEnd(e.src, e.dst), EdgeEnd(e.dst, e.src)))
  }

  /** Streaming DEGREE OCTAVES — q345's stateful twin in the
    * [[engagementCellsStream]] retraction pattern: per user the state
    * is the distinct neighbor set (the per-user degree map), and a
    * batch that grows it MOVES the user between octave cells — emit
    * (old octave, −1) + (new octave, +1); a batch adding no new
    * neighbor emits nothing. Folded deltas equal the batch octave
    * histogram over degree ≥ 1 after any prefix; octave 0 (edge-free
    * users) is total − active, resolved in the served report
    * ([[degreeReportBatch]] →
    * [[graft.ops.Events.degreeOctavesFromCells]], the gated tail).
    * The octave is the exact integer ⌊log₂ deg⌋ + 1 — the q300
    * `length(bin(v))` trick, computed here via Long.numberOfLeadingZeros
    * (bit-identical, no libm). */
  def degreeCellsStream(ends: Dataset[EdgeEnd]): Dataset[OctDelta] = {
    import ends.sparkSession.implicits._
    def octave(deg: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(deg)
    ends
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DegState, OctDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[EdgeEnd], state: GroupState[DegState]) =>
          val prev = state.getOption.map(_.nbrs.toSet).getOrElse(Set.empty[Long])
          val next = prev ++ batch.map(_.nbr)
          if (next.size == prev.size) Iterator.empty
          else {
            state.update(DegState(next.toSeq.sorted))
            val out = Seq.newBuilder[OctDelta]
            if (prev.nonEmpty) out += OctDelta(octave(prev.size.toLong), -1L)
            out += OctDelta(octave(next.size.toLong), 1L)
            out.result().iterator
          }
      }
  }

  /** Serve q345's octave histogram from streamed degree deltas plus
    * the 1-row total-user count: fold to cells, then the shared gated
    * tail, literally. */
  def degreeReportBatch(deltaBatch: DataFrame, nTotal: DataFrame): DataFrame =
    graft.ops.Events.degreeOctavesFromCells(
      deltaBatch
        .groupBy("octave")
        .agg(sum("d_users").as("n_users"))
        .where(col("n_users") > 0L),
      nTotal)

  def cmsCellsStream(docs: DataFrame): DataFrame = {
    import graft.ops.{TextCore, TextStats}
    docs
      .select(explode(TextCore.wordsCol(TextCore.normCol(col("text")))).as("word"))
      .select(posexplode(TextStats.cmsBuckets(col("word"))).as(Seq("r", "b")))
      .groupBy("r", "b").agg(count(lit(1)).as("cell_cnt"))
  }

  /** Streaming length-histogram sketch — [[cmsCellsStream]]'s
    * distribution twin (q168): arriving documents increment their
    * token-count bucket's cell, Spark merges the ≤64 counters across
    * micro-batches, so the STATE IS THE SKETCH and (counters being
    * linear — the q168 merge law) complete-mode output after any
    * prefix of batches equals the batch cells of the data seen so far.
    * The bucket geometry is the shared [[graft.ops.TextStats.histCells]]
    * definition; a downstream reader serves p50/p90/p99 from these
    * cells exactly as the gated query does. */
  def histCellsStream(docs: DataFrame): DataFrame = {
    import graft.ops.{TextCore, TextStats}
    TextStats.histCells(docs.select(col("doc_id"),
      TextCore.wordsCol(TextCore.normCol(col("text"))).as("words")))
  }

  /** Streaming sequence packing — the stateful streaming twin of the batch
    * q78 plan: per (lang, shard) the state is one Long (tokens emitted so
    * far); each arriving document is assigned the sequence its start
    * offset falls in (ctx = 256, concat-and-chunk) and advances the
    * counter. Matches the batch assignment exactly when each shard's
    * documents arrive in doc_id order (the deterministic-ingest contract;
    * within a micro-batch arrival order is irrelevant because the group
    * iterator is sorted by doc_id before folding) — proved by the
    * batch-parity spec. State per key is O(1); keys = lang × shard, the
    * same parallelism the batch window uses. */
  def packStream(docs: Dataset[PackDoc]): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    val ctx = 256L
    docs
      .groupByKey(d => (d.lang, d.shard))
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: (String, Long), batch: Iterator[PackDoc], state: GroupState[PackState]) =>
          val sorted = batch.toSeq.sortBy(_.doc_id)
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = sorted.map { d =>
            val seqId = cum / ctx
            cum += d.n_tokens
            PackAssign(key._1, key._2, d.doc_id, seqId)
          }
          state.update(PackState(cum))
          out.iterator
      }
  }

  /** Watermarked DAILY-rate feed — the late-data rung in FRONT of the
    * daily fold twins ([[ewmaStream]] / [[cusumStream]]), whose
    * O(1)-state recurrences demand a complete-per-day, day-ordered
    * feed and fail loudly otherwise (r13 verdict item 6: that
    * contract previously had no producer a raw out-of-order event
    * stream could satisfy). The event-time watermark IS the
    * contract-maker: raw events aggregate into 1-day tumbling
    * windows, and a (type, day) count is emitted in APPEND mode only
    * once the watermark passes the day's end — COMPLETE by
    * construction (nothing inside the lateness bound can still
    * arrive), and non-decreasing in day per key because the watermark
    * is monotone. Out-of-order arrivals inside `lateness` are
    * absorbed into the still-open window; rows beyond it are dropped
    * by the watermark OBSERVABLY — the progress metrics'
    * `numRowsDroppedByWatermark` counts them, and the spec pins a
    * planted beyond-watermark row changing no emitted count. The
    * emitted rows are legal [[ewmaStream]]/[[cusumStream]] input by
    * construction, closing the raw-events → daily-fold pipeline. */
  def dailyCountsStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("cnt"))

  /** Stateful ALARM DEBOUNCE — the flap suppressor in front of any of
    * the alarm feeds (drift, CUSUM, dispersion): the emitted level
    * flips only after `k` CONSECUTIVE raw ticks disagree with it, so a
    * flapping detector (the q321 n_switches pathology) pages once per
    * regime change instead of nightly. Pure run-length state per key
    * (two longs — bounded regardless of traffic); ticks are folded in
    * `seq` order within each batch, and the in-order ingest contract
    * is the [[scdTierStream]] class but tolerant: alarm ticks are
    * derived internally (per micro-batch), so out-of-order delivery
    * cannot occur in the wiring this guards. */
  def alarmDebounceStream(evs: Dataset[DebEv], k: Int = 3): Dataset[DebOut] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[DebEv], state: GroupState[DebState]) =>
          var cur = state.getOption.getOrElse(DebState(0L, 0L))
          val out = rows.toSeq.sortBy(_.seq).map { e =>
            cur =
              if (e.raw == cur.level) DebState(cur.level, 0L)
              else if (cur.run + 1 >= k) DebState(e.raw, 0L)
              else DebState(cur.level, cur.run + 1)
            DebOut(key, e.seq, e.raw, cur.level)
          }
          state.update(cur)
          out.iterator
      }
  }

  /** foreachBatch consumer for [[dailyCountsStream]] — serves q295's
    * overdispersion index over the emitted per-day counts through the
    * SHARED [[graft.ops.Events.dispersionFromDaily]] (one definition;
    * the emitted (event_type, day, cnt) rows are complete days, so the
    * served index equals batch q295 over the on-time rows verbatim —
    * the burstiness alarm a capacity monitor keeps live). */
  def dispersionReportBatch(dailyBatch: DataFrame): DataFrame =
    graft.ops.Events.dispersionFromDaily(dailyBatch)

  /** Watermarked DAILY-SPEND feed — the per-user rung of the daily
    * family: purchase events aggregate to (user, day) cents totals,
    * emitted in APPEND mode once the watermark passes the day's end,
    * so each row is complete and per-user day-ordered by construction —
    * legal [[scdTierStream]] input, exactly how [[dailyCountsStream]]
    * feeds the ewma/cusum folds. Cents are the house integer rule, so
    * the fold downstream matches batch q240's arithmetic bit-exactly. */
  def dailySpendStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .where(col("event_type") === "purchase")
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("dc"))
      .select(col("user_id"),
        expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("dc"))

  /** Streaming SCD2 MAINTENANCE — batch q240's stateful twin: the
    * dimension-update service that keeps a type-2 customer-tier
    * history current as purchase days close, instead of rebuilding the
    * dimension nightly. (user, day, cents) rows arriving per the
    * [[ewmaStream]] ingest contract (complete-per-day, day-ordered per
    * key — what [[dailySpendStream]] emits by construction) fold
    * through per-user state of four longs; a version-open record is
    * emitted when the cumulative tier CHANGES ([[graft.ops.Events
    * .tierOfCents]] — the scalar twin of the batch threshold
    * expression, same constants). Emitted rows equal batch q240's
    * (user_id, version_no, tier, valid_from_day) over the same
    * on-time rows — EventStreamSpec pins the parity, the
    * double-threshold-in-one-day collapse (one version, tier skips),
    * and the loud out-of-order failure. `valid_to_day` is not emitted:
    * an append-only stream cannot retro-close a row; the consumer
    * derives closure from the next version's open (or treats the
    * latest version as current) — exactly how warehouse MERGE-based
    * SCD2 pipelines publish to append-only logs. State never times
    * out: a dormant customer's tier must survive arbitrary gaps (the
    * dimension is forever); at scale state is user-partitioned and
    * O(1) per user. */
  def scdTierStream(daily: Dataset[SpendDay]): Dataset[TierVersion] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, TierVersion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[SpendDay], state: GroupState[ScdState]) =>
          val sorted = batch.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(ScdState(Long.MinValue, 0L, -1L, 0L))
          val out = Seq.newBuilder[TierVersion]
          sorted.foreach { sd =>
            require(sd.day > st.lastDay,
              s"scdTierStream($user): day ${sd.day} arrived at or before folded " +
                s"day ${st.lastDay} — the daily spend feed must be " +
                "complete-per-day and in day order; rebuild from batch q240 instead")
            val cum = st.cum + sd.dc
            val t = graft.ops.Events.tierOfCents(cum)
            val n =
              if (st.nVersions == 0L || t != st.tier) {
                out += TierVersion(user, st.nVersions + 1L, t, sd.day)
                st.nVersions + 1L
              } else st.nVersions
            st = ScdState(sd.day, cum, t, n)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming POINT-IN-TIME serving — the third rung of the SCD2
    * family (q240 builds the dimension, [[scdTierStream]] maintains it,
    * this serves it): arriving clicks resolve the tier version valid AT
    * THEIR day against the STATIC dimension snapshot, the
    * stream-static left join of [[incrementalDedupStream]]'s class.
    * The join condition is the genuine range predicate
    * (`valid_from ≤ day < valid_to`, open version = NULL upper bound) —
    * at SERVE grain that is the right shape: validity ranges partition
    * each user's timeline so every click matches ≤ 1 version, and the
    * user_id equi-key keeps it a hash join with a residual filter
    * (batch q241 uses the union-window composition instead because it
    * re-derives the WHOLE history in one pass; a per-arrival lookup
    * has no history to scan). Pre-history clicks and unknown users
    * resolve to tier −1, exactly q241's convention — the
    * EventStreamSpec parity test pins the streamed rollup against the
    * gated batch rows. */
  def pitTierStream(clicks: DataFrame, dim: DataFrame): DataFrame = {
    val v = dim.select(col("user_id").as("v_user"), col("tier").as("v_tier"),
      col("valid_from_day").as("vf"), col("valid_to_day").as("vt"))
    clicks.join(v, col("user_id") === col("v_user") &&
        col("day") >= col("vf") && (col("vt").isNull || col("day") < col("vt")),
      "left")
      .select(col("event_id"), col("user_id"), col("day"),
        coalesce(col("v_tier"), lit(-1L)).as("tier"))
  }

  /** Watermarked DRIFT-CELL feed — q229's streaming twin (r14 verdict
    * item 4): drift monitoring is the stream-shaped use par excellence
    * (the gate a pipeline runs before trusting the NEXT batch), and the
    * histogram cells are exactly the mergeable per-batch state the
    * daily rung emits. Raw events aggregate into 1-day tumbling windows
    * keyed additionally by the SHARED value-bucket geometry
    * ([[graft.ops.Events.driftBucketCol]] — one definition with the
    * gated batch query); a (type, day, bucket) count is emitted in
    * APPEND mode only once the watermark passes the day's end, so each
    * emitted cell is complete. Because the epoch split is
    * midnight-aligned, epoch = [[graft.ops.Events.driftEpoch]](day) is
    * exact on the emitted rows, and the cells are LINEAR — summing them
    * per (type, epoch, bucket) and applying the shared
    * [[graft.ops.Events.driftTable]] reproduces the batch q229 table
    * verbatim over the on-time rows (EventStreamSpec pins the parity
    * and a beyond-watermark drop). Scale: state is one count per open
    * (day, type, bucket) ≤ types × 16 per day — bounded regardless of
    * event volume. */
  def driftCellsStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        graft.ops.Events.driftBucketCol.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("bucket"), col("cnt"))

  /** Watermarked CENT-GRAIN VALUE-CELL feed — q290's streaming twin,
    * the fine-grained sibling of [[driftCellsStream]] (16 coarse
    * buckets suffice for TV; the KS statistic reads the full cent
    * domain). Same construction: 1-day tumbling windows keyed by
    * (type, cent), cells emitted in APPEND mode once the watermark
    * closes the day, each cell complete and LINEAR — summing per
    * (type, epoch, cent) and applying the shared
    * [[graft.ops.Events.ksFromCells]] (via [[ksReportBatch]])
    * reproduces batch q290 verbatim over the on-time rows. State:
    * one count per open (day, type, cent) — value-domain-bounded
    * (≤ types × distinct cents per day), independent of event
    * volume. */
  def centCellsStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cent"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("cent"), col("cnt"))

  /** foreachBatch consumer for [[centCellsStream]] — maps each emitted
    * day to its epoch (midnight-aligned, so exact) and serves the KS
    * drift table through the SHARED [[graft.ops.Events.ksFromCells]]:
    * one definition, the stream report and gated batch q290 cannot
    * drift. */
  def ksReportBatch(cellsBatch: DataFrame): DataFrame = {
    import graft.ops.Events
    Events.ksFromCells(cellsBatch
      .select(col("event_type"), Events.driftEpoch(col("day")).as("epoch"),
        col("cent"), col("cnt")))
  }

  /** Watermarked HDR-CELL feed — q300's streaming twin, the third
    * member of the additive-cell stream family (drift buckets, cent
    * cells, HDR cells): per-day (type, id) HDR bucket counts emitted
    * in APPEND mode once the watermark closes the day. Cells are
    * ADDITIVE (the q300 merge law), so summing the emitted days per
    * (type, id) and running the shared quantile selection reproduces
    * batch q300 verbatim over the on-time rows ([[hdrReportBatch]]).
    * State: ≤ types × ~1000 cells per open day — bounded by the HDR
    * geometry for ANY value distribution, which is exactly why this
    * sketch (and not the raw cent histogram) is the shape you stream
    * over an unbounded domain. */
  def hdrCellsStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
      .where(col("vc") >= 1L)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        expr(graft.ops.Events.hdrBucketSql("vc")).as("id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"),
        expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("id"), col("cnt"))

  /** foreachBatch consumer for [[hdrCellsStream]] — folds the emitted
    * per-day cells per (type, id) and serves the quantile marks
    * through the SHARED machinery ([[graft.ops.Events.hdrLbSql]] +
    * [[graft.ops.Robust.histQuantiles]]): one definition with gated
    * batch q300. */
  def hdrReportBatch(cellsBatch: DataFrame): DataFrame = {
    import graft.ops.{Events, Robust}
    Robust.histQuantiles(
      cellsBatch.groupBy("event_type", "id").agg(sum("cnt").as("cnt"))
        .select(col("event_type").as("group"),
          expr(Events.hdrLbSql("id")).as("v"), col("cnt")),
      Seq(50 -> "p50_est", 90 -> "p90_est", 99 -> "p99_est"))
      .select(col("group").as("event_type"), col("n"),
        col("p50_est"), col("p90_est"), col("p99_est"))
      .orderBy("event_type")
  }

  /** FIRST-SEEN COHORT feed — the streaming half of q288's cohort
    * stage: each arriving (user, day) is emitted exactly once, at the
    * user's FIRST ARRIVAL, carrying the cohort day a retention
    * pipeline keys on; `groupBy(cohort_day).count` over the emitted
    * rows equals batch q288's cohort sizes. Semantics contract:
    * first-ARRIVAL, which equals the batch first-ACTIVE (min day)
    * whenever the feed is event-time-ordered across each user's rows
    * (the scdTierStream in-order class — but here an out-of-order
    * arrival is NOT an error: the stream keeps the earlier-arrived
    * assignment, a documented divergence the spec pins, and the
    * batch rebuild is the repair path, the q264 convention). State:
    * one row per distinct user — the same cardinality the batch
    * cohort table itself materializes, the canonical
    * dropDuplicates-without-watermark tradeoff. */
  def newUsersStream(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), expr("CAST(es div 86400 AS BIGINT)").as("cohort_day"))
      .dropDuplicates("user_id")

  /** Watermarked PER-DAY HLL REGISTER feed — q236's streaming twin
    * (r15 verdict item 6): per-day active-user registers are
    * UNION-mergeable (each cell is a max — the q155 law), so the
    * stream aggregates each day's max leading-zero rank per register
    * cell and emits the day's ≤ [[graft.ops.TextStats.hllRegs]] cells
    * in APPEND mode once the watermark passes the day's end. max over
    * raw events ≡ max over distinct (day, user) pairs (idempotent), so
    * the emitted cells equal batch q236's register table over the
    * on-time rows VERBATIM — the hash geometry is
    * [[graft.ops.Events.hllUserBucket]]/[[graft.ops.Events.hllUserRank]],
    * one definition with the gated batch row. Out-of-order arrivals
    * inside the lateness bound fold into the still-open day's max;
    * beyond-watermark rows drop observably. State: ≤ 16 cells per open
    * day — bounded regardless of traffic, the exact reason the serve
    * path is registers and not a distinct set. */
  def dailyRegistersStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("w"),
        graft.ops.Events.hllUserBucket.as("b"))
      .agg(max(graft.ops.Events.hllUserRank).as("m"))
      .select(expr("CAST(unix_timestamp(w.start) div 86400 AS BIGINT)").as("day"),
        col("b"), col("m"))

  /** Serve the trailing-7-day actives estimate from the emitted
    * register cells — batch q236's report run over the streamed state
    * (the [[driftReportBatch]] pattern: the foreachBatch consumer IS
    * the shared batch tail, so stream and gate cannot drift). */
  def rollingActivesReportBatch(cellsBatch: DataFrame): DataFrame =
    graft.ops.Events.rollingServe(cellsBatch)

  /** Watermarked GAP-SESSION rung (r14 verdict item 5) — the session
    * family's late-data producer. The stateful twins
    * ([[sessionize]]/[[sessionizeWithTimeout]] and q201's
    * `transitionStream`) demand in-order ingest per user; this
    * declarative `session_window` aggregation instead ABSORBS
    * out-of-order arrivals inside the lateness bound — a late event
    * extends, or even MERGES, still-open provisional sessions (the one
    * correction no O(1)-state fold can make) — and emits a session in
    * APPEND mode only once the watermark passes its close, so every
    * emitted row is final. Beyond-watermark rows drop observably
    * (`numRowsDroppedByWatermark`).
    *
    * Gap semantics, exactly: the batch rule ([[graft.ops.Events
    * .withSessionIds]]) keeps `diff <= gap` together and splits on
    * `diff > gap`; Spark's `session_window` merges ADJACENT windows
    * (next.start <= prev.end), so it splits strictly on `diff > gap`
    * too — the same rule, verified empirically and pinned in the spec
    * at both boundary values (diff = 1800 merges, 1801 splits). Output
    * matches batch q51's session grain: (user_id, start_es, end_es,
    * n_events), with end_es the last EVENT time (max es), not the
    * window's close. State: one open window per (user, session) —
    * bounded by active users, evicted at the watermark. */
  def sessionWindowStream(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", timestamp_seconds(col("es")))
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"),
        s"$sessionGapSeconds seconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("es")).as("start_es"), max(col("es")).as("end_es"))
      .select("user_id", "start_es", "end_es", "n_events")

  /** Streaming EWMA rate — q186's stateful twin: (type, day) counts
    * arriving in day order fold through the SAME integer recurrence
    * ([[graft.ops.Events.ewmaNext]]/[[graft.ops.Events.ewmaBurst]] — one
    * definition, zero drift; the batch HOF-fold string is pinned against
    * the same scalars in RobustSpec) with per-type state of exactly two
    * longs (last day folded, current level) — O(1) state per key, the
    * [[packStream]] contract. Like packStream, correctness rides the
    * deterministic-ingest contract: each key's daily rows must arrive
    * complete-per-day and non-decreasing in day across micro-batches
    * (within a batch arrival order is irrelevant — the group sorts by
    * day before folding). A replayed or out-of-order PAST day cannot be
    * folded by any O(1)-state stream (the level already absorbed it),
    * so it fails loudly instead of silently diverging from the gated
    * batch result. */
  def ewmaStream(daily: Dataset[DayCount]): Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[DayCount], state: GroupState[EwmaState]) =>
          val sorted = batch.toSeq.sortBy(_.day)
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0L))
          val out = sorted.map { dc =>
            require(dc.day > st.lastDay,
              s"ewmaStream($key): day ${dc.day} arrived at or before folded " +
                s"day ${st.lastDay} — the daily feed must be complete-per-day " +
                "and in day order; rebuild from batch q186 instead")
            val e =
              if (st.lastDay == Long.MinValue) dc.cnt * graft.ops.Events.ewmaScale
              else graft.ops.Events.ewmaNext(st.ewma, dc.cnt)
            st = EwmaState(dc.day, e)
            EwmaPoint(key, dc.day, dc.cnt, e,
              if (graft.ops.Events.ewmaBurst(dc.cnt, e)) 1L else 0L)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming MANN–KENDALL monitor — q332's stateful twin, and the
    * PAIRWISE member of the "state is the sketch" family: S is a sum
    * over all day PAIRS, which no O(1) scalar state can maintain, but
    * the per-type daily-count VALUE HISTOGRAM can — an arriving day
    * with count c moves S by (#prior days below c − #prior days above
    * c), two scans of the bounded histogram, and the tie term by the
    * one-group delta g(t+1) − g(t) with g(t) = t(t−1)(2t+5). n_pairs
    * is DERIVED (n·(n−1)/2), never accumulated. Each arrival emits the
    * full updated report row — a live trend monitor whose every prefix
    * equals the batch [[graft.ops.Events.mannKendallFromDaily]] on the
    * same rows (the spec pins prefix parity, not just the final row).
    * Ingest contract: same complete-per-day, day-ordered rule as
    * [[ewmaStream]] (a replayed past day is already inside S and the
    * histogram — fails loudly). Negative S divides toward zero in both
    * the batch `div` and Scala `/` — one rule, zero drift. */
  def mannKendallStream(daily: Dataset[DayCount]): Dataset[MkPoint] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MkState, MkPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[DayCount], state: GroupState[MkState]) =>
          val sorted = batch.toSeq.sortBy(_.day)
          var st = state.getOption
            .getOrElse(MkState(Long.MinValue, Map.empty, 0L, 0L, 0L))
          def g(x: Long) = x * (x - 1L) * (2L * x + 5L)
          val out = sorted.map { dc =>
            require(dc.day > st.lastDay,
              s"mannKendallStream($key): day ${dc.day} arrived at or before " +
                s"folded day ${st.lastDay} — the daily feed must be " +
                "complete-per-day and in day order; rebuild from batch q332")
            val below = st.hist.iterator
              .collect { case (v, n) if v < dc.cnt => n }.sum
            val above = st.hist.iterator
              .collect { case (v, n) if v > dc.cnt => n }.sum
            val t = st.hist.getOrElse(dc.cnt, 0L)
            st = MkState(dc.day, st.hist.updated(dc.cnt, t + 1L),
              st.sStat + below - above, st.tie18 + g(t + 1L) - g(t),
              st.nDays + 1L)
            val nd = st.nDays
            val pairs = nd * (nd - 1L) / 2L
            MkPoint(key, dc.day, nd, pairs, st.sStat,
              nd * (nd - 1L) * (2L * nd + 5L) - st.tie18,
              if (pairs > 0L) Some(st.sStat * 10000L / pairs) else None)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming CUSUM monitor — q207's stateful twin in the production
    * split the batch query can't have: the batch computes μ from the
    * WHOLE series (retrospective changepoint analysis), while a stream
    * cannot know future means, so the monitor takes a FROZEN per-type
    * baseline μ — trained offline by the batch pass, exactly the
    * train-offline / monitor-online deployment of a CUSUM chart. State
    * is two longs per type ([[CusumState]]); the step is the shared
    * [[graft.ops.Events.cusumNext]] (one definition with the gated
    * batch recurrence), under the ewmaStream day-ordered ingest
    * contract (enforced loudly). Against the SAME μ the batch used,
    * the emitted points equal batch q207's rows — the parity
    * EventStreamSpec pins. Types absent from the baseline are
    * ignored (an unmonitored type has no chart). */
  def cusumStream(daily: Dataset[DayCount],
      baselineMu: Map[String, Long]): Dataset[CusumPoint] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[DayCount], state: GroupState[CusumState]) =>
          baselineMu.get(key) match {
            case None => Iterator.empty
            case Some(mu) =>
              val sorted = batch.toSeq.sortBy(_.day)
              var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L))
              val out = sorted.map { dc =>
                require(dc.day > st.lastDay,
                  s"cusumStream($key): day ${dc.day} arrived at or before " +
                    s"folded day ${st.lastDay} — the daily feed must be " +
                    "complete-per-day and in day order; rebuild from batch q207")
                val c = graft.ops.Events.cusumNext(st.cusum, dc.cnt, mu)
                st = CusumState(dc.day, c)
                CusumPoint(key, dc.day, dc.cnt, c,
                  if (c > graft.ops.Events.cusumBoundMul * mu) 1L else 0L)
              }
              state.update(st)
              out.iterator
          }
      }
  }

  /** Streaming weighted sampler — q165's stateful twin: documents
    * arriving as (lang, doc_id, w) get their min-of-w-draws key from
    * the SHARED q165 expression ([[graft.ops.Curation.weightedDrawKey]]
    * — one definition, zero drift) and each language's state is its
    * current BOTTOM-K winner list, merged per micro-batch and emitted
    * as a numbered snapshot (a consumer keeps each lang's max-`upd`
    * set). Bottom-k by a deterministic total order is ORDER-INSENSITIVE
    * — min is associative/commutative/idempotent at set grain — so any
    * arrival split converges to the batch sample (the merge-law
    * argument HLL makes for max, applied to bottom-k), and a replayed
    * doc is absorbed by the distinct. State per language is k rows —
    * O(1), the packStream contract; keys partition by lang via the
    * groupByKey shuffle.
    *
    * API CONTRACT (r12 advice): per-doc weights must be NON-DECREASING
    * across arrivals. The min-merge keeps a doc's best historical draw
    * key, which equals the latest key only because [[graft.ops
    * .Curation.weightedDrawKey]] is monotone in w — a LOWERED weight
    * would leave a stale better key in state, and bottom-k state is
    * lossy (a previously discarded doc that the lowering should promote
    * is gone), so no O(k)-state stream can honor weight decreases. The
    * contract is DOCUMENTED, not runtime-enforced, because it cannot
    * be: under at-least-once delivery a redelivered PRE-raise record
    * (doc held at w=3, source replays its old w=2 arrival) is
    * byte-identical to a genuine lowering, and the redelivery is both
    * legal and harmless — the monotone key makes min-merge absorb it
    * exactly (the r13 review killed an earlier throw here for exactly
    * that false positive). A caller that genuinely lowers weights must
    * rebuild the snapshot from the batch q165 instead. */
  def weightedSampleStream(docs: DataFrame,
      k: Int = graft.ops.Curation.sampleK): Dataset[SampleWinner] = {
    import docs.sparkSession.implicits._
    docs.select(col("lang"), col("doc_id"), col("w"),
        graft.ops.Curation.weightedDrawKey(col("doc_id"), col("w")).as("skey"))
      .as[SampleDoc]
      .groupByKey(_.lang)
      .flatMapGroupsWithState[SampleState, SampleWinner](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (lang: String, batch: Iterator[SampleDoc], state: GroupState[SampleState]) =>
          val prev = state.getOption.getOrElse(SampleState(0L, Seq.empty))
          val arrivals = batch.map(d => (d.skey, d.doc_id, d.w)).toSeq
          // collapse per doc_id FIRST: a re-weighted doc (the
          // weightedDrawKey monotone-in-w scenario) must hold ONE slot
          // with its best key, never occupy two ranks — and a stale
          // redelivered pre-raise record loses the minBy and vanishes
          // (see the API-contract scaladoc)
          val merged = (prev.winners ++ arrivals)
            .groupBy(_._2).valuesIterator
            .map(_.minBy(t => (t._1, -t._3))).toSeq
            .sortBy(t => (t._1, t._2)).take(k)
          val upd = prev.upd + 1
          state.update(SampleState(upd, merged))
          merged.zipWithIndex.map { case ((skey, id, w), i) =>
            SampleWinner(lang, upd, i + 1L, id, w, skey)
          }.iterator
      }
  }

  /** Streaming per-source cap — q181's stateful twin: documents
    * arriving as (source, doc_id, score, n_tok) compete for their
    * source's [[graft.ops.Curation.sourceCap]] slots by the SAME
    * (score desc, doc_id asc) total order the gated q181 ranks with,
    * and each source's state is its current best-`cap` list, merged
    * per micro-batch and emitted as a numbered snapshot (a consumer
    * keeps each source's max-`upd` set). Top-k by a deterministic
    * total order is ORDER-INSENSITIVE — the bottom-k merge-law
    * argument of [[weightedSampleStream]] — so any arrival split
    * converges to the batch kept set, and a replayed doc is absorbed
    * by the distinct. Unlike the weighted sampler there is no
    * re-weighting hazard: the q42 score is a pure content function, so
    * a doc's competing key can never change between arrivals. State
    * per source is ≤ cap rows — O(1); keys partition by source via the
    * groupByKey shuffle. */
  def sourceCapStream(docs: DataFrame,
      cap: Int = graft.ops.Curation.sourceCap.toInt): Dataset[CapKeep] = {
    import docs.sparkSession.implicits._
    docs.select(col("source"), col("doc_id"), col("score"), col("n_tok"))
      .as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[CapState, CapKeep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (src: String, batch: Iterator[CapDoc], state: GroupState[CapState]) =>
          val prev = state.getOption.getOrElse(CapState(0L, Seq.empty))
          val merged = (prev.kept ++ batch.map(d => (d.score, d.doc_id, d.n_tok)))
            .distinct
            .sortBy(t => (-t._1, t._2)).take(cap)
          val upd = prev.upd + 1
          state.update(CapState(upd, merged))
          merged.zipWithIndex.map { case ((sc, id, nt), i) =>
            CapKeep(src, upd, i + 1L, id, sc, nt)
          }.iterator
      }
  }

  /** Streaming covariance moments — q182's twin: arriving embedding
    * rows (vec_id, v) explode into the SAME map-side upper-triangle
    * cells ([[graft.ops.Similarity.covCellsOf]] — one definition, zero
    * drift) and the complete-mode aggregation keeps the merged
    * first/second moments live. The state is d²/2 integer cells
    * regardless of corpus size, and the q182 gate's merge law IS the
    * convergence argument: the sums are associative/commutative
    * integer additions, so any micro-batch split equals the batch
    * moments (EventStreamSpec proves equality after every batch). */
  def covCellsStream(vecs: DataFrame): DataFrame =
    graft.ops.Similarity.covMoments(graft.ops.Similarity.covCellsOf(vecs))

  /** Streaming SESSION TRANSITIONS — the stateful twin of batch q201:
    * per user the state is the LAST event folded (three fields, O(1));
    * each arriving event within [[sessionGapSeconds]] of it emits one
    * (from → to) edge increment, a larger gap silently opens a new
    * session (no edge), exactly the batch gap rule. Edges are
    * increments: a reader (or foreachBatch) rolls them up into q201's
    * count matrix, and because counting is additive the rollup after
    * any prefix of batches equals batch q201's counts over the same
    * events — under the DAY-ORDERED INGEST CONTRACT the ewmaStream
    * precedent sets: within a micro-batch arrival order is irrelevant
    * (the group iterator sorts by the batch tie-break (es, event_id)),
    * but an event older than the folded state would need the edge
    * history rewritten, so it fails loudly instead of silently
    * diverging (EventStreamSpec pins both the parity and the
    * failure). */
  def transitionStream(events: Dataset[TransEv]): Dataset[TransEdge] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransEdge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TransEv], state: GroupState[TransState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.es, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[TransEdge]
          sorted.foreach { e =>
            cur.foreach { st =>
              // STRICTLY ahead: a redelivered duplicate of the folded
              // event (same es, same id — at-least-once sources do
              // this) would otherwise pass and emit a spurious
              // self-edge that batch q201 never counts (r13 review)
              require(e.es > st.lastEs ||
                (e.es == st.lastEs && e.event_id > st.lastEventId),
                s"transitionStream: user $uid event ${e.event_id} at ${e.es} " +
                  s"arrived at or behind folded state (${st.lastEs}, ${st.lastEventId}) — " +
                  "the in-order ingest contract is broken and emitted edges " +
                  "would be unrewritable")
              if (e.es - st.lastEs <= sessionGapSeconds)
                out += TransEdge(st.lastType, e.event_type)
            }
            cur = Some(TransState(e.es, e.event_id, e.event_type))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming U-SHAPED ATTRIBUTION — q337's stateful twin, crediting
    * AT CONVERSION TIME instead of in a retrospective pass: per user
    * the state is the open session's pre-conversion touch list (the
    * one state class here that grows within a session — bounded by
    * one session's activity, the sessionWindowStream argument), and
    * the first purchase of a session emits the exact batch credit
    * split over it (40/20/40 with the remainder-to-first-interior
    * rule), after which the session is spent until the gap opens a new
    * one. Same strictly-ahead ingest contract as [[transitionStream]].
    * Credits are additive increments, so the per-channel rollup after
    * any prefix equals batch q337 over the same events —
    * EventStreamSpec pins the parity INCLUDING the gap-split and
    * repeat-purchase cases, which makes the spec the one-definition
    * guard between this fold and the batch CASE expression. */
  def positionCreditStream(events: Dataset[TransEv]): Dataset[CreditOut] = {
    import events.sparkSession.implicits._
    def credits(touches: Seq[String]): Seq[(String, Long)] = {
      val k = touches.length.toLong
      touches.zipWithIndex.map { case (t, i) =>
        val p = i + 1L
        val c =
          if (k == 1L) 10000L
          else if (p == 1L || p == k) { if (k == 2L) 5000L else 4000L }
          else 2000L / (k - 2L) +
            (if (p == 2L) 2000L - (2000L / (k - 2L)) * (k - 2L) else 0L)
        (t, c)
      }
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, CreditOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TransEv], state: GroupState[AttrState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.es, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[CreditOut]
          sorted.foreach { e =>
            val st = cur match {
              case Some(s) =>
                require(e.es > s.lastEs ||
                  (e.es == s.lastEs && e.event_id > s.lastEventId),
                  s"positionCreditStream: user $uid event ${e.event_id} at " +
                    s"${e.es} arrived at or behind folded state (${s.lastEs}, " +
                    s"${s.lastEventId}) — emitted credits would be unrewritable")
                if (e.es - s.lastEs > graft.ops.Events.sessionGapSeconds)
                  AttrState(e.es, e.event_id, Nil, converted = false)
                else s
              case None => AttrState(e.es, e.event_id, Nil, converted = false)
            }
            cur = Some {
              if (e.event_type == "purchase") {
                if (!st.converted)
                  credits(st.touches).foreach { case (t, c) =>
                    out += CreditOut(uid, t, c)
                  }
                AttrState(e.es, e.event_id, st.touches, converted = true)
              } else AttrState(e.es, e.event_id,
                if (st.converted) st.touches else st.touches :+ e.event_type,
                st.converted)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming A/B status — the stateful twin of batch q198's user
    * stage: per user the state is ONE Long (purchases seen so far); any
    * batch touching the user re-emits their (arm, conv) status row,
    * conv flipping exactly when the count crosses the shared
    * [[graft.ops.Events.abConvThreshold]]. Update mode: a dashboard
    * upserts by user_id and rolls up arms into the (n, c) table the
    * batch `wide` stage computes — counting is additive and the
    * threshold is applied to the CUMULATIVE count, so after any prefix
    * of batches the snapshot equals the batch user stage on the same
    * events, in any arrival order (EventStreamSpec pins it). Arm
    * assignment runs as the batch Column expression BEFORE typing —
    * one hash-parity definition, no Scala re-implementation to drift.
    * Non-purchase events still create/emit status (a participant is
    * anyone with ANY event — the batch denominator), costing one Long
    * of state per all-time user like the funnel's NoTimeout variant. */
  def abStatusStream(events: DataFrame): Dataset[AbStatus] = {
    import events.sparkSession.implicits._
    events
      .withColumn("arm", graft.ops.TextCore.idBucket(col("user_id")) % lit(2L))
      .select(col("user_id"), col("arm"), col("event_type"))
      .as[AbEv]
      .groupByKey(e => (e.user_id, e.arm))
      .mapGroupsWithState[Long, AbStatus](GroupStateTimeout.NoTimeout) {
        case ((uid, arm), batch, state) =>
          val np = state.getOption.getOrElse(0L) +
            batch.count(_.event_type == "purchase")
          state.update(np)
          AbStatus(uid, arm,
            if (np >= graft.ops.Events.abConvThreshold) 1L else 0L)
      }
  }

  /** Streaming funnel — the stateful twin of batch q73's ordered
    * conversion funnel: per user, track the FIRST-occurrence timestamp
    * of each stage type and emit the user's current stage after every
    * micro-batch that touches them (`mapGroupsWithState` + Update mode:
    * a dashboard upserts by user_id). Min-chaining semantics identical
    * to batch q73 — a stage counts only if its first occurrence is
    * strictly after the previous stage's first occurrence — and because
    * the state is the three FIRST timestamps (not the running verdict),
    * out-of-order arrivals converge to the batch answer: a late early
    * click lowers t_click and the next emission re-evaluates the chain.
    * State per user is three Options — O(1), the streaming-funnel
    * contract; at scale state partitions by user_id via the groupByKey
    * shuffle. EventStreamSpec proves final-snapshot parity with batch
    * q73's per-user staging on an out-of-order two-batch ingest. */
  def funnelStream(events: Dataset[FunnelEv]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStage](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          val (st, lastEs) =
            foldFunnel(state.getOption.getOrElse(FunnelState(None, None, None)), batch)
          // a batch with no funnel event for this user changes nothing:
          // no state entry for never-participants (state must grow with
          // funnel users, not with every user who ever produced ANY
          // event) and no re-emitted unchanged row for participants
          if (lastEs.isEmpty) Iterator.empty
          else {
            state.update(st)
            Iterator.single(funnelStage(uid, st))
          }
      }
  }

  /** Fold a batch into the first-occurrence timestamps of the three
    * funnel stages; also returns the latest funnel-event time in the
    * batch — None when the batch has no funnel event (non-funnel types
    * pass through untracked). */
  private def foldFunnel(start: FunnelState,
      batch: Iterator[FunnelEv]): (FunnelState, Option[Long]) =
    batch.foldLeft((start, Option.empty[Long])) { case ((st, last), e) =>
      def first(cur: Option[Long]) = Some(cur.fold(e.es)(math.min(_, e.es)))
      val next = e.event_type match {
        case "view"     => Some(st.copy(tView = first(st.tView)))
        case "click"    => Some(st.copy(tClick = first(st.tClick)))
        case "purchase" => Some(st.copy(tPurchase = first(st.tPurchase)))
        case _          => None
      }
      next.fold((st, last))(n => (n, Some(last.fold(e.es)(math.max(_, e.es)))))
    }

  /** The stage verdict, min-chained as in batch q73: a stage counts only
    * if its first occurrence is strictly after the previous stage's. */
  private def funnelStage(uid: Long, st: FunnelState): FunnelStage = {
    val s1 = st.tView.isDefined
    val s2 = s1 && st.tClick.exists(_ > st.tView.get)
    val s3 = s2 && st.tPurchase.exists(_ > st.tClick.get)
    FunnelStage(uid, if (s3) 3L else if (s2) 2L else if (s1) 1L else 0L)
  }

  /** [[funnelStream]] with BOUNDED state — the attribution-window form a
    * production funnel needs on an infinite stream (the NoTimeout
    * variant's per-user state lives forever, so state grows with the
    * all-time user count): each user's state sets an event-time timeout
    * at (last activity + attributionSeconds); when the watermark passes
    * it, the user's FINAL stage is emitted once and the state removed —
    * conversions later than the attribution window correctly don't
    * count, the funnel-analytics contract. Append mode: one verdict row
    * per expired user. The caller sets the watermark on `ts` before the
    * groupByKey (the [[sessionizeWithTimeout]] convention). */
  def funnelStreamWithTimeout(events: Dataset[FunnelEv],
      attributionSeconds: Long): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelTimedState, FunnelStage](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[FunnelEv], state: GroupState[FunnelTimedState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(funnelStage(uid, FunnelState(st.tView, st.tClick, st.tPurchase)))
          } else {
            val prev = state.getOption.getOrElse(FunnelTimedState(None, None, None, 0L))
            // only funnel events are tracked — and only they run the
            // attribution clock (a non-funnel event neither creates
            // state nor extends the window)
            val (st, lastEs) =
              foldFunnel(FunnelState(prev.tView, prev.tClick, prev.tPurchase), batch)
            // an untouched user's state and TIMEOUT stay as they are —
            // re-issuing setTimeoutTimestamp from a stale lastEs would
            // throw once the watermark has passed it (a non-funnel event
            // arriving in the very batch the timeout should fire would
            // otherwise kill the whole query), and funnel events are
            // never late under EventTimeTimeout so a touched user's
            // (lastEs + attribution) is always above the watermark
            lastEs.foreach { es =>
              val last = math.max(prev.lastEs, es)
              state.update(FunnelTimedState(st.tView, st.tClick, st.tPurchase, last))
              state.setTimeoutTimestamp((last + attributionSeconds) * 1000L)
            }
            Iterator.empty
          }
      }
  }

  /** Gap-based sessionization closing sessions by event-time timeout:
    * each user's open session sets a timeout at (last event + gap); when
    * the watermark passes it, the session is emitted and the state
    * cleared — so quiet users' sessions close without waiting for their
    * next event. The watermarked `ts` column must exist on `events`
    * before the groupByKey (set by the caller via `withWatermark`). */
  def sessionizeWithTimeout(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(toSession(uid, st))
          } else {
            val (cur, closed) = foldSessions(uid, state.getOption, batch)
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp((st.end_es + sessionGapSeconds) * 1000L)
            }
            closed.iterator
          }
      }
  }

  /** Fold a batch, in (es, event_id) order, into the user's open
    * session: returns the session still open afterwards and the ones a
    * gap above [[sessionGapSeconds]] closed. */
  private def foldSessions(uid: Long, open: Option[SessionState],
      batch: Iterator[Ev]): (Option[SessionState], Seq[Session]) = {
    val closed = Seq.newBuilder[Session]
    val cur = batch.toSeq.sortBy(e => (e.es, e.event_id)).foldLeft(open) {
      case (Some(st), e) if e.es - st.end_es <= sessionGapSeconds =>
        Some(SessionState(st.start_es, math.max(st.end_es, e.es), st.n_events + 1))
      case (prev, e) =>
        prev.foreach(st => closed += toSession(uid, st))
        Some(SessionState(e.es, e.es, 1))
    }
    (cur, closed.result())
  }

  private def toSession(uid: Long, st: SessionState): Session =
    Session(uid, st.start_es, st.end_es, st.n_events)

  /** Gap-based sessionization with one open-session state per user.
    * Emits a [[Session]] whenever a new event closes the previous one;
    * the final open session stays in state (the timeout-free variant —
    * see [[sessionizeWithTimeout]] for the watermark-closed form). */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[SessionState]) =>
          val (cur, closed) = foldSessions(uid, state.getOption, batch)
          cur.foreach(state.update)
          closed.iterator
      }
  }
}
