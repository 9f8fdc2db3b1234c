package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ingest.Ingest
import graft.model.Memo
import graft.ops.Windows

/** Structured-Streaming forms of the reference's jobs. The group-window
  * jobs reuse the *same* pure plan functions as batch ([[Windows]]) —
  * one logical-plan layer, two run modes (SURVEY.md §7.1). Only the
  * per-row OVER aggregation needs dedicated streaming code, because
  * Structured Streaming has no OVER: [[slidingCountStreaming]]
  * implements it with `flatMapGroupsWithState`.
  */
object StreamingJobs {

  /** Bucket granularity shared by the date_trunc-bucketed stateful
    * operators (funnel, Top-N, window median): the truncation unit and
    * the finalization-timeout width MUST move together — deriving the
    * millis from the unit here keeps a future granularity change from
    * silently breaking timeout timing at three call sites. */
  private[streaming] val BucketUnit: String = "hour"
  private[streaming] val BucketMillis: Long = BucketUnit match {
    case "hour"   => 3600000L
    case "minute" => 60000L
    case "day"    => 86400000L
    case u        => throw new IllegalArgumentException(s"unsupported bucket unit: $u")
  }
  private def bucketOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_trunc(BucketUnit, c)

  /** Flagship streaming job (reference StreamJobSqlTumbling): watermark
    * + tumbling count, append-safe once the watermark passes window end.
    *
    * The `observe` metric is the Spark-native form of the reference's
    * per-row result logging (P6 — `log.warn("resultSet output: …")`,
    * reference StreamJobSqlTumbling.java:168): emitted row counts and
    * count sums surface per micro-batch via QueryProgress /
    * QueryExecutionListener instead of log lines in the hot path.
    */
  def tumblingCounts(events: DataFrame, tsCol: String, keyCol: String, size: String): DataFrame =
    Windows.tumblingCount(Ingest.withEventTime(events, tsCol), col(tsCol), col(keyCol), size)
      .observe("graft_sink", count(lit(1)).as("rows_emitted"), sum(col("cnt")).as("events_covered"))

  /** Hopping variant (reference StreamJobSqlHopping). */
  def hoppingCounts(events: DataFrame, tsCol: String, keyCol: String, size: String, slide: String): DataFrame =
    Windows.hoppingCount(Ingest.withEventTime(events, tsCol), col(tsCol), col(keyCol), size, slide)

  /** Streaming CUMULATE windows. The batch slice-optimized form
    * ([[graft.ops.Windows.cumulateCount]]) ends in a second aggregation
    * over derived (start, end) columns — not a time-window group, so
    * the streaming planner can neither watermark-finalize nor evict it.
    * Instead: CUMULATE(step, max) ≡ ⋃ₖ TUMBLE(max) over the events
    * whose in-bucket offset is < k·step — each branch is an ordinary
    * watermark-evicted tumbling aggregation (append-safe), labeled with
    * its expanding window end. State per key is K = max/step window
    * groups, the same factor a hop with slide = step pays.
    */
  def cumulateCounts(events: DataFrame, tsCol: String, keyCol: String,
      stepSec: Int, maxSizeSec: Int): DataFrame = {
    require(maxSizeSec % stepSec == 0, "maxSize must be a whole multiple of step")
    val e = Ingest.withEventTime(events, tsCol)
    val maxMs = maxSizeSec * 1000L
    (1 to maxSizeSec / stepSec).map { k =>
      val lim = k * stepSec * 1000L
      e.filter(expr(s"unix_millis($tsCol) - (unix_millis($tsCol) div $maxMs) * $maxMs") < lim)
        .groupBy(window(col(tsCol), s"$maxSizeSec seconds"), col(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("key"), col("cnt"),
          col("window.start").as("window_start"),
          timestamp_millis(unix_millis(col("window.start")) + lit(lim)).as("window_end"))
    }.reduce(_ unionByName _)
  }

  /** Session-window variant. Spark's `session_window` is natively
    * streamable: partial sessions merge inside the same stateful
    * aggregation operator that holds the counts, so this reuses the
    * SAME pure plan function as batch ([[graft.ops.Windows.sessionCount]])
    * — no dedicated streaming code. A session finalizes (append mode)
    * once the watermark passes its end (max ts + gap); state per key is
    * only the OPEN sessions, evicted on emission.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String, gap: String): DataFrame =
    Windows.sessionCount(Ingest.withEventTime(events, tsCol), col(tsCol), col(keyCol), gap)

  /** Streaming per-session event-type paths — the same pure plan as
    * the batch path frame ([[graft.ops.Windows.sessionPaths]]) under a
    * watermark: the session_window aggregate buffers each OPEN
    * session's (ts, event_id, type) rows as state and emits the
    * finalized ordered path once the watermark passes session end
    * (append mode). State per key = open sessions only — eviction on
    * emission bounds it exactly like the session-count job; the
    * downstream top-paths count is an ordinary keyed aggregation over
    * this append stream. Requires `event_id` / `event_type` columns
    * (the events schema). */
  def sessionPathsStreaming(events: DataFrame, tsCol: String, keyCol: String,
      gap: String): DataFrame =
    Windows.sessionPaths(Ingest.withEventTime(events, tsCol), col(tsCol), col(keyCol), gap)

  /** Streaming exact dedup for a document feed: keep the first
    * occurrence of each content digest, drop later copies. State is
    * BOUNDED by the watermark: `dropDuplicatesWithinWatermark` evicts
    * digests once the event-time watermark passes their retention
    * window, so the operator runs forever on an unbounded corpus feed —
    * the streaming form of `dedup_exact` (duplicates separated by more
    * than `retention` are treated as distinct, which is the standard
    * windowed-dedup contract).
    */
  def exactDedupStreaming(docs: DataFrame, textCol: String, tsCol: String,
      retention: String = "1 hour"): DataFrame =
    docs.withColumn("digest", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, retention)
      .dropDuplicatesWithinWatermark("digest")

  /** One banded LSH row for the streaming near-dup operator; `ts` is
    * the document's event time (drives the retention watermark). */
  case class BucketDoc(doc_id: Long, band: Int, bucket: Long, ts: Timestamp)

  /** One near-duplicate candidate pair (doc_a < doc_b). */
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming MinHash-LSH near-duplicate candidate detection: as
    * documents arrive, each is checked against every document already
    * seen in any of its 16 signature-band buckets, and new candidate
    * pairs are emitted immediately — the online form of the batch
    * bucket self-join (DedupQueries.lshCandidates), for flagging
    * near-dups during ingestion instead of in a nightly batch.
    *
    * Input is the banded projection (DedupQueries.bandedDocs — the
    * same pure column expressions as batch, so signatures agree).
    * State is per (band, bucket) — the stream's groupBy shuffle
    * partitions it exactly like the batch join's (band, bucket)
    * shuffle, so hot buckets spread across executors and per-group
    * state stays proportional to bucket occupancy. A pair colliding in
    * several bands is emitted once per band (groups are independent);
    * downstream exact verification deduplicates, same as the batch
    * path's `.distinct()`.
    *
    * State is BOUNDED, mirroring [[exactDedupStreaming]]'s contract: a
    * bucket's membership set evicts once the event-time watermark
    * passes its newest member by `retention` — on an unbounded feed,
    * state is proportional to retention-window occupancy, not corpus
    * history. Documents separated by more than `retention` are treated
    * as non-candidates (the standard windowed-dedup contract).
    * Membership is a `Set`, so the per-document check is O(1), not a
    * linear scan of a hot bucket.
    *
    * Hot buckets are ANCHOR-capped, mirroring the batch guard
    * ([[graft.queries.DedupQueries.LshBucketCap]]): state keeps only
    * the `cap` smallest doc_ids seen in the bucket, and each arrival
    * pairs against that anchor set — per-bucket state is O(cap) and
    * emission is O(cap) per arrival instead of O(occupancy), so a
    * boilerplate template flooding one bucket cannot grow state or
    * emit Θ(m²) pairs. Below the cap (every bucket at test scale) the
    * behavior is byte-identical to the uncapped form. Above it, a
    * re-delivered non-anchor document may re-emit its anchor pairs
    * (anchor membership is what dedupes re-deliveries) — an
    * at-least-once artifact the downstream exact verification already
    * absorbs, same as the per-band duplicate emission.
    */
  def lshCandidatesStreaming(
      banded: Dataset[BucketDoc], retention: String = "1 hour",
      cap: Int = graft.queries.DedupQueries.LshBucketCap): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    val retentionMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(retention))
      require(iv.months == 0, s"retention must be day-time, got: $retention")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    banded
      .withWatermark("ts", retention)
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[BucketDoc], state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed newest member + retention
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Set.empty[Long])
            var maxTsMs = Long.MinValue
            val out = List.newBuilder[CandPair]
            rows.foreach { r =>
              val t = r.ts.getTime
              if (t > maxTsMs) maxTsMs = t
              if (!seen.contains(r.doc_id)) {
                seen.foreach(d =>
                  out += CandPair(math.min(d, r.doc_id), math.max(d, r.doc_id)))
                seen += r.doc_id
                // anchor cap: keep only the cap smallest ids — bounded
                // state AND bounded fan-out on a hot bucket
                if (seen.size > cap) seen -= seen.max
              }
            }
            state.update(seen)
            // rows older than the watermark never reach the operator,
            // so maxTs ≥ watermark and this timeout is always valid
            state.setTimeoutTimestamp(maxTsMs + retentionMs)
            out.result().iterator
          }
      }
  }

  /** One signed document for the streaming SimHash operator: the full
    * signature rides along so verification happens in-state. */
  case class SimhashDoc(doc_id: Long, sh: Long, ts: Timestamp)

  /** Streaming SimHash near-dup detection (ham ≤ 3) — the online form
    * of the batch block-banded plan (DedupQueries.simhashPairs): each
    * arriving document's signature is exploded into its 5 pigeonhole
    * blocks; per (block, bits) bucket the state holds the member
    * (doc_id, signature) set, and the arrival is xor+popcount-verified
    * against the members — ham ≤ 3 over 5 blocks guarantees ≥ 2
    * shared blocks, so single-block state grouping is recall-complete
    * within the retention window and the anchor cap (see the state
    * paragraph below for the cap's recall bound). (Batch
    * bands on block PAIRS to shrink its self-join; streaming keeps
    * single blocks because state is per-bucket and 10 combo buckets
    * would hold each doc 10 times for no recall gain.)
    * A pair sharing several blocks is emitted once per block;
    * consumers dedup, same as the per-band LSH contract.
    *
    * Signature-width agnostic: pass [[graft.functions.TextFunctions
    * .simhash31]] signatures with the default 7+6+6+6+6 layout, or
    * [[graft.functions.TextFunctions.simhash62]] with 13+13+12+12+12 —
    * the block arithmetic derives from `widths` exactly as in batch.
    *
    * State carries the same eviction as [[lshCandidatesStreaming]]
    * (watermark passes the bucket's newest member by `retention`), and
    * the anchor cap keeps only the `cap` smallest doc_ids — O(cap)
    * state and O(cap) verifications per arrival. The cap is a RECALL
    * bound, not just a state bound: a true pair whose every shared
    * block sits in a bucket already holding `cap` smaller ids is
    * silently lost (both partners must co-reside in at least one
    * bucket's anchor set — StreamingDedupSpec plants exactly this case
    * above a forced low cap). Dense single-block buckets are the
    * family's hot spot — measured occupancy of the hottest block
    * bucket is 2 046 / 4 750 / 13 304 distinct signatures at
    * sf0.1 / sf1 / sf10 (the `dedup_cap_binding` census) — so the
    * default rides [[graft.queries.DedupQueries.SimhashAnchorCap]]
    * (16 384, slack through sf10), NOT the sparse-LSH
    * [[graft.queries.DedupQueries.LshBucketCap]] (1 024), which every
    * scale ≥ sf0.1 would saturate. Within the census-audited range the
    * operator's recall therefore equals the batch operator's; above it
    * (unmeasured corpora), re-read the census before trusting either. */
  def simhashCandidatesStreaming(
      sigs: Dataset[SimhashDoc], retention: String = "1 hour",
      widths: Seq[Int] = graft.queries.DedupQueries.Simhash31Blocks,
      cap: Int = graft.queries.DedupQueries.SimhashAnchorCap): Dataset[CandPair] = {
    import sigs.sparkSession.implicits._
    val offs = widths.scanLeft(0)(_ + _).init
    val retentionMs = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(retention))
      require(iv.months == 0, s"retention must be day-time, got: $retention")
      iv.days * 86400000L + iv.microseconds / 1000L
    }
    val masks = widths.map(w => (1L << w) - 1)
    sigs
      .flatMap(d => widths.indices.map(i =>
        (d.doc_id, d.sh, i, (d.sh >>> offs(i)) & masks(i), d.ts)))
      .toDF("doc_id", "sh", "blk", "bits", "ts")
      .as[(Long, Long, Int, Long, Timestamp)]
      .withWatermark("ts", retention)
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Long, Int, Long, Timestamp)],
         state: GroupState[Set[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Set.empty[(Long, Long)])
            var maxTsMs = Long.MinValue
            val out = List.newBuilder[CandPair]
            rows.foreach { case (id, sh, _, _, ts) =>
              val t = ts.getTime
              if (t > maxTsMs) maxTsMs = t
              if (!seen.exists(_._1 == id)) {
                seen.foreach { case (d, s) =>
                  if (java.lang.Long.bitCount(s ^ sh) <= 3)
                    out += CandPair(math.min(d, id), math.max(d, id))
                }
                seen += ((id, sh))
                if (seen.size > cap) seen -= seen.maxBy(_._1)
              }
            }
            state.update(seen)
            state.setTimeoutTimestamp(maxTsMs + retentionMs)
            out.result().iterator
          }
      }
  }

  /** Streaming decontamination — the ingest-time form of
    * `pipeline_decontaminate_lsh`: every arriving document is screened
    * against a STATIC held-out corpus (eval suites, a licensed set)
    * and flagged the moment it lands, instead of in a nightly batch.
    *
    * The static side is indexed ONCE — banded (band, bucket) rows plus
    * the shingle set, persisted so micro-batches reuse the index
    * rather than re-shingling the eval corpus per trigger. The stream
    * side runs the SAME pure banding projection as batch
    * (DedupQueries.bandedFromShingles — signatures agree by
    * construction), with the event time and shingle set riding the
    * projection as passthrough columns, so candidate generation is a
    * stateless stream-static equi-join on (band, bucket) — no
    * stream-stream state at all. Verification is the exact
    * sorted-merge Jaccard at τ = 0.8 (shared jaccardFromCounts
    * kernel), so stream and batch verdicts are identical.
    *
    * The only stateful operator is the final per-(train, eval)
    * distinct — a document colliding with the same eval doc in
    * several bands must flag once, mirroring the batch `.distinct()`.
    * Its state is BOUNDED by the watermark: a pair's key evicts once
    * the event-time watermark passes its arrival by `retention`
    * (the windowed-dedup contract every stateful job here follows).
    *
    * Output (append): (train_id, eval_id, jac, ts) per contaminated
    * arrival. At 100 TB/day the eval index is small relative to the
    * feed and broadcasts; a corpus-sized static side degrades to a
    * shuffled equi-join on (band, bucket) — the same economics as
    * the batch operator, still never train × eval.
    */
  def decontaminateStreaming(
      streamDocs: DataFrame, evalDocs: DataFrame,
      retention: String = "1 hour"): DataFrame =
    screenAgainstStaticIndex(streamDocs, evalDocs, retention,
      streamIdCol = "train_id", staticIdCol = "eval_id")

  /** Streaming content-defined-chunk ingest — the online form of
    * `dedup_cdc_storage`'s economics: each arriving document is
    * chunked at its content-defined boundaries (a PURE map — the same
    * [[graft.queries.PipelineQueries.cdcChunks]] frame function runs
    * unchanged on the stream, no state, no watermark needed for the
    * chunking itself) and each chunk is marked `is_new` by probing the
    * persisted distinct chunk-hash index of the already-stored corpus.
    * Only is_new chunks cost storage/transfer — the incremental-backup
    * / incremental-crawl contract, shift-robust by the CDC boundary
    * rule. The probe is a stream-static left join on chunk_hash:
    * shuffle moves the ARRIVALS, never the corpus index (broadcast
    * when small, hash-partitioned when not — at 100 TB the index is
    * bucketed by chunk_hash and the join co-locates).
    *
    * Within-batch repeats of a chunk all report the corpus verdict
    * (exactly the batch semantics of re-chunking the same frame);
    * cross-batch novelty tracking would need the sink to feed stored
    * chunks back into the corpus — the compose-at-the-sink design
    * every incremental operator here follows. Output (append): one row
    * per arriving chunk (doc_id, ts, chunk_idx, n_tokens, chunk_hash,
    * is_new). StreamingDedupSpec pins streamed == batch on identical
    * rows. */
  def cdcIngestStreaming(streamDocs: DataFrame, corpusDocs: DataFrame): DataFrame = {
    import graft.queries.PipelineQueries
    // distinct chunk-hash index, memoized per corpus frame: the corpus
    // is chunked and distinct-ed ONCE, then every micro-batch probes it
    val idx = Memo(corpusDocs.sparkSession, "streaming", "cdcIdx", corpusDocs)(
      PipelineQueries.cdcChunks(corpusDocs)
        .select(col("chunk_hash")).distinct()
        .withColumn("_stored", lit(1L))
        .persist())
    PipelineQueries.cdcChunks(streamDocs, passthrough = Seq("ts"))
      .join(idx, Seq("chunk_hash"), "left")
      .select(col("doc_id"), col("ts"), col("chunk_idx"), col("n_tokens"),
        col("chunk_hash"), col("_stored").isNull.as("is_new"))
  }

  /** Streaming incremental near-dup ingest — the online form of
    * `dedup_incremental`'s new×corpus screen: each arriving (crawl)
    * document probes the persisted (band, bucket) index of the
    * already-ingested corpus and is flagged the moment it near-matches
    * prior content (the drop-the-new-copy policy reads directly off
    * the directed output). Identical economics to the batch operator:
    * the corpus's banding cost was paid once at its own ingest, and
    * the join shuffles the ARRIVALS, never the corpus. Within-feed
    * peer pairs are [[lshCandidatesStreaming]]'s job — compose both
    * on the same feed for the full incremental contract (the split
    * mirrors the batch operator's corpus-probe ∪ batch-peer union).
    * Output (append): (new_id, matched_id, jac, ts). */
  def incrementalDedupStreaming(
      streamDocs: DataFrame, corpusDocs: DataFrame,
      retention: String = "1 hour"): DataFrame =
    screenAgainstStaticIndex(streamDocs, corpusDocs, retention,
      streamIdCol = "new_id", staticIdCol = "matched_id")

  /** Streaming prefix-truncation screen — the ingest-time form of
    * `dedup_prefix_truncation`: each arriving document is checked
    * against the PERSISTED 32-char-block index of the stored corpus
    * and reports, per arrival, the corpus docs it truncates
    * (`extends` peers) and the corpus docs that truncate IT
    * (`prefix_of` peers). Candidate generation is a stateless
    * stream-static equi-join on the 32-char block key (bkey) — any
    * truncation pair with the short side ≥ 32 chars shares it by
    * construction, the batch operator's floor — and verification is
    * the same startswith + strict length order, so there is no stream
    * state at all (duplicates cannot arise: one corpus peer joins an
    * arrival through exactly one bkey). The corpus side carries the
    * [[graft.queries.DedupQueries.LshBucketCap]] anchor rail exactly
    * like the batch operator, so a boilerplate 32-char opening caps
    * the per-arrival fan-out at `cap` peers per direction. Shuffle
    * moves the ARRIVALS, never the corpus. Output (append): one row
    * per (arrival, corpus peer) truncation relation —
    * (doc_id, ts, relation, peer_id, short_chars, long_chars).
    * StreamingDedupSpec pins that replaying the corpus reproduces the
    * batch pair set. */
  def prefixTruncationStreaming(streamDocs: DataFrame, corpusDocs: DataFrame): DataFrame = {
    import graft.queries.DedupQueries
    // frozen 32-char-block, anchor-capped member index, memoized per
    // corpus frame
    val idx = Memo(corpusDocs.sparkSession, "streaming", "prefixIdx", corpusDocs)(corpusDocs
      .filter(col("n_chars") >= 32)
      .select(col("doc_id").as("peer_id"), col("text").as("peer_text"),
        col("n_chars").cast("long").as("peer_chars"),
        substring(col("text"), 1, 32).as("bkey"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("bkey").orderBy(col("peer_chars"), col("peer_id"))))
      .filter(col("rk") <= DedupQueries.LshBucketCap)
      .drop("rk")
      .persist())
    streamDocs
      .filter(col("n_chars") >= 32)
      .select(col("doc_id"), col("ts"), col("text"),
        col("n_chars").cast("long").as("n_chars"),
        substring(col("text"), 1, 32).as("bkey"))
      .join(idx, Seq("bkey"))
      .withColumn("relation",
        when(col("n_chars") < col("peer_chars") &&
            col("peer_text").startsWith(col("text")), lit("prefix_of"))
          .when(col("peer_chars") < col("n_chars") &&
            col("text").startsWith(col("peer_text")), lit("extends")))
      .filter(col("relation").isNotNull)
      .select(col("doc_id"), col("ts"), col("relation"), col("peer_id"),
        least(col("n_chars"), col("peer_chars")).as("short_chars"),
        greatest(col("n_chars"), col("peer_chars")).as("long_chars"))
  }

  /** Streaming exact-substring screen — the ingest-time form of
    * `dedup_exact_substring` (the ExactSubstr shape): each arriving
    * document reports the MAXIMAL token spans (≥ L = 8 tokens) it
    * shares verbatim with the stored corpus — the spans an
    * incremental crawl cuts before writing, instead of re-running the
    * batch pass. The corpus is indexed ONCE as its distinct L-gram
    * hash set; candidate offsets are a stateless stream-static
    * LEFT SEMI equi-join of the arrival's exploded (offset, gram
    * hash) rows against that index — shuffle moves arrivals, never
    * the corpus, and there is no pair join (same linearity as the
    * batch operator). Surviving offsets merge into maximal islands
    * per arrival: a watermark-bounded (doc_id, ts) aggregation
    * collects the sorted offset list (arrival-sized), and a pure fold
    * emits the spans. Within-feed / within-arrival repeats are the
    * batch operator's job — the same corpus-probe ∪ batch-peer split
    * every incremental screen here follows. Output (append):
    * (doc_id, ts, span_start, span_end, span_tokens); rows emit once
    * the watermark closes the arrival's event time.
    * StreamingDedupSpec pins spans == a per-arrival reference
    * computed from the corpus gram set, the exact-copy full-span
    * case, and the fully-novel empty case. */
  def exactSubstrStreaming(streamDocs: DataFrame, corpusDocs: DataFrame,
      retention: String = "1 hour"): DataFrame = {
    import graft.functions.TextFunctions.tokens
    import graft.queries.DedupQueries
    val spark = streamDocs.sparkSession
    import spark.implicits._
    val L = DedupQueries.ExactSubstrL
    def occOf(d: DataFrame, extra: Seq[String]): DataFrame = d
      .select((Seq(col("doc_id"), tokens(col("text")).as("toks")) ++ extra.map(col)): _*)
      .filter(size(col("toks")) >= L)
      .select((Seq(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - lit(L - 1))).as("o")) ++
        extra.map(col)): _*)
      .select((Seq(col("doc_id"), col("o").cast("long").as("o"),
        md5(concat_ws(" ", slice(col("toks"), col("o"), lit(L)))).as("gh")) ++
        extra.map(col)): _*)
    // distinct corpus L-gram-hash index, memoized per corpus frame
    val idx = Memo(corpusDocs.sparkSession, "streaming", "exsubIdx", corpusDocs)(
      occOf(corpusDocs, Nil).select(col("gh")).distinct().persist())
    // watermark BEFORE the semi-join: every arrival advances event
    // time even when none of its grams hit the corpus, so an all-novel
    // feed still flushes earlier arrivals' pending aggregations
    occOf(streamDocs, Seq("ts"))
      .withWatermark("ts", retention)
      .join(idx, Seq("gh"), "left_semi")
      .groupBy(col("doc_id"), col("ts"))
      .agg(sort_array(collect_list(col("o"))).as("os"))
      .as[(Long, Timestamp, Seq[Long])]
      .flatMap { case (id, t, os) =>
        os.foldLeft(List.empty[(Long, Long)]) { (acc, o) =>
          acc match {
            case (s, e) :: tail if o <= e => (s, math.max(e, o + L)) :: tail
            case _                        => (o, o + L) :: acc
          }
        }.reverse.map { case (s, e) => (id, t, s, e, e - s) }
      }
      .toDF("doc_id", "ts", "span_start", "span_end", "span_tokens")
  }

  /** Streaming sorted-neighborhood screen — the ingest-time form of
    * `dedup_sorted_neighborhood`: each arriving document is compared
    * against its rank neighborhood (±(w−1)) in the FROZEN corpus's
    * per-(pass, skey) sort order, then exact-Jaccard-verified at
    * τ = 0.8 — the serving-time record-linkage lookup (new record vs
    * master file) the SNM literature pairs with the batch pass.
    *
    * Finding the neighborhood WITHOUT per-arrival aggregation is the
    * trick: the corpus index stores each member's rank `rn` (by
    * (n_chars, doc_id) within its block) plus an INSERTION-INTERVAL
    * frame — member i's interval is [key_i, key_{i+1}) with a rank-0
    * sentinel below each block's first member — so an arrival's floor
    * rank is ONE stream-static join (each arrival lands in exactly one
    * interval per pass), and its neighborhood is a second stream-static
    * equi-join on (pass, skey) banded to rn ∈ [r−(w−1), r+(w−1)].
    * A replayed corpus member's floor rank is its own rank, so the
    * emitted neighborhood is EXACTLY the batch window — the parity
    * StreamingDedupSpec pins. Both joins are stateless; the only state
    * is the final per-(arrival, peer) distinct (a pair can surface
    * through both passes, mirroring the batch `.distinct()`), bounded
    * by the watermark like every screen here. Shuffle moves arrivals,
    * never the corpus. Output (append):
    * (doc_id, peer_id, jac, ts) per verified near-match. */
  def snmStreaming(streamDocs: DataFrame, corpusDocs: DataFrame,
      retention: String = "1 hour"): DataFrame = {
    import graft.functions.KernelExpressions
    import graft.functions.TextFunctions.tokens
    import graft.queries.DedupQueries
    val w = DedupQueries.SnmWindow
    val wBlock = org.apache.spark.sql.expressions.Window
      .partitionBy("pass", "skey").orderBy(col("n_chars"), col("doc_id"))
    def keyedOf(d: DataFrame, extra: Seq[String]): DataFrame = {
      val t = d.select((Seq(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        tokens(col("text")).as("toks")) ++ extra.map(col)): _*)
      Seq("head" -> concat_ws(" ", slice(col("toks"), 1, 2)),
          "tail" -> concat_ws(" ", slice(reverse(col("toks")), 1, 2)))
        .map { case (name, k) =>
          t.select((Seq(lit(name).as("pass"), k.as("skey"), col("doc_id"),
            col("n_chars")) ++ extra.map(col)): _*)
        }.reduce(_ unionByName _)
    }
    // frozen SNM corpus index, memoized per corpus frame: the ranked
    // (pass, skey) member frame plus its insertion-interval index
    val (members, intervals) = Memo(corpusDocs.sparkSession, "streaming", "snmIdx", corpusDocs) {
      val m = keyedOf(corpusDocs, Nil)
        .withColumn("rn", row_number().over(wBlock).cast("long"))
        .select(col("pass"), col("skey"), col("doc_id").as("peer_id"),
          col("n_chars").as("peer_chars"), col("rn"))
        .persist()
      val iv = m.select(col("pass"), col("skey"), col("rn"),
        col("peer_chars").as("lo_n"), col("peer_id").as("lo_id"),
        lead(col("peer_chars"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("pass", "skey").orderBy(col("peer_chars"), col("peer_id"))).as("hi_n"),
        lead(col("peer_id"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("pass", "skey").orderBy(col("peer_chars"), col("peer_id"))).as("hi_id"))
      val sentinel = m.filter(col("rn") === 1L).select(col("pass"), col("skey"),
        lit(0L).as("rn"), lit(null).cast("long").as("lo_n"),
        lit(null).cast("long").as("lo_id"),
        col("peer_chars").as("hi_n"), col("peer_id").as("hi_id"))
      (m, iv.unionByName(sentinel).persist())
    }
    val corpusSh = staticShingles(corpusDocs)
    val arrivals = keyedOf(streamDocs, Seq("ts", "text"))
      .withColumn("ga", KernelExpressions.sortedNgramSet(tokens(col("text")), 3))
      .drop("text")
    // floor rank: exactly one interval per (arrival, pass) — the
    // arrival's key is ≥ the member's and < the next member's
    val geLo = col("lo_n").isNull ||
      col("n_chars") > col("lo_n") ||
      (col("n_chars") === col("lo_n") && col("doc_id") >= col("lo_id"))
    val ltHi = col("hi_n").isNull ||
      col("n_chars") < col("hi_n") ||
      (col("n_chars") === col("hi_n") && col("doc_id") < col("hi_id"))
    val located = arrivals.join(intervals, Seq("pass", "skey"))
      .filter(geLo && ltHi)
      .select(col("pass"), col("skey"), col("doc_id"), col("ts"), col("ga"),
        col("rn").as("r"))
    val candidates = located.join(members, Seq("pass", "skey"))
      .filter(col("rn") >= col("r") - lit(w - 1).cast("long") &&
        col("rn") <= col("r") + lit(w - 1).cast("long") &&
        col("peer_id") =!= col("doc_id"))
      .select(col("doc_id"), col("ts"), col("ga"), col("peer_id"))
    DedupQueries.jaccardFromCounts(
        candidates.join(corpusSh.select(col("doc_id").as("peer_id"),
          col("g").as("gb")), Seq("peer_id")))
      .filter(col("jac") >= 0.8)
      .select(col("doc_id"), col("peer_id"), col("jac"), col("ts"))
      .withWatermark("ts", retention)
      .dropDuplicatesWithinWatermark("doc_id", "peer_id")
  }

  /** Shingled static side (doc_id, sorted 3-gram set g), memoized per
    * corpus frame: two screens against the same static corpus — or a
    * restarted query — reuse ONE persisted frame instead of pinning a
    * duplicate per call and evicting the caches other query families
    * rely on. */
  private def staticShingles(staticDocs: DataFrame): DataFrame = {
    import graft.functions.KernelExpressions
    import graft.functions.TextFunctions.tokens
    Memo(staticDocs.sparkSession, "streaming", "staticSh", staticDocs)(staticDocs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), KernelExpressions.sortedNgramSet(col("toks"), 3).as("g"))
      .persist())
  }

  /** Shared core of [[decontaminateStreaming]] and
    * [[incrementalDedupStreaming]]: screen a document stream against a
    * STATIC corpus via its MinHash-LSH (band, bucket) index —
    * stream-static equi-join candidates, exact sorted-merge Jaccard
    * τ = 0.8 verification, directed stream→static output, per-pair
    * watermark-bounded dedup. The static index persists once
    * (anchor-capped per bucket — one witness decides the policy), so
    * micro-batches probe instead of re-shingling. */
  private def screenAgainstStaticIndex(
      streamDocs: DataFrame, staticDocs: DataFrame, retention: String,
      streamIdCol: String, staticIdCol: String): DataFrame = {
    import graft.functions.KernelExpressions
    import graft.functions.TextFunctions.tokens
    import graft.queries.DedupQueries

    val evalSh = staticShingles(staticDocs)
    // witness-side anchor cap on the static index, mirroring the batch
    // operator (DedupQueries.LshBucketCap): an arriving doc probes at
    // most cap eval witnesses per bucket — one is enough to flag it
    val evalIdx = DedupQueries.bandedFromShingles(evalSh, passthrough = Seq("g"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))))
      .filter(col("rk") <= graft.queries.DedupQueries.LshBucketCap)
      .select(col("doc_id").as(staticIdCol), col("band"), col("bucket"), col("g").as("gb"))

    val streamSh = streamDocs
      .select(col("doc_id"), col("ts"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("ts"),
        KernelExpressions.sortedNgramSet(col("toks"), 3).as("g"))
    val streamBands = DedupQueries.bandedFromShingles(streamSh, passthrough = Seq("ts", "g"))
      .select(col("doc_id").as(streamIdCol), col("ts"), col("g").as("ga"),
        col("band"), col("bucket"))

    DedupQueries.jaccardFromCounts(streamBands.join(evalIdx, Seq("band", "bucket")))
      .filter(col("jac") >= 0.8)
      .select(streamIdCol, staticIdCol, "jac", "ts")
      .withWatermark("ts", retention)
      .dropDuplicatesWithinWatermark(streamIdCol, staticIdCol)
  }

  /** Ingest-time DSIR scoring against a FROZEN importance index — the
    * streaming form of `pipeline_dsir_weights`: the hashed-n-gram
    * ratio table is built ONCE offline from the reference corpus
    * (target = src0, source = the rest) and broadcast; arriving
    * documents are scored with stateless per-row arithmetic — no
    * shuffle, no state store, no watermark, scan speed at any rate.
    *
    * The per-row kernel crosses to JVM objects (a typed `map`) rather
    * than column HOFs for ONE reason: an O(1) hash probe per feature
    * against the broadcast index. The column-literal alternative
    * (`element_at` on a 1024-entry map literal) is a linear scan per
    * feature inside codegen — B× more comparisons per document. Same
    * object-boundary trade as the multimodal codec pass, and the
    * arithmetic (poly31 char hash, fixed-point `div`, HALF_UP 6-dp
    * round) replicates the batch query bit-for-bit —
    * StreamingDedupSpec proves streamed == batch on the fixture.
    */
  def dsirScoreStreaming(streamDocs: DataFrame, refDocs: DataFrame): DataFrame = {
    val spark = streamDocs.sparkSession
    import spark.implicits._
    val (rmap, rdefault) = graft.queries.PipelineQueries.dsirIndex(refDocs)
    val bc = spark.sparkContext.broadcast(rmap)
    streamDocs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        val feats = toks.iterator ++
          toks.iterator.sliding(2).withPartial(false).map(_.mkString(" "))
        var n = 0L
        var sumR = 0L
        feats.foreach { f =>
          val b = f.foldLeft(0L)((h, c) => (h * 31L + c.toLong) % 2147483647L) % 1024L
          sumR += bc.value.getOrElse(b, rdefault)
          n += 1L
        }
        // split(" ", -1) never yields an empty array, so n >= 1
        val w = BigDecimal(sumR.toDouble / 10000.0 / n.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, n, w)
      }
      .toDF("doc_id", "n_feats", "dsir_weight")
  }

  /** Streaming BM25 scoring — the live form of `text_bm25_topk`'s
    * scoring stage: arriving documents scored for the fixed query
    * against a FROZEN corpus-statistics index (N, total tokens, per-
    * term df — |terms|+2 values, the same bounded frozen-index
    * contract as [[annSearchStreaming]]). Per-term idf collapses to a
    * Scala constant; tf/length normalization is the batch query's
    * exact cleared-denominator integer arithmetic, evaluated as
    * stateless map-side column expressions — no shuffle, no state, so
    * the plan is trivially continuous. Docs containing no query term
    * are dropped, mirroring the batch inner join; global top-k has no
    * meaning on an unbounded stream, so ranking is the consumer's cut
    * (exactly like the batch LIMIT). Per-doc score parity with
    * [[graft.queries.TextQueries.bm25TopK]] over the same frozen
    * corpus is spec-pinned.
    */
  def bm25ScoreStreaming(streamDocs: DataFrame, corpusDocs: DataFrame,
      terms: Seq[String] = graft.queries.TextQueries.Bm25QueryTerms): DataFrame = {
    import graft.functions.KernelExpressions.longDiv
    import graft.functions.TextFunctions.tokens
    val (nDocs, totalTokens, dfs) = graft.queries.TextQueries.bm25Stats(corpusDocs, terms)
    val toks = tokens(col("text"))
    val dl = size(toks).cast("long")
    val avgPpm = longDiv(lit(1000000L) * dl * lit(nDocs), lit(totalTokens))
    def tfOf(term: String): org.apache.spark.sql.Column =
      size(filter(toks, t => t === lit(term))).cast("long")
    def termScore(term: String): org.apache.spark.sql.Column = {
      // absent terms have df 0: idf falls back to the df=0 value and tf
      // is 0 for every doc, so the term contributes nothing (as batch)
      val tdf = dfs.getOrElse(term, 0L)
      val idfPpk = (1000L * (2 * nDocs - 2 * tdf + 1)) / (2 * tdf + 1)
      val tf = tfOf(term)
      val tfnPpm = longDiv(lit(22000000L) * tf * lit(1000000L),
        lit(10000000L) * tf + lit(3000000L) + lit(9L) * avgPpm)
      longDiv(lit(idfPpk) * tfnPpm, lit(1000L))
    }
    streamDocs
      .withColumn("_tfsum", terms.map(tfOf).reduce(_ + _))
      .filter(col("_tfsum") > 0L)
      .select(col("doc_id"),
        terms.map(termScore).reduce(_ + _).as("score_ppm"))
  }

  /** One typed input row for the streaming resampler. */
  case class RsEvent(event_type: String, ts: Timestamp, value: Double, event_id: Long)

  /** Per-type resampler state: the last FINALIZED anchor and the still-
    * open minutes' (max event_id, its value) picks. In STEADY STATE
    * `open` holds ≤ lateness/1min + 1 entries — a minute finalizes as
    * soon as the watermark passes its end — but the watermark only
    * advances BETWEEN micro-batches, so a single backfill batch
    * spanning hours leaves every minute of that span open (per type)
    * until the next batch: transient state is batch-span-bounded, not
    * lateness-bounded. Correctness is unaffected; size the trigger
    * interval (or pre-split backfills) when replaying history. */
  case class RsState(lastMin: Long, lastVal: Double, open: Map[Long, (Long, Double)])

  /** One emitted grid row (is_filled = 1 for interpolated minutes). */
  case class RsRow(event_type: String, minute: Timestamp,
      value_interp: Double, is_filled: Long)

  /** Streaming time-series resample + gap fill — the live form of
    * `q_resample_interpolate`, and the timer-driven stateful shape the
    * per-window operators don't exercise: emission is triggered by the
    * WATERMARK reaching a minute's end, not by a row arriving in it.
    *
    * Per type, arriving events update the open minutes' max-event_id
    * anchor pick (the batch query's deterministic choice — late events
    * within the lateness tolerance still win if their id is larger);
    * when the watermark finalizes a minute that HAS an anchor, the gap
    * since the previous anchor is emitted as the exact linear blend
    * (identical IEEE expression to the batch query, so values match to
    * the last bit) followed by the anchor itself. Minutes beyond the
    * last anchor stay unemitted until a later anchor closes the gap —
    * interpolation needs both ends, which is precisely why this is a
    * stateful operator and not a projection. State per type is the
    * last anchor + the open window; timeouts fire at the earliest open
    * minute's end so quiet types still drain. StreamingSpec pins
    * emitted rows == the batch query on the same events.
    */
  def resampleStreaming(events: DataFrame, lateness: String = "10 minutes"): Dataset[RsRow] = {
    import events.sparkSession.implicits._
    val minuteMs = 60000L
    events
      .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      .withWatermark("ts", lateness)
      .as[RsEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, rows: Iterator[RsEvent], state: GroupState[RsState]) =>
          val st = state.getOption.getOrElse(RsState(Long.MinValue, 0.0, Map.empty))
          // fold arrivals into the open minutes' max-event_id picks
          val open = rows.foldLeft(st.open) { (m, r) =>
            val minute = r.ts.getTime / minuteMs * minuteMs
            m.get(minute) match {
              case Some((id, _)) if id >= r.event_id => m
              case _ => m.updated(minute, (r.event_id, r.value))
            }
          }
          val wm = state.getCurrentWatermarkMs()
          val (ripe, stillOpen) = open.partition { case (m, _) => m + minuteMs <= wm }
          var lastMin = st.lastMin
          var lastVal = st.lastVal
          val out = scala.collection.mutable.ArrayBuffer[RsRow]()
          ripe.toSeq.sortBy(_._1).foreach { case (m, (_, v)) =>
            if (lastMin != Long.MinValue) {
              var g = lastMin + minuteMs
              while (g < m) {
                // same expression tree as the batch query (micros ratio)
                val frac = (g - lastMin).toDouble * 1000.0 / ((m - lastMin).toDouble * 1000.0)
                out += RsRow(tpe, new Timestamp(g), lastVal + (v - lastVal) * frac, 1L)
                g += minuteMs
              }
            }
            out += RsRow(tpe, new Timestamp(m), v, 0L)
            lastMin = m
            lastVal = v
          }
          state.update(RsState(lastMin, lastVal, stillOpen))
          if (stillOpen.nonEmpty)
            state.setTimeoutTimestamp(stillOpen.keys.min + minuteMs)
          out.iterator
      }
  }

  /** One typed input row for the streaming anomaly screen. */
  case class AnomalyEvent(event_type: String, ts: Timestamp, bucket: Timestamp)

  /** Per-type anomaly state: open (not-yet-finalized) hour buckets and
    * the trailing ≤6 FINALIZED counts (oldest first). */
  case class AnomalyState(open: Map[Long, Long], hist: Seq[Long])

  /** One finalized anomaly verdict (z absent when the trailing window
    * has no variance yet — same contract as the batch query). */
  case class AnomalyRow(hour: Timestamp, event_type: String, cnt: Long,
      n_prev: Long, z: Option[Double], is_anomaly: Long)

  /** Streaming trailing-window anomaly screen — the live form of
    * `q_hourly_anomaly`, and the one stateful shape the per-window
    * operators don't exercise: state that SURVIVES across windows.
    * Keyed by event type, each group holds (a) per-open-hour counts
    * and (b) the trailing ≤6 finalized counts; when the event-time
    * watermark passes an hour's end the hour is finalized IN ORDER —
    * z-scored against the trailing counts with the batch query's
    * exact-integer arithmetic (disc = n·s2 − s1², one sqrt, one
    * division, HALF_UP round), emitted, and pushed into the baseline.
    * State is bounded by (#open hours within lateness + 6) longs per
    * type — fixed-size, watermark-evicted; out-of-order events within
    * the lateness tolerance land in their open bucket before it
    * finalizes, so the emitted verdicts equal the batch query on the
    * same data (spec-pinned).
    */
  def anomalyStreaming(events: DataFrame, tsCol: String, typeCol: String,
      lateness: String = "30 minutes"): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._

    def zOf(hist: Seq[Long], cnt: Long): (Option[Double], Long) = {
      val n = hist.size.toLong
      val s1 = hist.sum
      val s2 = hist.map(c => c * c).sum
      val disc = n * s2 - s1 * s1
      if (disc > 0) {
        val zRaw = (cnt * n - s1).toDouble / math.sqrt(disc.toDouble)
        val z = BigDecimal(zRaw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (Some(z), if (math.abs(zRaw) > 3.0) 1L else 0L)
      } else (None, 0L)
    }

    /** Finalize every open bucket the watermark has passed, oldest
      * first; returns (emitted rows, advanced state). */
    def drain(tpe: String, st: AnomalyState, wmMs: Long): (Seq[AnomalyRow], AnomalyState) = {
      val (ripe, open) = st.open.partition { case (b, _) => b + BucketMillis <= wmMs }
      val out = scala.collection.mutable.ArrayBuffer[AnomalyRow]()
      var hist = st.hist
      ripe.toSeq.sortBy(_._1).foreach { case (b, cnt) =>
        val (z, alarm) = zOf(hist, cnt)
        out += AnomalyRow(new Timestamp(b), tpe, cnt, hist.size.toLong, z, alarm)
        hist = (hist :+ cnt).takeRight(6)
      }
      (out.toSeq, AnomalyState(open, hist))
    }

    events
      .select(col(typeCol).as("event_type"), col(tsCol).as("ts"),
        bucketOf(col(tsCol)).as("bucket"))
      .withWatermark("ts", lateness)
      .as[AnomalyEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, rows: Iterator[AnomalyEvent], state: GroupState[AnomalyState]) =>
          val wm = state.getCurrentWatermarkMs()
          val st0 = state.getOption.getOrElse(AnomalyState(Map.empty, Seq.empty))
          // finalize everything ripe BEFORE folding in new rows (new
          // rows are ≥ watermark, so they only touch unripe buckets)
          val (emitted, st1) = drain(tpe, st0, wm)
          var open = st1.open
          rows.foreach { e =>
            val b = e.bucket.getTime
            open = open.updated(b, open.getOrElse(b, 0L) + 1L)
          }
          val next = AnomalyState(open, st1.hist)
          state.update(next)
          if (open.nonEmpty)
            state.setTimeoutTimestamp(open.keys.min + BucketMillis)
          emitted.iterator
      }
  }

  /** Ingest-time Gopher quality gate — the streaming form of
    * text_gopher_rules: the rule battery is a pure map-side frame
    * function, so the IDENTICAL plan runs on the stream (stateless,
    * no watermark, scan speed); route on `keep` to drop rejects at
    * the door instead of after landing them. */
  def gopherGateStreaming(streamDocs: DataFrame): DataFrame =
    graft.queries.TextQueries.gopherRules(streamDocs)

  /** One (user, hour-bucket) funnel input event. */
  case class FunnelEvent(user_id: Long, bucket: Timestamp, event_type: String, ts: Timestamp)

  /** Finalized per-(user, bucket) funnel verdict. */
  case class FunnelResult(user_id: Long, bucket: Timestamp,
      reached_view: Boolean, reached_click: Boolean, reached_purchase: Boolean)

  /** Streaming hourly conversion funnel — the live form of
    * `q_funnel_hourly`'s per-(user, hour) stage machine.
    *
    * Stage ordering (view < click < purchase, strictly increasing
    * timestamps) is NOT incrementally computable under out-of-order
    * arrival: a late-arriving EARLIER view can retro-qualify a click
    * that looked premature, so min-timestamp running state would be
    * wrong. The exact pattern is buffer-until-finalization: events
    * buffer per (user, bucket) and the stages are computed once, when
    * the event-time watermark passes the bucket end — the same
    * finalize-on-watermark contract a session window gives. State is
    * BOUNDED by one bucket's events per active (user, bucket) and
    * evicted at emission; rows older than the watermark never reach
    * the operator, so the timeout timestamp (bucket end) is always
    * ahead of the watermark when a group is live.
    *
    * `lateness` is the out-of-order tolerance: the watermark trails the
    * max event time by this much, so a bucket finalizes once an event
    * arrives `lateness` past its end — cross-micro-batch disorder
    * within the tolerance is absorbed by the buffer (a 0-second
    * watermark would drop any event older than the newest one already
    * seen, silently un-qualifying staged conversions).
    */
  def funnelHourlyStreaming(events: DataFrame, tsCol: String, userCol: String,
      lateness: String = "30 minutes"): Dataset[FunnelResult] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    events
      .select(col(userCol).cast("long").as("user_id"),
        bucketOf(col(tsCol)).as("bucket"),
        col("event_type"), col(tsCol).as("ts"))
      .withWatermark("ts", lateness)
      .as[FunnelEvent]
      .groupByKey(r => (r.user_id, r.bucket.getTime))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[FunnelEvent], state: GroupState[List[(String, Long)]]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            def minAfter(tpe: String, after: Long): Option[Long] = {
              val ts = buf.collect { case (t, us) if t == tpe && us > after => us }
              if (ts.isEmpty) None else Some(ts.min)
            }
            val t1 = minAfter("view", Long.MinValue)
            val t2 = t1.flatMap(minAfter("click", _))
            val t3 = t2.flatMap(minAfter("purchase", _))
            Iterator.single(FunnelResult(key._1, new Timestamp(key._2),
              t1.isDefined, t2.isDefined, t3.isDefined))
          } else {
            val buf = state.getOption.getOrElse(Nil) ++
              rows.map(r => (r.event_type, micros(r.ts)))
            state.update(buf)
            state.setTimeoutTimestamp(key._2 + BucketMillis) // finalize at bucket end
            Iterator.empty
          }
      }
  }

  /** One day-scoped event for the streaming CEP operator. */
  case class CepEvent(user_id: Long, bucket: Timestamp, event_type: String, ts: Timestamp)

  /** One completed pattern match, emitted at day finalization. */
  case class CepMatch(user_id: Long, day: java.time.LocalDate, t_view: Timestamp,
      t_click: Timestamp, t_purchase: Timestamp)

  case class CepTimeout(user_id: Long, day: java.time.LocalDate,
      stage_reached: String, t_last: Timestamp, deadline: Timestamp)

  /** Streaming CEP first-match — the live form of `q_cep_first_match`
    * (Flink-CEP parity: view → click → purchase, each step within
    * [[graft.queries.EventQueries.CepStepMinutes]] of the previous,
    * greedy from the day's first view, one match per (user, day)).
    *
    * Greedy-from-first is not incrementally decidable under
    * out-of-order arrival — a late-arriving EARLIER view rebases the
    * whole chain — so, exactly like the hourly funnel, the operator
    * buffers a (user, day) group's relevant events and replays the
    * batch chain once, when the watermark passes the day end; state is
    * evicted at emission, and rows older than the watermark never
    * reach the operator. Buffered state is bounded by one user-day of
    * view/click/purchase events (other types are dropped before the
    * shuffle); the (user, day) key is the shuffle key at scale.
    * StreamingSpec pins out-of-order convergence to the batch chain
    * and the no-backtracking ruling (a later click that WOULD complete
    * the pattern does not resurrect a lapsed first-click window).
    */
  def cepStreaming(events: DataFrame, tsCol: String, userCol: String,
      lateness: String = "1 hour"): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    val dayMillis = 86400000L
    val stepUs = graft.queries.EventQueries.CepStepMinutes * 60L * 1000000L
    // `bucket` is date_trunc("day", ts) — local midnight in the SESSION
    // zone, as an absolute instant. Converting that instant back to a
    // LocalDate must therefore use the session calendar, not epoch-day
    // division (which is UTC-only and off by one for UTC+ sessions).
    // Captured at plan-build time so the executor closure is zone-stable.
    val sessionZone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    def dayOf(bucketMs: Long): java.time.LocalDate =
      java.time.Instant.ofEpochMilli(bucketMs).atZone(sessionZone).toLocalDate
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    events
      .select(col(userCol).cast("long").as("user_id"),
        date_trunc("day", col(tsCol)).as("bucket"),
        col("event_type"), col(tsCol).as("ts"))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withWatermark("ts", lateness)
      .as[CepEvent]
      .groupByKey(r => (r.user_id, r.bucket.getTime))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[CepEvent], state: GroupState[List[(String, Long)]]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            def minIn(tpe: String, lo: Long, hi: Long): Option[Long] = {
              val ts = buf.collect { case (t, us) if t == tpe && us > lo && us <= hi => us }
              if (ts.isEmpty) None else Some(ts.min)
            }
            val t1 = minIn("view", Long.MinValue, Long.MaxValue)
            val t2 = t1.flatMap(v => minIn("click", v, v + stepUs))
            val t3 = t2.flatMap(c => minIn("purchase", c, c + stepUs))
            (t1, t2, t3) match {
              case (Some(v), Some(c), Some(p)) => Iterator.single(CepMatch(
                key._1, dayOf(key._2),
                toTs(v), toTs(c), toTs(p)))
              case _ => Iterator.empty
            }
          } else {
            val buf = state.getOption.getOrElse(Nil) ++
              rows.map(r => (r.event_type, micros(r.ts)))
            state.update(buf)
            state.setTimeoutTimestamp(key._2 + dayMillis) // finalize at day end
            Iterator.empty
          }
      }
  }

  case class MkEvent(user_id: Long, bucket: Timestamp, event_type: String,
      ts: Timestamp, event_id: Long)

  case class MarkovStep(user_id: Long, day: java.time.LocalDate,
      from_type: String, to_type: String)

  /** Streaming in-session transition extraction — the live form of
    * `q_markov_transitions`'s pair stage: each (user, day) buffers its
    * events until the watermark closes the day (the CEP state
    * machine — consecutive-pair semantics under disorder need the
    * closed buffer), then emits one row per consecutive pair within
    * the 5-minute gap, ordered exactly like batch on
    * (unix_micros, event_id). The matrix itself is the sink-side
    * rollup (group by (from, to), normalize per from) — the
    * compose-at-the-sink split every aggregating screen here follows,
    * so the streamed rows stay per-user facts. DAY-SCOPED by
    * construction: a pair whose 5-minute gap straddles midnight is
    * not emitted (the batch global lag sees it) — the documented
    * bucketing trade, same as the CEP day scope. State = one
    * (user, day) of events, evicted at finalization. */
  def markovTransitionsStreaming(events: DataFrame, tsCol: String, userCol: String,
      lateness: String = "1 hour"): Dataset[MarkovStep] = {
    import events.sparkSession.implicits._
    val dayMillis = 86400000L
    val gapUs = 300L * 1000000L
    val sessionZone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    def dayOf(bucketMs: Long): java.time.LocalDate =
      java.time.Instant.ofEpochMilli(bucketMs).atZone(sessionZone).toLocalDate
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    events
      .select(col(userCol).cast("long").as("user_id"),
        date_trunc("day", col(tsCol)).as("bucket"),
        col("event_type"), col(tsCol).as("ts"), col("event_id").cast("long").as("event_id"))
      .withWatermark("ts", lateness)
      .as[MkEvent]
      .groupByKey(r => (r.user_id, r.bucket.getTime))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[MkEvent], state: GroupState[List[(String, Long, Long)]]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            val ordered = buf.sortBy { case (_, us, id) => (us, id) }
            ordered.iterator.zip(ordered.iterator.drop(1)).collect {
              case ((from, us1, _), (to, us2, _)) if us2 - us1 <= gapUs =>
                MarkovStep(key._1, dayOf(key._2), from, to)
            }
          } else {
            val buf = state.getOption.getOrElse(Nil) ++
              rows.map(r => (r.event_type, micros(r.ts), r.event_id))
            state.update(buf)
            state.setTimeoutTimestamp(key._2 + dayMillis)
            Iterator.empty
          }
      }
  }

  /** Streaming CEP TIMEOUT side-output — the live form of
    * `q_cep_timeouts` (Flink `within()` timeout parity): a (user, day)
    * whose greedy pattern stalls emits (stage_reached, t_last,
    * deadline) instead of silence. Same buffer-until-day-close state
    * machine as [[cepStreaming]] (greedy-from-first is not
    * incrementally decidable under disorder), so the EMISSION time is
    * the day finalization, not the deadline instant — the CONTENT is
    * identical to Flink's side output and to the batch twin, which
    * StreamingSpec pins on replayed events. */
  def cepTimeoutsStreaming(events: DataFrame, tsCol: String, userCol: String,
      lateness: String = "1 hour"): Dataset[CepTimeout] = {
    import events.sparkSession.implicits._
    val dayMillis = 86400000L
    val stepUs = graft.queries.EventQueries.CepStepMinutes * 60L * 1000000L
    val sessionZone = java.time.ZoneId.of(
      events.sparkSession.conf.get("spark.sql.session.timeZone"))
    def dayOf(bucketMs: Long): java.time.LocalDate =
      java.time.Instant.ofEpochMilli(bucketMs).atZone(sessionZone).toLocalDate
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    events
      .select(col(userCol).cast("long").as("user_id"),
        date_trunc("day", col(tsCol)).as("bucket"),
        col("event_type"), col(tsCol).as("ts"))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withWatermark("ts", lateness)
      .as[CepEvent]
      .groupByKey(r => (r.user_id, r.bucket.getTime))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[CepEvent], state: GroupState[List[(String, Long)]]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            def minIn(tpe: String, lo: Long, hi: Long): Option[Long] = {
              val ts = buf.collect { case (t, us) if t == tpe && us > lo && us <= hi => us }
              if (ts.isEmpty) None else Some(ts.min)
            }
            val t1 = minIn("view", Long.MinValue, Long.MaxValue)
            val t2 = t1.flatMap(v => minIn("click", v, v + stepUs))
            val t3 = t2.flatMap(c => minIn("purchase", c, c + stepUs))
            (t1, t2, t3) match {
              case (Some(v), None, _) => Iterator.single(CepTimeout(
                key._1, dayOf(key._2), "view", toTs(v), toTs(v + stepUs)))
              case (Some(_), Some(c), None) => Iterator.single(CepTimeout(
                key._1, dayOf(key._2), "click", toTs(c), toTs(c + stepUs)))
              case _ => Iterator.empty
            }
          } else {
            val buf = state.getOption.getOrElse(Nil) ++
              rows.map(r => (r.event_type, micros(r.ts)))
            state.update(buf)
            state.setTimeoutTimestamp(key._2 + dayMillis)
            Iterator.empty
          }
      }
  }

  /** One hour-bucketed event for the streaming Top-N operator. */
  case class TopNEvent(user_id: Long, bucket: Timestamp, ts: Timestamp)

  /** One per-window leaderboard row, emitted at window finalization. */
  case class TopNRow(bucket: Timestamp, user_id: Long, cnt: Long, rnk: Int)

  /** Streaming Window Top-N — the live form of `q_window_topn` (Flink
    * streaming-SQL "Window Top-N": ROW_NUMBER over a window aggregate,
    * rank ≤ n), which Structured Streaming cannot express natively
    * (rank windows are unsupported on streams).
    *
    * Exact top-N is not incrementally emittable under out-of-order
    * arrival — a late increment can promote any key into the
    * leaderboard — so the operator keeps the full (key → count) map
    * per OPEN window and emits the ranked top-n once, when the
    * watermark passes the window end (the same per-window state
    * Flink's implementation keeps). State is bounded by per-window key
    * occupancy × open windows (≈ lateness/width + 1) and evicted at
    * emission; rows older than the watermark never reach the operator,
    * so a live group's window-end timeout is always ahead of the
    * watermark. At scale, windows are the shuffle key: each window's
    * map lives on one partition — the map, not the event history, is
    * the state, so memory is per-window distinct keys, and a
    * heavy-hitter sketch (CMS top-k) is the documented fallback when
    * even that is too wide.
    */
  def windowTopNStreaming(events: DataFrame, tsCol: String, userCol: String,
      n: Int = 3, lateness: String = "30 minutes"): Dataset[TopNRow] = {
    import events.sparkSession.implicits._
    events
      .select(col(userCol).cast("long").as("user_id"),
        bucketOf(col(tsCol)).as("bucket"), col(tsCol).as("ts"))
      .withWatermark("ts", lateness)
      .as[TopNEvent]
      .groupByKey(_.bucket.getTime)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucketMs: Long, rows: Iterator[TopNEvent], state: GroupState[Map[Long, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            counts.toSeq.sortBy { case (u, c) => (-c, u) } // (cnt desc, id asc) = batch tie-break
              .take(n).zipWithIndex.iterator
              .map { case ((u, c), i) => TopNRow(new Timestamp(bucketMs), u, c, i + 1) }
          } else {
            var m = state.getOption.getOrElse(Map.empty[Long, Long])
            rows.foreach(r => m = m.updated(r.user_id, m.getOrElse(r.user_id, 0L) + 1L))
            state.update(m)
            state.setTimeoutTimestamp(bucketMs + BucketMillis) // finalize at window end (+lateness via watermark)
            Iterator.empty
          }
      }
  }

  /** One hour-bucketed valued event for the streaming median operator. */
  case class MedianEvent(bucket: Timestamp, ts: Timestamp, value: Double)

  /** One per-window exact-median row, emitted at window finalization. */
  case class MedianRow(bucket: Timestamp, n: Long, median_value: Double)

  /** Streaming EXACT median per tumbling window — the live form of the
    * q_median_price histogram pattern. An exact median is not
    * incrementally emittable under disorder (any late row can move
    * it), so the operator keeps a value→count HISTOGRAM per open
    * window and emits once, when the watermark passes the window end.
    * State is the per-window distinct-value histogram — the same
    * compression the batch plan gets from its (group, value)
    * hash-aggregate, and exactly why this beats buffering raw rows:
    * memory is distinct values, not event count. Median rule is the
    * batch query's verbatim (lo/hi midpoint over the cumulative
    * count), so streaming == batch bit-for-bit on a closed window.
    * At scale, windows are the shuffle key (one histogram per
    * partition-local map); for unbounded value domains the documented
    * fallback is fixed-width value bucketing (the q_quantiles_exact
    * histogram) — the rule is unchanged, the domain is capped.
    */
  def windowMedianStreaming(events: DataFrame, tsCol: String, valueCol: String,
      lateness: String = "30 minutes"): Dataset[MedianRow] = {
    import events.sparkSession.implicits._
    events
      .select(bucketOf(col(tsCol)).as("bucket"),
        col(tsCol).as("ts"), col(valueCol).cast("double").as("value"))
      .withWatermark("ts", lateness)
      .as[MedianEvent]
      .groupByKey(_.bucket.getTime)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucketMs: Long, rows: Iterator[MedianEvent], state: GroupState[Map[Double, Long]]) =>
          if (state.hasTimedOut) {
            val hist = state.get
            state.remove()
            val n = hist.valuesIterator.sum
            val lo = (n + 1) / 2
            val hi = (n + 2) / 2
            var cum = 0L
            var vLo = Double.NaN
            var vHi = Double.NaN
            hist.toSeq.sortBy(_._1).foreach { case (v, c) =>
              val prev = cum; cum += c
              if (cum >= lo && prev < lo) vLo = v
              if (cum >= hi && prev < hi) vHi = v
            }
            Iterator.single(MedianRow(new Timestamp(bucketMs), n, (vLo + vHi) / 2.0))
          } else {
            var m = state.getOption.getOrElse(Map.empty[Double, Long])
            rows.foreach(r => m = m.updated(r.value, m.getOrElse(r.value, 0L) + 1L))
            state.update(m)
            state.setTimeoutTimestamp(bucketMs + BucketMillis)
            Iterator.empty
          }
      }
  }

  /** Streaming AS-OF enrichment against a STATIC dimension: each
    * stream row picks up the latest dimension row (by `dimTs`, ties by
    * max `dimVal`) at or before its own event time. The dimension is
    * pre-aggregated to one sorted (ts, val) array per key and
    * BROADCAST, so the stream never shuffles; per-row resolution is a
    * filter + last-element on the (small) per-key array — the
    * streaming counterpart of the batch union-merge as-of join
    * (RelationalQueries q_asof_join), verified equal in
    * StreamingSpec. For a dimension too large to broadcast, the batch
    * union-merge form over micro-batches (foreachBatch) is the
    * fallback.
    */
  def asofEnrichStreaming(
      events: DataFrame, eventKey: String, eventTs: String,
      dim: DataFrame, dimKey: String, dimTs: String, dimVal: String): DataFrame = {
    val byKey = dim.groupBy(col(dimKey).as(eventKey))
      .agg(sort_array(collect_list(struct(col(dimTs).as("ts"), col(dimVal).as("v"))))
        .as("_dim_rows"))
    events.join(broadcast(byKey), Seq(eventKey), "left")
      .withColumn("asof_" + dimVal,
        try_element_at(
          filter(col("_dim_rows"), o => o.getField("ts") <= col(eventTs)), lit(-1))
          .getField("v"))
      .drop("_dim_rows")
  }

  /** Online vector search: a stream of query vectors served against a
    * FROZEN multiprobe-LSH index — the serving-time form of
    * `sim_ann_lsh_multiprobe` (a vector store answering queries as
    * they arrive, index built offline).
    *
    * The corpus is normalized and bucketed ONCE (deterministic
    * hyperplanes — identical signatures to the batch index by
    * construction) and persisted, so micro-batches probe the same
    * in-memory index instead of re-hashing the corpus per trigger.
    * Each arriving query hashes statelessly to its signature, explodes
    * into the Hamming≤2 probe buckets
    * ([[graft.queries.SimilarityQueries.lshProbeDeltas]] — the batch
    * operator's exact delta list), and candidates come from the
    * stream-static equi-join on the bucket with an exact-cosine score:
    * no stream state at all, so throughput is bounded by the probe
    * join alone. At 100 TB the bucketed corpus is a partitioned table
    * and the same join shuffles the QUERY stream, never the corpus.
    *
    * Output (append): (query_id, neighbor_id, cos, ts) — every scored
    * candidate for the arrival. Ranking to top-k is the consumer's
    * sink-side step (a query's candidates land in one micro-batch);
    * StreamingDedupSpec applies the shared ranking and proves equality
    * with the batch operator's top-5.
    */
  def annSearchStreaming(queryStream: DataFrame, corpus: DataFrame): DataFrame = {
    import graft.functions.KernelExpressions.dot
    import graft.queries.SimilarityQueries
    val planes = SimilarityQueries.hyperplanes(nPlanes = 8, dim = 64)
    // bucketed index, memoized per corpus frame: repeated calls against
    // the same corpus reuse ONE persisted index instead of pinning a
    // duplicate per call and evicting the caches other query families
    // rely on
    val idx = Memo(corpus.sparkSession, "streaming", "annIdx", corpus)(corpus
      .select(col("vec_id").as("neighbor_id"),
        transform(col("embedding"), x => x.cast("double")).as("vc"))
      .withColumn("nc", sqrt(dot(col("vc"), col("vc"))))
      .withColumn("probe", SimilarityQueries.lshBucket(col("vc"), planes))
      .persist())
    val q = queryStream
      .select(col("query_id"), col("ts"),
        transform(col("embedding"), x => x.cast("double")).as("vq"))
      .withColumn("nq", sqrt(dot(col("vq"), col("vq"))))
      .withColumn("bucket", SimilarityQueries.lshBucket(col("vq"), planes))
      .withColumn("probe", explode(array(
        SimilarityQueries.lshProbeDeltas.map(d => col("bucket").bitwiseXOR(lit(d))): _*)))
    q.join(idx, Seq("probe"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(SimilarityQueries.cosine(col("vq"), col("vc"), col("nq"), col("nc")), 6))
      .select("query_id", "neighbor_id", "cos", "ts")
  }

  /** Streaming SemDeDup — the online form of `dedup_semantic`'s
    * within-cluster cosine screen, closing the continuous-crawl gap
    * for EMBEDDINGS the way [[incrementalDedupStreaming]] closes it
    * for text: each arriving embedding is assigned to its SemDeDup
    * cluster through the persisted two-level centroid index and
    * near-dup-checked against the stored corpus WITHIN THAT CLUSTER
    * only — the corpus is never re-paired.
    *
    * Assignment replays the batch determinism contract bit-exactly
    * (same raw-double kernel dots, same first-max-by-(score, −id) at
    * both levels), restructured for a stream where a per-arrival
    * groupBy-argmax would be a stateful aggregation:
    *   - the COARSE argmax runs as a pure projection over the k₁
    *     coarse centroids baked into the plan as literals
    *     (`array_max` over (score, −id) structs — first-max, ties to
    *     the lower id, exactly the batch `max(struct(cs, −co_id))`);
    *   - the FINE argmax is a stream-static equi-join on the coarse
    *     cell against the ≤ k₁-row per-cell centroid-list frame, then
    *     `array_max` over the ~k/k₁ in-cell centroids per arrival.
    * Both stages are STATELESS — no watermark, no state store; the
    * duplicate-free output is structural (one cell per arrival, one
    * bucket per arrival, one corpus row per (arrival, neighbor)).
    *
    * The corpus probe is the [[decontaminateStreaming]] stream-static
    * equi-join pattern on the bucket id: shuffle moves the ARRIVALS,
    * never the corpus (broadcast while the assigned corpus is small,
    * hash-partitioned co-location when it is not), and per-arrival
    * work is bounded by the cluster size SemDeDup's k ∝ n contract
    * fixes at ~[[graft.queries.SimilarityQueries.semTargetClusterSize]]
    * on average. Output (append, directed new→matched like
    * `dedup_incremental`): (new_id, matched_id, cos, ts) at τ ≥ 0.4.
    * StreamingDedupSpec pins stream == batch `dedup_semantic` pairs
    * when the stream replays the corpus, zero stream state, and the
    * no-BNLJ/no-cartesian plan shape. */
  def semDedupStreaming(streamVecs: DataFrame, dir: String): DataFrame = {
    import graft.functions.KernelExpressions.dot
    import graft.queries.SimilarityQueries
    val s = streamVecs.sparkSession
    // frozen assignment index, memoized per (session, corpus dir): the
    // coarse-quantizer rows collected as plan literals (k₁ = ⌈√k⌉ =
    // O(√n) rows — the SAME footprint class as the broadcast-hinted
    // coarse frame of the batch assignment, sized in SCALING.md at
    // ~30 MB for a 10¹¹-vector corpus; past 10¹² the batch path's own
    // recursion trigger applies here identically), the per-cell
    // centroid lists (k rows grouped to k₁ — joined, never collected),
    // and the bucket-keyed assigned corpus (the memoized
    // SimilarityQueries.semAssigned artifact)
    val (coarseLits, cellCents, corpusIdx) = Memo(s, "streaming", "semIdx", dir) {
      val (_, _, coarse, cellOfCent) = SimilarityQueries.semCentFrames(s, dir)
      val lits = coarse.select(col("co_id"), col("co_v"), col("co_nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      val cells = cellOfCent
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(
          struct(col("cent_id"), col("cv"), col("cnrm")))).as("cents"))
        .persist()
      val idx = SimilarityQueries.semAssigned(s, dir)
        .select(col("bucket"), col("vec_id").as("matched_id"),
          col("v").as("vc"), col("nrm").as("nc"))
      (lits, cells, idx)
    }
    val coarseScored = array(coarseLits.map { case (id, cv, cn) =>
      struct((dot(col("v"), typedLit(cv)) / lit(cn)).as("cs"),
        lit(-id).as("negc"))
    }: _*)
    streamVecs
      .select(col("vec_id").as("new_id"), col("ts"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nq", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", -array_max(coarseScored).getField("negc"))
      .join(cellCents, Seq("cell"))
      .withColumn("m", array_max(transform(col("cents"), c =>
        struct((dot(col("v"), c.getField("cv")) / c.getField("cnrm")).as("score"),
          (-c.getField("cent_id")).as("negc")))))
      .withColumn("bucket", -col("m").getField("negc"))
      .join(corpusIdx, Seq("bucket"))
      .filter(col("new_id") =!= col("matched_id"))
      .withColumn("cos",
        round(SimilarityQueries.cosine(col("v"), col("vc"), col("nq"), col("nc")), 6))
      .filter(col("cos") >= 0.4)
      .select("new_id", "matched_id", "cos", "ts")
  }

  /** Online entity resolution: a stream of names matched against a
    * FROZEN catalog within Levenshtein distance ≤ 2 — the serving-time
    * form of `q_fuzzy_join` (lookup against a master list, index built
    * offline). The catalog index is a PERSISTED (gram, cat_name)
    * inverted-index DataFrame probed by a stream-static equi-join —
    * the `decontaminateStreaming` pattern — so a 10⁷–10⁸-name entity
    * catalog never rides the driver heap or an executor broadcast: the
    * join broadcasts when the index is small and hash-partitions when
    * it is not, exactly like the batch operator's gram-prefix join.
    * Only the gram → df map is collected, and that is bounded by the
    * character-bigram VOCABULARY (alphabet², ≈ thousands of entries),
    * not by catalog size.
    *
    * Candidate generation is one-sided pigeonhole: ≤ k = 2 edits
    * destroy ≤ k·q = 4 distinct 2-grams on EITHER side, so (a) a probe
    * with ≥ 5 grams finds every match through ANY 5 of its own grams
    * (at most 4 can miss — grams absent from the whole catalog count
    * toward the 4, so df-ordering never costs recall), and (b) a probe
    * with ≤ 4 grams emits them ALL, and any catalog name with ≥ 5
    * grams still lands ≥ 1 surviving gram inside that full set. Only
    * the both-short case (both ≤ 5 chars) escapes — covered by the
    * catalog's short block, joined on a LENGTH-band key (|len diff|
    * ≤ 2 explodes to ≤ 5 equi-keys) instead of a nested loop. The 5
    * probe grams are the RAREST by catalog df (ties lexicographic),
    * matching the batch operator's (df, gram) prefix order — a probe
    * whose smallest grams are high-frequency no longer pulls
    * catalog-sized candidate lists.
    *
    * There is NO stream state: duplicates are eliminated structurally
    * — a (probe, candidate) pair sharing several probe grams survives
    * only through the FIRST shared gram (a pure filter), and the short
    * block keeps only pairs sharing NO chosen gram — so the union is
    * exact without a stateful distinct. Exact hits (lev 0) surface
    * too: finding the record IS the lookup. StreamingDedupSpec pins
    * parity with the batch self-join when the probe stream replays the
    * catalog itself, and pins the stream-static join shape.
    */
  def fuzzyMatchStreaming(nameStream: DataFrame, catalog: DataFrame): DataFrame = {
    import graft.queries.RelationalQueries.gramsOf
    val spark = nameStream.sparkSession
    // frozen index, memoized per catalog frame: the persisted
    // (gram, cat_name) inverted index, the persisted ≤ 5-char short
    // block keyed by length, and the gram → document-frequency map
    // (alphabet²-bounded — the ONLY driver-side collect, sized by the
    // character-bigram vocabulary, never by catalog rows)
    val (gramIdx, shortIdx, gramDf) = Memo(catalog.sparkSession, "streaming", "fuzzyIdx", catalog) {
      val names = catalog.select(col("name").as("cat_name")).distinct()
      val gi = names
        .select(col("cat_name"), explode(gramsOf(col("cat_name"))).as("gram"))
        .persist()
      val si = names.filter(length(col("cat_name")) <= 5)
        .withColumn("cat_len", length(col("cat_name")))
        .persist()
      val df = gi.groupBy("gram").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (gi, si, df)
    }
    val bcDf = spark.sparkContext.broadcast(gramDf)
    // rarest-first prefix: the probe's ≤ 5 grams ordered by catalog df
    // (ties lexicographic) — the batch operator's (gdf, gr) order
    val chosen = udf { (n: String) =>
      val gs = if (n == null || n.length < 2) Seq.empty[String]
        else (0 to n.length - 2).map(i => n.substring(i, i + 2)).distinct
      gs.sortBy(g => (bcDf.value.getOrElse(g, 0L), g)).take(5)
    }
    val probes = nameStream.select(col("name"))
      .withColumn("pg", chosen(col("name")))
    // stream-static equi-join on gram; a pair sharing several chosen
    // grams survives only via the FIRST shared one (stateless dedup)
    val viaGrams = probes
      .select(col("name"), col("pg"), explode(col("pg")).as("gram"))
      .join(gramIdx, Seq("gram"))
      .where(element_at(
        filter(col("pg"), g => array_contains(gramsOf(col("cat_name")), g)),
        1) === col("gram"))
      .select(col("name"), col("cat_name"))
    // both-short block: length-band equi-join (≤ 5 keys per probe);
    // pairs already reachable through a shared chosen gram are left to
    // the gram branch, so the union stays duplicate-free
    val viaShort = probes.filter(length(col("name")) <= 5)
      .select(col("name"), col("pg"),
        explode(sequence(greatest(length(col("name")) - 2, lit(0)),
          length(col("name")) + 2)).as("cat_len"))
      .join(shortIdx, Seq("cat_len"))
      .where(!arrays_overlap(col("pg"), gramsOf(col("cat_name"))))
      .select(col("name"), col("cat_name"))
    viaGrams.unionByName(viaShort)
      .filter(abs(length(col("name")) - length(col("cat_name"))) <= 2)
      .select(col("name").as("probe_name"), col("cat_name"),
        levenshtein(col("name"), col("cat_name"), 2).cast("long").as("lev"))
      .filter(col("lev") >= 0)
  }

  /** Stream-stream interval join: purchases matched to same-user
    * clicks in the trailing `frameSeconds` — the live form of the
    * batch bucketized interval join (RelationalQueries
    * q_interval_join), verified equal to it in StreamingSpec.
    *
    * Both sides carry watermarks and the join condition bounds c_ts
    * within [p_ts − frame, p_ts), so Structured Streaming derives
    * state-eviction bounds for BOTH sides: a buffered click is dropped
    * once the purchase watermark passes c_ts + frame, a buffered
    * purchase once the click watermark passes p_ts — state is bounded
    * by frame width × arrival rate, the same guarantee the batch
    * bucketing gives for shuffle volume. The join itself shuffles on
    * the equi-key (user), exactly like a keyed window aggregation.
    *
    * `joinType = "left_outer"` adds the reconciliation form: purchases
    * with NO click in the frame still emit, null-padded — but only
    * once the click watermark proves no match can still arrive (the
    * engine's outer-null emission is watermark-gated, which is what
    * makes the result deterministic under disorder). The state bound
    * is unchanged: outer rows hold no extra state, they simply leave
    * the buffer as a null emission instead of silently.
    */
  def intervalJoinStreaming(
      purchases: DataFrame, clicks: DataFrame, frameSeconds: Long = 1800L,
      joinType: String = "inner"): DataFrame = {
    val p = purchases.select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "0 seconds")
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", s"$frameSeconds seconds")
    p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $frameSeconds SECONDS") &&
          col("c_ts") < col("p_ts"),
        joinType)
      .select(col("event_id"), col("p_user").as("user_id"), col("p_ts"), col("c_ts"))
  }

  /** Flink window-join parity (stream.join(other).where(user)
    * .window(TumblingEventTimeWindows)): two watermarked streams
    * equi-joined on (user, 10-minute tumbling window). The window
    * struct in the join key is what bounds state on BOTH sides — a
    * buffered row's window closes once the other stream's watermark
    * passes window.end, so state is window-width × arrival rate,
    * exactly the Flink window-join buffer. Emits PAIR-level rows
    * (window_start, user_id, value); the batch twin `q_window_join`
    * aggregates the same pairs per window — StreamingSpec pins the
    * converged aggregate equal, so one stateful operator (the join)
    * is the whole streaming plan.
    */
  def windowJoinStreaming(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "0 seconds")
      .select(col("c_user"), window(col("c_ts"), "10 minutes").as("cw"))
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "0 seconds")
      .select(col("p_user"), window(col("p_ts"), "10 minutes").as("pw"), col("value"))
    p.join(c, col("p_user") === col("c_user") && col("pw") === col("cw"))
      .select(col("pw.start").as("window_start"),
        col("p_user").as("user_id"), col("value"))
  }

  /** One keyed event for the stateful OVER operator. */
  case class KeyedEvent(key: String, ts: Timestamp)

  /** One per-row OVER result (reference Tuple3: class, rowtime, count —
    * StreamJobSqlSliding.java:172–178). */
  case class SlidingCount(key: String, ts: Timestamp, trailing_cnt: Long)

  /** Per-key state: event times (epoch micros) within the trailing
    * frame of the newest event seen, descending (newest first). */
  case class SlidingState(maxSeenUs: Long, timesUs: List[Long])

  /** W3 streaming — per-key trailing-interval COUNT(*) OVER, which
    * Structured Streaming cannot express as a window function
    * (SURVEY.md §7.3 hard part #1).
    *
    * Semantics mirror the reference's zero-lateness punctuated
    * watermark (StreamJobSqlSliding.java:122–134): within a batch rows
    * are processed in event-time order; a row older than the newest
    * event already processed for its key is late and silently dropped
    * (ties are kept — RANGE frames include peers). State holds only
    * events inside the frame of the per-key max, so state size is
    * bounded by frame width × per-key event rate, not history length.
    *
    * Scale: state is per-key and partitioned by the stream's groupBy —
    * the same shuffle a keyed window agg pays. For very low key
    * cardinality the batch-mode chunked formulation
    * ([[Windows.slidingCountChunked]]) is the right offline tool; this
    * operator is for live streams.
    *
    * State is frame-bounded per ACTIVE key, but by default a key that
    * stops arriving parks its last buffer forever — on a feed with
    * unbounded key churn (session ids, request ids) that is an OOM on a
    * long enough horizon. Pass `evictIdleAfter` (requires a caller-set
    * event-time watermark on `events`) to drop a key's state once the
    * watermark passes its newest event by frame + evictIdleAfter: by
    * then every buffered timestamp is outside any future event's frame
    * AND the watermark itself already drops events at or below the old
    * per-key max, so eviction cannot change any output — it only
    * bounds state by retention-window key occupancy, mirroring
    * [[lshCandidatesStreaming]]'s contract.
    */
  def slidingCountStreaming(
      events: Dataset[KeyedEvent],
      frameSeconds: Long,
      evictIdleAfter: Option[String] = None): Dataset[SlidingCount] = {
    import events.sparkSession.implicits._
    val frameUs = frameSeconds * 1000000L
    val evictMs = evictIdleAfter.map { d =>
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(d))
      require(iv.months == 0, s"evictIdleAfter must be day-time, got: $d")
      // a negative retention would place the timeout before maxSeen +
      // frame: at best an IllegalArgumentException mid-stream, at worst
      // silent eviction of buffers still inside future events' frames
      require(iv.days >= 0 && iv.microseconds >= 0,
        s"evictIdleAfter must be non-negative, got: $d")
      frameSeconds * 1000L + iv.days * 86400000L + iv.microseconds / 1000L
    }
    val timeoutConf =
      if (evictMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout

    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[SlidingState]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed newest event + frame + idle retention
            Iterator.empty
          } else slidingBatch(key, rows, state, frameUs, evictMs, micros)
      }
  }

  /** One micro-batch of the sliding OVER state machine (split out so the
    * timed-out branch above stays a two-liner). */
  private def slidingBatch(
      key: String, rows: Iterator[KeyedEvent], state: GroupState[SlidingState],
      frameUs: Long, evictMs: Option[Long],
      micros: Timestamp => Long): Iterator[SlidingCount] = {
    val st = state.getOption.getOrElse(SlidingState(Long.MinValue, Nil))
    var maxSeen = st.maxSeenUs
    var buf = st.timesUs
    // Ties within a batch are one group: RANGE frames include
    // peers, so equal-ts rows all see each other (Flink buffers
    // same-rowtime rows and fires them together). A tie arriving
    // in a LATER batch is late — Flink's rowtime OVER drops
    // ts <= lastTriggeringTs — so maxSeen uses <=, not <.
    val out = rows.toSeq
      .groupBy(e => micros(e.ts)).toSeq.sortBy(_._1)
      .flatMap { case (t, peers) =>
        if (t <= maxSeen) Nil // late (incl. cross-batch tie): drop
        else {
          maxSeen = t
          // buf is descending and t is the new maximum: prepend
          // the peers, prune the expired tail — no re-sort. After
          // the prune every element is in [t - frame, t], so the
          // trailing count is simply the buffer length.
          buf = List.fill(peers.size)(t) ::: buf.takeWhile(_ >= t - frameUs)
          val cnt = buf.length.toLong
          peers.map(e => SlidingCount(key, e.ts, cnt))
        }
      }
    state.update(SlidingState(maxSeen, buf))
    // rows older than the watermark never reach the operator, so
    // maxSeen ≥ watermark and the timeout is always in the future
    evictMs.foreach { ms =>
      if (maxSeen != Long.MinValue) state.setTimeoutTimestamp(maxSeen / 1000L + ms)
    }
    out.iterator
  }
}
