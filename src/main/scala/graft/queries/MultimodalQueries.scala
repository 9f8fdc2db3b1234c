package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Memo, Tables}
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaRecord, MediaPipeline}

/** Multimodal decode pipeline registered as a query. The payloads are
  * ASCII text bytes (harness stand-in), so every byte-level feature the
  * FakeCodec computes is reproducible in the DuckDB oracle via
  * character arithmetic — the whole mapPartitions pipeline, schema and
  * batching included, is correctness-gated, not just smoke-tested.
  *
  * Family-shared codec pass: every query in this family starts from
  * the same persisted media-record frame ([[media]]), so the parquet
  * scan + binary cast is paid once per session/dataset, not once per
  * query (round 4 benched it 5×). The frame-sample output and the
  * distinct frame index are likewise memoized — `frame_sample` and
  * `video_neardup` share one codec pass. All memos live in
  * [[graft.model.Memo]] under "multimodal" and are dropped by
  * `Tables.clearCaches`.
  */
object MultimodalQueries {

  /** The family-shared media-record pass: documents parquet → opaque
    * binary payload + typed metadata, persisted once per
    * session/dataset. */
  private def media(s: SparkSession, dir: String): DataFrame =
    Memo(s, "multimodal", dir, "media")(
      // plain load (measured r16): every downstream fingerprint pass is
      // mapPartitions with one codec init per partition — a 32-way
      // spread multiplies the init cost and fragments the shared cache
      MediaPipeline.mediaFromDocuments(Tables.load(s, dir, "documents")).persist())

  private def mediaDs(s: SparkSession, dir: String) = {
    import s.implicits._
    media(s, dir).as[MediaRecord]
  }

  /** Temporal frame sampling — payload cut into `frameLen`-byte
    * "frames", every `stride`-th frame emitted (one→many explode
    * shape, the "1 fps for the vision encoder" stage); fingerprints
    * oracle-checked per frame. Memoized per parameterization so
    * video near-dup shares the codec pass. */
  def frameSampleQuery(s: SparkSession, dir: String, frameLen: Int, stride: Int): DataFrame =
    Memo(s, "multimodal", dir, s"frames:$frameLen:$stride")(
      MediaPipeline.frameSample(mediaDs(s, dir), frameLen, stride).toDF().persist())

  /** Distinct (media_id, frame_fp) inverted-index base for video
    * near-dup — a frame repeated within one video must not inflate a
    * pair's shared count. Persisted: both sides of the per-fingerprint
    * self-join scan it (PlanSpec pins the InMemoryTableScan). */
  private def frameIndex(s: SparkSession, dir: String, frameLen: Int, stride: Int): DataFrame =
    Memo(s, "multimodal", dir, s"frameIndex:$frameLen:$stride")(
      frameSampleQuery(s, dir, frameLen, stride)
        .select(col("media_id"), col("frame_fp")).distinct().persist())

  /** PLANTED RE-ENCODES for the perceptual-hash family (round 14,
    * advice: after the 63-bit pHash widening the all-distinct harness
    * corpus admits no ham ≤ 2 pairs, so banding, pair expansion, and
    * survivor CC verified 0 == 0 rows — covered only by unit fixtures,
    * not the oracle rail). Every [[ReencodeEvery]]-th media record
    * gets a deterministic "brightness-shifted re-encode": the same
    * payload with every byte + 1, under id + [[ReencodeIdOffset]].
    * A constant shift moves every luma sample AND the mean/median
    * together, so the aHash bits (56·vᵢ > Σv is shift-invariant) and
    * every non-DC DCT coefficient (the shift lands entirely in the
    * dropped DC term — each basis row of the literal DctCos table sums
    * to exactly 0) are IDENTICAL by arithmetic: the variant is a true
    * perceptual duplicate with different bytes, exactly what exact
    * dedup structurally misses and pHash/aHash exist to catch. The
    * oracles replay the variant from documents with the same +1 on
    * each sampled character — the invariance EMERGES from both
    * engines' arithmetic rather than being assumed, so an overflow or
    * sampling drift on either side fails the hash loudly. Only the
    * perceptual near-dup queries (ahash/phash dedup + survivors) read
    * the planted frame; decode/resize/frame/audio/video keep the
    * pristine corpus and their oracles unchanged. */
  private[graft] val ReencodeEvery = 20L
  private[graft] val ReencodeIdOffset = 1L << 40

  private def mediaNearDup(s: SparkSession, dir: String) = {
    import s.implicits._
    Memo(s, "multimodal", dir, "mediaNearDup") {
      val base = mediaDs(s, dir)
      val variants = base
        .filter(r => r.media_id % ReencodeEvery == 0 && r.data.nonEmpty)
        .map { r =>
          // the oracle replays this shift as ascii(c) + 1, which the
          // byte arithmetic matches ONLY below DEL (0x7F + 1 would
          // sign-wrap to -128 vs the oracle's 128) — assert the
          // ASCII-printable corpus invariant at the plant site so a
          // future corpus change fails loudly here, not as an opaque
          // hash mismatch downstream
          require(r.data.forall(b => b >= 0 && b < 0x7f),
            s"planted re-encode needs printable-ASCII payloads; media ${r.media_id} breaks the shift+1 oracle mirror")
          r.copy(
            media_id = r.media_id + ReencodeIdOffset,
            data = r.data.map(b => (b + 1).toByte))
        }
      base.toDF().unionByName(variants.toDF())
    }.as[MediaRecord]
  }

  /** A frame fingerprint shared by more than this many videos carries
    * no near-dup signal (constant padding / intro frames) and would
    * make the per-fingerprint self-join fan-out quadratic in its
    * frequency — the same heavy-hitter guard as the hot-shingle bound
    * in n-gram Jaccard. The oracle applies the identical cap, so the
    * query stays oracle-exact (nothing approaches the cap at test
    * scale; at 100 TB it is the safety rail). */
  val VideoHotFrameCap = 1024

  /** Near-duplicate VIDEO detection: two payloads are near-dups when
    * they share ≥ 2 identical sampled-frame fingerprints — clipped /
    * re-muxed copies keep most frames bit-identical while the
    * container bytes (and so exact dedup) differ. Same inverted-index
    * shape as dedup_common_spans: explode frames, self-join per
    * fingerprint (each fp's pair fan-out is its frequency², bounded by
    * [[VideoHotFrameCap]]², never |corpus|²), count shared frames per
    * pair. */
  def videoNeardupQuery(s: SparkSession, dir: String, frameLen: Int, stride: Int): DataFrame = {
    val frames = frameIndex(s, dir, frameLen, stride)
    // heavy-hitter guard: the hot set is tiny (usually empty), so the
    // anti-join broadcasts; every surviving fp has bounded fan-out
    val hot = frames.groupBy("frame_fp")
      .agg(count(lit(1)).as("ff"))
      .filter(col("ff") > VideoHotFrameCap)
      .select("frame_fp")
    val pruned = frames.join(broadcast(hot), Seq("frame_fp"), "left_anti")
    val a = pruned.select(col("media_id").as("media_a"), col("frame_fp"))
    val b = pruned.select(col("media_id").as("media_b"), col("frame_fp"))
    a.join(b, Seq("frame_fp"))
      .filter(col("media_a") < col("media_b"))
      .groupBy("media_a", "media_b")
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= 2)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode" -> ((s, dir) =>
      MediaPipeline.decode(mediaDs(s, dir)).toDF()),

    // nearest-neighbor resize to an 8×6 grid — the resample stage of an
    // image pipeline, batch-amortized like decode; byte-arithmetic
    // oracle over the sampled positions
    "multimodal_resize" -> ((s, dir) =>
      MediaPipeline.resize(mediaDs(s, dir), w = 8, h = 6).toDF()),

    "multimodal_frame_sample" -> ((s, dir) =>
      frameSampleQuery(s, dir, frameLen = 32, stride = 2)),

    // audio feature extraction — payload read as unsigned 8-bit PCM
    // biased at 64 (ASCII: spaces/digits negative, letters positive);
    // amplitude sums, peak, and zero-crossings are integer-exact
    "multimodal_audio_features" -> ((s, dir) =>
      MediaPipeline.audio(mediaDs(s, dir), bias = 64).toDF()),

    // perceptual near-dup over media payloads: average-hash signature
    // (56 resampled bytes, bit = above-mean; FakeCodec.ahashBatch) →
    // pairs within Hamming distance 3 — the image-dedup stage of a
    // multimodal pipeline (re-encoded/resized copies keep their aHash;
    // exact dedup on bytes structurally cannot see them). Candidate
    // generation is the SAME scale-safe shape as dedup_simhash:
    // pigeonhole banding over DISTINCT signatures (ham ≤ 3 ⇒ at least
    // one of 4 14-bit blocks equal — exact, not probabilistic), 4
    // equi-joins, each surviving pair kept only at its first equal
    // block (no distinct() shuffle), xor+popcount verify, then pure
    // materialization back to media ids. No all-pairs stage exists at
    // any scale.
    "multimodal_ahash_dedup" -> ((s, dir) => {
      def blockBits(c: org.apache.spark.sql.Column, i: Int) =
        shiftrightunsigned(c, i * 14).bitwiseAND(lit((1L << 14) - 1))
      // six plan branches reference the signature frame (banding a/b,
      // pair expansion ×2, same-sig ×2) — memo-persisted so the codec
      // pass over the payloads runs once, not per branch (same reason
      // the PQ code index persists in adcShortlist)
      val d = Memo(s, "multimodal", dir, "ahash:56")(
        MediaPipeline.ahash(mediaNearDup(s, dir), samples = 56).toDF().persist())
      val sigs = d.select("ahash").distinct()
      val blocks = array((0 until 4).map { i =>
        struct(lit(i).as("blk"), blockBits(col("ahash"), i).as("bits"))
      }: _*)
      // anchor-cap each (block, bits) bucket, mirroring
      // DedupQueries.simhashBlockCandidates: 14-bit blocks saturate
      // far later than simhash's 8-bit ones (2^14 values), but at
      // billions of distinct signatures a bucket still grows to
      // n/2^14 — the cap rails the self-join; untriggered at any
      // test scale, so the brute-force oracle stays exact
      val banded = sigs
        .select(col("ahash"), explode(blocks).as("b"))
        .select(col("ahash"), col("b.blk").as("blk"), col("b.bits").as("bits"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("blk"), col("bits")).orderBy(col("ahash"))))
      val a = banded.filter(col("rk") <= graft.queries.DedupQueries.LshBucketCap)
        .select(col("blk"), col("bits"), col("ahash").as("sha"))
      val b = banded.select(col("blk"), col("bits"), col("ahash").as("shb"))
      val firstEqualBlock = (0 until 4).foldRight(lit(-1)) { (i, acc) =>
        when(blockBits(col("sha"), i) === blockBits(col("shb"), i), lit(i)).otherwise(acc)
      }
      val sigPairs = a.join(b, Seq("blk", "bits"))
        .filter(col("sha") < col("shb"))
        .filter(col("blk") === firstEqualBlock)
        .withColumn("ham", graft.functions.TextFunctions.hamming(col("sha"), col("shb")))
        .filter(col("ham") <= 3)
        .select("sha", "shb", "ham")
      val da = d.select(col("media_id").as("ida"), col("ahash").as("sha"))
      val db = d.select(col("media_id").as("idb"), col("ahash").as("shb"))
      val cross = sigPairs
        .join(da, "sha").join(db, "shb")
        .select(least(col("ida"), col("idb")).as("media_a"),
          greatest(col("ida"), col("idb")).as("media_b"), col("ham"))
      val same = d.select(col("media_id").as("ida"), col("ahash"))
        .join(d.select(col("media_id").as("idb"), col("ahash")), "ahash")
        .filter(col("ida") < col("idb"))
        .select(col("ida").as("media_a"), col("idb").as("media_b"), lit(0L).as("ham"))
      cross.unionByName(same)
    }),

    "multimodal_video_neardup" -> ((s, dir) =>
      videoNeardupQuery(s, dir, frameLen = 32, stride = 2)),

    // DCT perceptual-hash near-dup — the classic pHash next to the
    // aHash above: the signature is frequency STRUCTURE (the 63
    // non-DC coefficients of the 8×8 DCT block vs their median)
    // rather than per-point brightness, so it holds where aHash flips
    // bits (global brightness/contrast shifts move every sample AND
    // the mean together — the coefficient ORDER barely moves). Same
    // scale-safe candidate shape: pigeonhole banding over DISTINCT
    // signatures (ham ≤ 2 ⇒ one of 3 21-bit blocks equal — exact),
    // anchor-capped equi-joins, first-equal-block dedup, xor+popcount
    // verify. The 63-bit width is load-bearing at scale: the original
    // 15-bit form forced ~n/2¹⁵ media per signature at corpus scale
    // (birthday floor), so the ham ≤ 2 OUTPUT — and the survivors CC
    // fed from it — grew quadratically by pigeonhole alone (round-13
    // sf10 measurement: 60× time for 10× data, survivors OOM). At 2⁶³
    // only true near-dups collide, the 2²¹-value blocks saturate ~10⁵×
    // later than 5-bit ones, and the cap rail stays as the backstop.
    "multimodal_phash_dedup" -> ((s, dir) => {
      def blockBits(c: org.apache.spark.sql.Column, i: Int) =
        shiftrightunsigned(c, i * 21).bitwiseAND(lit((1L << 21) - 1))
      val d = Memo(s, "multimodal", dir, "phash")(
        MediaPipeline.phash(mediaNearDup(s, dir)).toDF().persist())
      val sigs = d.select("phash").distinct()
      val blocks = array((0 until 3).map { i =>
        struct(lit(i).as("blk"), blockBits(col("phash"), i).as("bits"))
      }: _*)
      val banded = sigs
        .select(col("phash"), explode(blocks).as("b"))
        .select(col("phash"), col("b.blk").as("blk"), col("b.bits").as("bits"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("blk"), col("bits")).orderBy(col("phash"))))
      val a = banded.filter(col("rk") <= graft.queries.DedupQueries.LshBucketCap)
        .select(col("blk"), col("bits"), col("phash").as("sha"))
      val b = banded.select(col("blk"), col("bits"), col("phash").as("shb"))
      val firstEqualBlock = (0 until 3).foldRight(lit(-1)) { (i, acc) =>
        when(blockBits(col("sha"), i) === blockBits(col("shb"), i), lit(i)).otherwise(acc)
      }
      val sigPairs = a.join(b, Seq("blk", "bits"))
        .filter(col("sha") < col("shb"))
        .filter(col("blk") === firstEqualBlock)
        .withColumn("ham", graft.functions.TextFunctions.hamming(col("sha"), col("shb")))
        .filter(col("ham") <= 2)
        .select("sha", "shb", "ham")
      val da = d.select(col("media_id").as("ida"), col("phash").as("sha"))
      val db = d.select(col("media_id").as("idb"), col("phash").as("shb"))
      val cross = sigPairs
        .join(da, "sha").join(db, "shb")
        .select(least(col("ida"), col("idb")).as("media_a"),
          greatest(col("ida"), col("idb")).as("media_b"), col("ham"))
      // equal-signature (ham = 0) pairs ride the SAME anchor rail as
      // the cross branch: equal 63-bit signatures are true duplicates
      // (identical decoded grids), and a duplicate-dense corpus still
      // concentrates many media per signature, where an uncapped
      // self-join grows quadratically per group — anchors (the cap
      // smallest ids per signature) pair with every member, so each
      // duplicate still surfaces through ≥ 1 anchor, mirrored in the
      // oracle
      val same = d.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("phash").orderBy("media_id")))
        .filter(col("rk") <= graft.queries.DedupQueries.LshBucketCap)
        .select(col("media_id").as("ida"), col("phash"))
        .join(d.select(col("media_id").as("idb"), col("phash")), "phash")
        .filter(col("ida") < col("idb"))
        .select(col("ida").as("media_a"), col("idb").as("media_b"), lit(0L).as("ham"))
      cross.unionByName(same)
    }),

    // survivor selection over the pHash near-dup graph — the
    // multimodal twin of dedup_survivors: transitive ham ≤ 2 clusters
    // (re-encodes of re-encodes) collapse to one canonical media_id
    // via the shared memoized pointer-jumping CC; shuffles are sized
    // by the PAIR GRAPH, never the media corpus
    "multimodal_phash_survivors" -> ((s, dir) =>
      Memo(s, "multimodal", dir, "phash_cc")(
        graft.ops.Graph.connectedComponents(
          queries("multimodal_phash_dedup")(s, dir)
            .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
          .select(col("node").as("media_id"), col("rep"))
          .persist()))
  )

  val oracles: Map[String, String] = Map(
    "multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(length(text) AS BIGINT) AS byte_len,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(substring(text, 1, 16), ''), c -> CAST(ascii(c) AS BIGINT))),
        |            (a, b) -> a + b) AS BIGINT) AS header_sum,
        |       CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS frame0,
        |       CAST(ascii(substring(text, length(text) // 2 + 1, 1)) AS BIGINT) AS frame_mid,
        |       CAST(ascii(substring(text, length(text), 1)) AS BIGINT) AS frame_last,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 2147483647) AS fp
        |FROM documents""".stripMargin,

    // sample i of 48 reads byte floor(i*n/48) (0-based) = character
    // i*n//48 + 1 (1-based); ASCII payloads make byte == character
    "multimodal_resize" ->
      """SELECT doc_id AS media_id,
        |       CAST(8 AS INTEGER) AS out_w, CAST(6 AS INTEGER) AS out_h,
        |       CAST(CASE WHEN length(text) = 0 THEN 0 ELSE 48 END AS BIGINT) AS out_len,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(range(0, CASE WHEN length(text) = 0 THEN 0 ELSE 48 END),
        |           i -> CAST(ascii(substring(text, CAST(i * length(text) // 48 AS INTEGER) + 1, 1)) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 2147483647) AS fp_resized
        |FROM documents""".stripMargin,

    // lateral range-unnest replicates the frame grid; ASCII payloads
    // make byte == character so substring arithmetic is byte-exact
    "multimodal_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       CAST(i AS INTEGER) AS frame_idx,
        |       CAST(i*32 AS BIGINT) AS frame_off,
        |       CAST(least(32, length(text) - i*32) AS BIGINT) AS frame_len,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(substring(text, CAST(i*32+1 AS INTEGER), 32), ''),
        |           c -> CAST(ascii(c) AS BIGINT))),
        |         (h, c) -> (h * 31 + c) % 2147483647) AS frame_fp
        |FROM documents, UNNEST(range(0, (length(text)+31)//32)) AS t(i)
        |WHERE i % 2 = 0""".stripMargin,

    "multimodal_audio_features" ->
      """SELECT doc_id AS media_id,
        |       CAST(length(text) AS BIGINT) AS n_samples,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text,''), c -> CAST(abs(ascii(c) - 64) AS BIGINT))),
        |         (a,b) -> a+b) AS BIGINT) AS sum_amp,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text,''), c -> CAST(abs(ascii(c) - 64) AS BIGINT))),
        |         (a,b) -> greatest(a,b)) AS BIGINT) AS peak_amp,
        |       CAST(len(list_filter(range(1, length(text)),
        |         i -> (ascii(substring(text, CAST(i AS INTEGER), 1)) - 64) * (ascii(substring(text, CAST(i+1 AS INTEGER), 1)) - 64) < 0)) AS BIGINT) AS zero_crossings
        |FROM documents""".stripMargin,

    // signature replicated byte-for-byte: sample i of 56 reads byte
    // ⌊i·n/56⌋ (= 1-based character i·n//56 + 1), bit set iff
    // 56·sample > Σsamples (strict, integer); pow(2,i) is a power of
    // two, exactly representable as DOUBLE for all i < 63. The planted
    // re-encodes replay as ascii(…) + 1 per sample — their signature
    // equality with the originals emerges from the arithmetic, never
    // assumed. Brute-force pairing is fine at oracle scale; the
    // engine's banding is recall-exact by pigeonhole so the outputs
    // coincide. (The engine's per-bucket distinct-signature anchor cap
    // has no mirror here — at 56 bits over 14-bit blocks a bucket
    // binding at 1024 distinct signatures would surface as a loud
    // verify failure, the documented contract; the 63-bit phash oracle
    // below mirrors its cap exactly.)
    "multimodal_ahash_dedup" ->
      s"""WITH d AS (
        |  SELECT doc_id AS media_id, text, length(text) AS n, 0 AS shift
        |  FROM documents WHERE length(text) > 0
        |  UNION ALL
        |  SELECT doc_id + $ReencodeIdOffset, text, length(text), 1
        |  FROM documents WHERE length(text) > 0 AND doc_id % $ReencodeEvery = 0),
        |v AS (
        |  SELECT media_id,
        |         list_transform(range(0, 56),
        |           i -> CAST(ascii(substring(text, CAST(i * n // 56 AS INTEGER) + 1, 1)) + shift AS BIGINT)) AS vs
        |  FROM d),
        |sg AS (
        |  SELECT media_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(0, 56), i ->
        |             CASE WHEN 56 * vs[CAST(i AS INTEGER) + 1]
        |                       > list_reduce(vs, (a, b) -> a + b)
        |                  THEN CAST(pow(2, i) AS BIGINT)
        |                  ELSE CAST(0 AS BIGINT) END)),
        |           (x, y) -> x + y) AS sig
        |  FROM v)
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS ham
        |FROM sg a JOIN sg b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,

    // same frame grid + fingerprint arithmetic as multimodal_frame_sample,
    // deduped per video before pairing; the hot-frame cap mirrors the
    // engine's heavy-hitter guard exactly (no fp approaches 1024 videos
    // at oracle scale, so the cap is exercised but drops nothing)
    "multimodal_video_neardup" ->
      s"""WITH fr AS (
        |  SELECT DISTINCT doc_id AS media_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(substring(text, CAST(i*32+1 AS INTEGER), 32), ''),
        |             c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h * 31 + c) % 2147483647) AS frame_fp
        |  FROM documents, UNNEST(range(0, (length(text)+31)//32)) AS t(i)
        |  WHERE i % 2 = 0),
        |keep AS (
        |  SELECT frame_fp FROM fr GROUP BY frame_fp HAVING count(*) <= $VideoHotFrameCap)
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |       CAST(count(*) AS BIGINT) AS shared_frames
        |FROM fr a JOIN fr b ON a.frame_fp = b.frame_fp AND a.media_id < b.media_id
        |WHERE a.frame_fp IN (SELECT frame_fp FROM keep)
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin,

    // full signature replay on the shared literal DCT table (the same
    // 64 integers as FakeCodec.DctCos — emitted from that array, so
    // the two can never drift), then signature-level pairing that
    // mirrors the engine's plan shape EXACTLY (round-14 advice): the
    // cross-signature branch caps by the smaller signature's
    // distinct-signature rank within its FIRST equal 21-bit block
    // bucket (the engine's anchor rail — previously only the same-sig
    // cap was mirrored, so a bucket beyond 1024 distinct signatures
    // would have diverged silently), the equal-signature branch by the
    // per-signature media rank
    "multimodal_phash_dedup" ->
      s"""WITH $phashPairCtes
         |SELECT media_a, media_b, ham FROM pp""".stripMargin,

    // recursive reachability over the pHash ham ≤ 2 pair set — the
    // signature + capped-pair chain replayed verbatim, then the same
    // least-id component labeling as the dedup survivor oracles
    "multimodal_phash_survivors" ->
      s"""WITH RECURSIVE $phashPairCtes,
         |e AS (SELECT media_a AS src, media_b AS dst FROM pp
         |      UNION SELECT media_b, media_a FROM pp),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r2.src, e2.dst FROM reach r2 JOIN e e2 ON r2.dst = e2.src)
         |SELECT src AS media_id, least(src, min(dst)) AS rep
         |FROM reach GROUP BY src""".stripMargin
  )

  /** The shared pHash oracle chain: planted-variant media (ascii + 1
    * per sampled character — see [[ReencodeEvery]]), decoded-grid
    * pooling, fixed-point DCT on the literal [[FakeCodec.DctCos]]
    * table, median signature, then BOTH pair branches of the engine's
    * plan — cross-signature pairs anchor-capped by distinct-signature
    * rank at the first equal 21-bit block, equal-signature pairs by
    * per-signature media rank. Heavy CTEs are MATERIALIZED: sg feeds
    * four consumers and DuckDB's default inlining would re-run the
    * DCT chain per reference. */
  private lazy val phashPairCtes: String = {
    val ctList = graft.multimodal.Multimodal.FakeCodec.DctCos
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ", ", "]")
    // decoded path: the fake decoder's pixel section is the whole
    // text on this corpus (ASCII, no NUL trailer — the codec-side
    // assumption phashBatch documents), resampled to a 32×32 luma
    // grid then 4×4 average-pooled as integer SUMS (÷16 would scale
    // all coefficients equally and move no bit): pooled cell k of 64
    // sums luma[(4·(k/8) + t/4)·32 + 4·(k%8) + t%4] for t ∈ [0,16)
    s"""d AS MATERIALIZED (
       |  SELECT doc_id AS media_id, text, length(text) AS n, 0 AS shift
       |  FROM documents WHERE length(text) > 0
       |  UNION ALL
       |  SELECT doc_id + $ReencodeIdOffset, text, length(text), 1
       |  FROM documents WHERE length(text) > 0 AND doc_id % $ReencodeEvery = 0),
       |v AS MATERIALIZED (
       |  SELECT media_id,
       |         list_transform(range(0, 64), k ->
       |           list_reduce(list_transform(range(0, 16), t ->
       |             CAST(ascii(substring(text,
       |               CAST(((4*(k//8) + t//4) * 32 + 4*(k%8) + t%4) * n // 1024 AS INTEGER) + 1,
       |               1)) + shift AS BIGINT)),
       |             (a, b) -> a + b)) AS vs
       |  FROM d),
       |ctab AS (SELECT $ctList AS ct),
       |co AS MATERIALIZED (
       |  SELECT v.media_id, u.u, w.w,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(range(0, 64), k ->
       |             vs[CAST(k AS INTEGER) + 1]
       |               * ct[CAST(8*u.u + k//8 AS INTEGER) + 1]
       |               * ct[CAST(8*w.w + (k%8) AS INTEGER) + 1])),
       |           (a, b) -> a + b) AS coef
       |  FROM v CROSS JOIN ctab
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS u) u
       |  CROSS JOIN (SELECT unnest(range(0, 8)) AS w) w
       |  WHERE NOT (u.u = 0 AND w.w = 0)),
       |med AS MATERIALIZED (
       |  SELECT media_id, coef AS m FROM (
       |    SELECT media_id, coef,
       |           row_number() OVER (PARTITION BY media_id ORDER BY coef) AS rn
       |    FROM co) WHERE rn = 32),
       |sg AS MATERIALIZED (
       |  SELECT co.media_id,
       |         CAST(sum(CASE WHEN co.coef > med.m
       |                       THEN CAST(pow(2, co.u * 8 + co.w - 1) AS BIGINT)
       |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |  FROM co JOIN med ON co.media_id = med.media_id
       |  GROUP BY co.media_id),
       |r AS MATERIALIZED (
       |  SELECT media_id, sig,
       |         row_number() OVER (PARTITION BY sig ORDER BY media_id) AS rn
       |  FROM sg),
       |sigs AS MATERIALIZED (SELECT DISTINCT sig FROM sg),
       |bd AS MATERIALIZED (
       |  SELECT sig, g.blk,
       |         row_number() OVER (
       |           PARTITION BY g.blk, (sig >> (21*g.blk)) & 2097151
       |           ORDER BY sig) AS srk
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS blk) g),
       |sp AS MATERIALIZED (
       |  SELECT a.sig AS sa, b.sig AS sb
       |  FROM sigs a JOIN sigs b ON a.sig < b.sig
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 2),
       |spf AS MATERIALIZED (
       |  SELECT sp.sa, sp.sb,
       |         min(CASE WHEN ((sp.sa >> (21*g.blk)) & 2097151)
       |                       = ((sp.sb >> (21*g.blk)) & 2097151)
       |                  THEN g.blk END) AS fblk
       |  FROM sp CROSS JOIN (SELECT unnest(range(0, 3)) AS blk) g
       |  GROUP BY sp.sa, sp.sb),
       |spc AS MATERIALIZED (
       |  SELECT f.sa, f.sb FROM spf f
       |  JOIN bd ON bd.sig = f.sa AND bd.blk = f.fblk
       |  WHERE bd.srk <= ${graft.queries.DedupQueries.LshBucketCap}),
       |pp AS MATERIALIZED (
       |  SELECT least(da.media_id, db.media_id) AS media_a,
       |         greatest(da.media_id, db.media_id) AS media_b,
       |         CAST(bit_count(xor(c.sa, c.sb)) AS BIGINT) AS ham
       |  FROM spc c JOIN sg da ON da.sig = c.sa JOIN sg db ON db.sig = c.sb
       |  UNION ALL
       |  SELECT a.media_id, b.media_id, CAST(0 AS BIGINT)
       |  FROM r a JOIN r b ON a.sig = b.sig AND a.media_id < b.media_id
       |  WHERE a.rn <= ${graft.queries.DedupQueries.LshBucketCap})""".stripMargin
  }
}
