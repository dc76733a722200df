package graft.queries
import graft.Tables
import graft.operators.{AsofJoin, Chunking, Dedup, Multimodal, Profiler, RangeJoin, Rollup, Sampling, Similarity, Sketches, Skew, TextAnalysis, TimeSeries, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PackShared._

/** Corpus operations: sampling/splitting/mixing, token budgets, sketches (KMV/HLL/CMS/Bloom), layout (z-order, bucketing), SCD2/snapshots, data-quality gates, serde round-trips, skew tooling.
  *
  * Conventions: every computed column aliased identically on both
  * engines, deterministic ORDER BY, exact-decimal float sums — see
  * [[QueryPack]]. */
object CorpusPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // URL extraction metrics (C4-family web-corpus stage). The corpus has
    // no URLs, so both engines PLANT them doc_id-derived: a per-mod-20
    // example.com URL for most docs (doc_id % 11 != 0 — the rest exercise
    // the empty-extraction path), plus a bad.net URL on every third doc.
    // Pure RE2-portable regexp expressions; sorted-distinct domains as csv.
    "q63_url_metrics" -> ((s, d) => {
      TextAnalysis.urlMetrics(plantUrls(Tables.documents(s, d)), "doc_id", "text")
        .select(col("doc_id"), col("n_urls"),
          array_join(col("domains"), ",").as("domains_csv"))
        .orderBy(col("doc_id"))
    }),

    // Domain-blocklist filtering over the same planted corpus: docs whose
    // URL domain is on the (broadcast) blocklist are dropped. blocked{0,1,2}
    // .bad.net are listed, blocked{3,4}.bad.net are not — survivors are the
    // non-planted docs plus bad-URL docs whose mod-5 variant is unlisted.
    "q64_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val blocklist = Seq("blocked0.bad.net", "blocked1.bad.net", "blocked2.bad.net")
        .toDF("domain")
      TextAnalysis.filterByDomainBlocklist(
        plantUrls(Tables.documents(s, d)), "doc_id", "text", blocklist)
        .orderBy(col("doc_id"))
    }),

    // Bucketed range join: every 100th event defines a 1-hour interval;
    // all events landing inside any interval pair with it — expressed as
    // the bucket EQUI-join (+ residual filter), never a BNLJ over the
    // range predicate. Integer-micro timestamps in both engines.
    "q69_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val points = ev.select(col("event_id").as("point_id"), unix_micros(col("ts")).as("t"))
      val intervals = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").as("interval_id"),
          unix_micros(col("ts")).as("ival_start"),
          (unix_micros(col("ts")) + lit(3600000000L)).as("ival_end"))
      RangeJoin.pointsInIntervals(points, "t", intervals, "ival_start", "ival_end",
        bucketWidth = 3600000000L)
        .select(col("interval_id"), col("point_id"))
        .orderBy(col("interval_id"), col("point_id"))
    }),

    // Interval-overlap join between two event-derived interval sets (2-hour
    // windows of every 50th event vs 1-hour windows of every 70th): bucket
    // equi-join + first-shared-bucket residual, exactly one row per
    // overlapping pair, no distinct pass, no BNLJ.
    "q70_interval_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def ivals(mod: Int, lenUs: Long, idName: String, sName: String, eName: String) =
        ev.filter(col("event_id") % mod === 0)
          .select(col("event_id").as(idName),
            unix_micros(col("ts")).as(sName),
            (unix_micros(col("ts")) + lit(lenUs)).as(eName))
      RangeJoin.intervalOverlaps(
        ivals(50, 7200000000L, "a_id", "a_start", "a_end"), "a_start", "a_end",
        ivals(70, 3600000000L, "b_id", "b_start", "b_end"), "b_start", "b_end",
        bucketWidth = 3600000000L)
        .select(col("a_id"), col("b_id"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // Per-group token budgets (the form mixtures are written in): German
    // gets a tight budget, everything else a loose default — same
    // hash-order walk as q73, different cut per stratum.
    "q82_token_budget_by_group" -> ((s, d) =>
      Sampling.tokenBudgetSampleByGroup(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", "lang",
        budgets = Seq("de" -> 800L), defaultBudget = 4000L, salt = "mix-v2")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    // Time-series resample + forward fill: irregular per-user events onto
    // a daily grid, gaps carrying the last observed value — keyed shuffles
    // and per-key windows only, grid bounded by span/bucket.
    "q79_resample_ffill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      TimeSeries.resampleForwardFill(ev, "user_id", "t", "event_id",
        bucketWidth = 86400000000L)
        .orderBy(col("user_id"), col("bucket"))
    }),

    // Fact-fact join THROUGH the bucketed table layout: both sides
    // written bucketed on the join key, joined and aggregated off the
    // catalog tables — the zero-exchange co-location path under the value
    // oracle (the plan assertion lives in BucketedWriteSpec). Re-entrant:
    // overwrite-mode writes, so bench re-runs are safe.
    "q76_bucketed_join" -> ((s, d) => {
      import graft.sinks.BucketedWrite
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"))
      val ord = Tables.orders(s, d)
        .select(col("o_custkey").as("user_id"), col("o_orderkey"))
      BucketedWrite.writeBucketed(ev, "g76_events", numBuckets = 8, bucketCols = Seq("user_id"))
      BucketedWrite.writeBucketed(ord, "g76_orders", numBuckets = 8, bucketCols = Seq("user_id"))
      s.table("g76_events").join(s.table("g76_orders"), "user_id")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), max(col("o_orderkey")).as("max_order"))
        .orderBy(col("user_id"))
    }),

    // Skew-proof per-key row cap (the "at most k docs per domain" gate):
    // salted two-phase top-k, never a hot-key row_number window; the
    // kept-pair join is SMJ-pinned. Oracle: the window formulation.
    "q71_cap_per_key" -> ((s, d) =>
      Skew.capPerKey(
        Tables.events(s, d).select(col("user_id"), col("event_id")),
        Seq("user_id"), "event_id", k = 3)
        .orderBy(col("user_id"), col("event_id"))),

    // Token-budget mixture cut per language: deterministic hash order,
    // two-phase distributed prefix sum (never one window task per group),
    // keep while the exclusive prefix is under budget. The oracle is the
    // single-window formulation of the same arithmetic.
    "q73_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", Seq("lang"), budgetTokens = 5000L, salt = "mix-v1")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))),

    // Salted aggregation: the skew-proof two-phase plan must be value-equal
    // to the direct aggregation (the oracle aggregates directly).
    "q36_salted_agg" -> ((s, d) => {
      Skew.saltedSumCount(
        Tables.lineitem(s, d),
        keys = Seq(col("l_returnflag")),
        sumCols = Seq("sum_qty" -> col("l_quantity"), "sum_price" -> col("l_extendedprice")),
        saltSource = col("l_orderkey"),
        saltBuckets = 16)
        .select(col("l_returnflag"), col("cnt"), col("sum_qty"), col("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Typed UDAF (Aggregator) surface: price-weighted mean quantity; exact
    // decimal partials make the custom aggregate engine- and
    // partitioning-independent (oracle = plain SQL decimal aggregate).
    "q38_weighted_mean" -> ((s, d) => {
      val wm = graft.functions.WeightedMean.udaf
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(wm(col("l_quantity"), col("l_extendedprice")).as("wmean_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Multimodal binary plumbing under the oracle gate: text bytes as the
    // opaque media column, probed in the vectorized EXPRESSION form
    // (length/md5/hex stay inside WholeStageCodegen; the batch-shaped
    // mapPartitions sibling is value-identical and spec-pinned against it).
    "q41_multimodal_probe" -> ((s, d) => {
      val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        lit("text/plain").as("mime"),
        encode(col("text"), "UTF-8").as("content"),
        lit(null).cast("struct<width:int,height:int,duration_ms:bigint>").as("meta"))
      Multimodal.probeBytesExpr(media, headLen = 8)
        .orderBy(col("media_id"))
    }),

    // REAL audio-leg gate (r14): raw PCM16LE needs no codec library, so
    // this leg runs actual byte decode — synthesize s16le audio per doc
    // from a closed-form integer signal (real little-endian bytes via
    // the fused native `PcmExpressions.synthPcm16` kernel), then extract RMS / peak /
    // zero-crossings / frame-energy activity via the fused `PcmExpressions.pcmStats`.
    // The oracle regenerates the sample VALUES from the same formula
    // (never parsing bytes), so the hash gate proves the byte round-trip
    // AND the feature math: one drifted two's-complement bit, sign rule,
    // or frame boundary fails it.
    "q282_audio_features" -> ((s, d) => {
      val pcm = Multimodal.synthPcm16(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      Multimodal.audioFeatures(pcm, "audio",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("n_frames"), col("active_frames"),
          col("activity"))
        .orderBy(col("doc_id"))
    }),

    // Sample-rate conversion (r15): the 8 kHz-telephony → model-rate
    // step between the G.711 legs and a usable speech pipeline. The
    // 8000→12000 ratio (3/2) exercises both exact-hit (frac=0) and
    // interpolated (frac=4000/8000) output positions; the oracle
    // regenerates every RESAMPLED sample from the closed-form input
    // signal with the same integer floor-div interpolation, then
    // aggregates exact stats — one drifted index, fraction, or floor
    // fails the hash. Pure per-row fused-kernel projection chain
    // (synth → resample → stats): zero shuffle at any scale.
    "q299_resample_pcm16" -> ((s, d) => {
      val pcm = Multimodal.synthPcm16(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      pcm.select(col("doc_id"),
          graft.functions.PcmExpressions.pcmStats(
            graft.functions.PcmExpressions.resamplePcm16(col("audio"), 8000, 12000),
            160, 1L << 36).as("__st"))
        .select(col("doc_id"),
          element_at(col("__st"), 1).as("n_samples"),
          element_at(col("__st"), 2).as("sum_sq"),
          element_at(col("__st"), 3).as("peak"),
          element_at(col("__st"), 4).as("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // The FULL telephony ingest chain as one gate (r15): synthetic
    // G.711 µ-law codes → fused decode → fused 8→16 kHz resample →
    // fused stats — three kernel passes per row, zero shuffle. The
    // oracle replays the decode formula AND the floor-div interpolation
    // per output sample; one drifted bit anywhere in the chain fails it.
    "q310_telephony_chain" -> ((s, d) => {
      val mu = Multimodal.synthMulaw(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      Multimodal.decodeMulaw(mu, "mulaw")
        .select(col("doc_id"),
          graft.functions.PcmExpressions.pcmStats(
            graft.functions.PcmExpressions.resamplePcm16(col("pcm"), 8000, 16000),
            160, 1L << 36).as("__st"))
        .select(col("doc_id"),
          element_at(col("__st"), 1).as("n_samples"),
          element_at(col("__st"), 2).as("sum_sq"),
          element_at(col("__st"), 3).as("peak"),
          element_at(col("__st"), 4).as("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // Energy-VAD speech segmentation (r15): the utterance-extraction
    // step after decode/resample — per doc a composite signal (ramp A,
    // one constant low-energy frame, ramp B) so the gate exercises ALL
    // the VAD mechanics on real variety (2-3 segments/doc, spans 3..40,
    // 186 in-corpus hangover merges across the single low frame, 24
    // min-span drops at sf0.01). The oracle replays frame energies from
    // the closed form and runs one gaps-and-islands pass with the same
    // merge/filter rule — a drifted frame boundary, strictness, gap or
    // span rule fails the hash. Pure per-row fused kernel + posexplode:
    // zero shuffle at any scale.
    "q311_vad_segments" -> ((s, d) => {
      val pcm = Tables.documents(s, d).select(col("doc_id"),
        concat(
          graft.functions.PcmExpressions.synthPcm16(col("doc_id").cast("long"), 4800),
          graft.functions.PcmExpressions.synthPcm16(lit(1057L), 160),
          graft.functions.PcmExpressions.synthPcm16(
            col("doc_id").cast("long") * 3 + 7, 4800)).as("audio"))
      Multimodal.speechSegments(pcm, "audio", frameSamples = 160,
          energyThreshold = 5760000000L, maxGapFrames = 1, minSpanFrames = 3)
        .select(col("doc_id"), col("seg_idx"), col("start_frame"), col("span_frames"))
        .orderBy(col("doc_id"), col("seg_idx"))
    }),

    // The UTTERANCE-EXTRACTION chain (r15): q311's segments drive real
    // BYTE slicing — each segment's PCM is cut out of the stream
    // (start_frame·320 bytes in, span·320 long) and re-analyzed with the
    // fused stats kernel. The oracle aggregates the same sample ranges
    // from the closed form, so a segment index that doesn't address
    // exactly its own bytes (off-by-one frame, byte-vs-sample confusion)
    // fails the hash. Chain of three per-row kernels + one posexplode —
    // zero shuffle at any scale.
    "q318_utterance_chain" -> ((s, d) => {
      val pcm = Tables.documents(s, d).select(col("doc_id"),
        concat(
          graft.functions.PcmExpressions.synthPcm16(col("doc_id").cast("long"), 4800),
          graft.functions.PcmExpressions.synthPcm16(lit(1057L), 160),
          graft.functions.PcmExpressions.synthPcm16(
            col("doc_id").cast("long") * 3 + 7, 4800)).as("audio"))
      Multimodal.speechSegments(pcm, "audio", frameSamples = 160,
          energyThreshold = 5760000000L, maxGapFrames = 1, minSpanFrames = 3)
        .select(col("doc_id"), col("seg_idx"),
          graft.functions.PcmExpressions.pcmStats(
            col("audio").substr(
              (col("start_frame") * 320 + 1).cast("int"),
              (col("span_frames") * 320).cast("int")),
            160, 5760000000L).as("__st"))
        .select(col("doc_id"), col("seg_idx"),
          element_at(col("__st"), 1).as("n_samples"),
          element_at(col("__st"), 2).as("sum_sq"),
          element_at(col("__st"), 3).as("peak"),
          element_at(col("__st"), 4).as("zero_crossings"))
        .orderBy(col("doc_id"), col("seg_idx"))
    }),

    // PEAK normalization (r15): the loudness-alignment step before
    // mixed-gain captures are comparable — every stream rescaled so
    // max|s| = 16384 by exact floor-div integer scaling. The oracle
    // re-derives each doc's peak and every normalized sample with the
    // explicit SQL floor-div idiom, then aggregates stats — a drifted
    // peak, rounding mode, or sign rule fails the hash. Two fused
    // kernel passes per row, zero shuffle.
    "q321_gain_normalize" -> ((s, d) => {
      val pcm = Multimodal.synthPcm16(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      pcm.select(col("doc_id"),
          graft.functions.PcmExpressions.pcmStats(
            graft.functions.PcmExpressions.gainNormalize(col("audio"), 16384),
            160, 1L << 36).as("__st"))
        .select(col("doc_id"),
          element_at(col("__st"), 1).as("n_samples"),
          element_at(col("__st"), 2).as("sum_sq"),
          element_at(col("__st"), 3).as("peak"),
          element_at(col("__st"), 4).as("zero_crossings"))
        .orderBy(col("doc_id"))
    }),

    // STEREO handling (r15): the synth stream read as interleaved L/R —
    // floorDiv-average downmix to mono plus per-channel extraction, all
    // three legs re-analyzed with the fused stats kernel. The oracle
    // regenerates L_i/R_i from the closed form at positions 2i/2i+1 and
    // replays the floor-div average — a drifted interleave offset, pair
    // boundary, or rounding mode fails the hash. Three fused kernel
    // chains per row, zero shuffle.
    "q323_stereo_downmix" -> ((s, d) => {
      val pcm = Multimodal.synthPcm16(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 960)
      val st = (c: org.apache.spark.sql.Column) =>
        graft.functions.PcmExpressions.pcmStats(c, 160, 1L << 36)
      pcm.select(col("doc_id"),
          st(graft.functions.PcmExpressions.stereoDownmix(col("audio"))).as("__m"),
          st(graft.functions.PcmExpressions.deinterleave(col("audio"), 0)).as("__l"),
          st(graft.functions.PcmExpressions.deinterleave(col("audio"), 1)).as("__r"))
        .select(col("doc_id"),
          element_at(col("__m"), 1).as("n_samples"),
          element_at(col("__m"), 2).as("mono_sum_sq"),
          element_at(col("__m"), 3).as("mono_peak"),
          element_at(col("__m"), 4).as("mono_zc"),
          element_at(col("__l"), 2).as("left_sum_sq"),
          element_at(col("__r"), 2).as("right_sum_sq"))
        .orderBy(col("doc_id"))
    }),

    // q282's audio card driven CONTINUOUSLY (r15): synthetic PCM rows
    // drained through the per-shard O(1) audio-quality fold (same fused
    // stats kernel row for row), max-epoch snapshots merged and
    // finished with the batch card's quantized rms/activity divisions —
    // the readout must be bit-identical to q282's closed form
    // aggregated globally.
    "q328_streaming_audio" -> ((s, d) => {
      import s.implicits._
      val staged = Multimodal.synthPcm16(
          Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
        .select(pmod(col("doc_id"), lit(4)).cast("int").as("_1"),
          col("doc_id").cast("long").as("_2"),
          col("audio").as("_3"))
      val snaps = PackShared.drainStaged(s, staged, "q328_sink", "q328-audio")(
        in => graft.streaming.StreamingAudioMonitor
          .stats(in.as[(Int, Long, Array[Byte])], frameSamples = 160,
            energyThreshold = 1L << 36)
          .toDF("shard", "epoch", "n_rows", "n_samples", "sum_sq", "peak",
            "zero_crossings", "n_frames", "active_frames"))
      graft.streaming.StreamingAudioMonitor.readout(snaps)
    }),

    // q338's container audit driven CONTINUOUSLY (r17): synthetic WARC
    // shards (same plants — member-CRC tamper every 11th, wholesale
    // corruption every 43rd) drained through a real readStream into the
    // per-group O(1) container-health fold (same fused WarcKernel walk
    // row for row), max-epoch snapshots merged — the readout must equal
    // q338's closed-form plants aggregated globally, bit for bit. The
    // live crawl-intake health card: a fetcher gone bad surfaces within
    // a micro-batch, not at the nightly audit.
    "q343_streaming_container" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(4))).cast("int").as("n_rec"),
        (col("doc_id") % 11 === 0).as("corrupt_crc"))
      val staged = Multimodal.syntheticWarcShards(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAWARC".getBytes("US-ASCII")))
            .otherwise(col("content")))
        .select(pmod(col("media_id"), lit(4)).cast("int").as("_1"),
          col("media_id").cast("long").as("_2"), col("content").as("_3"))
      val snaps = PackShared.drainStaged(s, staged, "q343_sink", "q343-container")(
        in => graft.streaming.StreamingContainerMonitor
          .stats(in.as[(Int, Long, Array[Byte])])
          .toDF("group", "epoch", "n_rows", "bad_rows", "n_members",
            "n_records", "n_response", "n_http_ok", "content_total",
            "n_crc_bad"))
      graft.streaming.StreamingContainerMonitor.readout(snaps)
    }),

    // Charset sniff + STRICT UTF-8 validation (r17): the encoding gate
    // that fronts every text operator — raw bytes in planted encodings
    // (UTF-16LE/BE BOMs, UTF-8 with multibyte suffixes of known
    // code-point counts, a UTF-8 BOM plant, raw 0xFF junk bytes) through
    // the full RFC 3629 strict table. The oracle regenerates every count
    // closed-form (DuckDB length() counts code points), so a wrong
    // continuation range, overlong acceptance, surrogate admission, BOM
    // step, or resync rule fails the hash.
    "q344_charset_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("text"))
      val media = Multimodal.encodedDocuments(ids)
      Multimodal.charsetInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("encoding"), col("n_chars"),
          col("n_invalid"), col("n_multibyte"), col("has_bom"))
        .orderBy(col("doc_id"))
    }),

    // robots.txt politeness decisions (r17, RFC 9309): the frontier
    // gate companion of the q338/q341 ingestion legs. Planted robots
    // files exercise group selection (a named token must use ONLY its
    // own group — star rules are not inherited), longest-match rule
    // resolution with a $-anchored Allow overriding a shorter Disallow,
    // per-group Crawl-delay, and the protocol's PERMISSIVE failure
    // posture: every 43rd doc's robots is an HTML error page, which
    // must decide allow-with-no-delay (the deliberate contrast with the
    // container walks' fail-loud rule). The oracle regenerates every
    // decision closed-form from the plant formulas.
    "q345_robots_decisions" -> ((s, d) => {
      val k = Tables.documents(s, d).select(col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("kind"))
      val robots = when(col("doc_id") % 43 === 0,
          lit("<html>server error 500</html>"))
        .otherwise(concat(
          lit("# synthetic robots\nUser-agent: *\nDisallow: /private/\n"),
          when(col("doc_id") % 3 === 0, lit("Allow: /private/ok$\n"))
            .otherwise(lit("")),
          lit("Crawl-delay: "),
          (lit(1) + pmod(col("doc_id"), lit(7))).cast("string"),
          lit("\n\nUser-agent: graftbot\nDisallow: /g"),
          pmod(col("doc_id"), lit(5)).cast("string"), lit("/\n")))
      val path = when(col("kind") === 0, lit("/public/x"))
        .when(col("kind") === 1, lit("/private/x"))
        .when(col("kind") === 2, lit("/private/ok"))
        .otherwise(concat(lit("/g"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit("/y")))
      val df = k.withColumn("robots", robots).withColumn("path", path)
      val star = TextAnalysis.robotsDecision(df, "robots", "path", "anybot", "anybot")
      TextAnalysis.robotsDecision(star, "robots", "path", "graftbot", "bot")
        .select(col("doc_id"), col("path"), col("anybot_allowed"),
          col("anybot_delay"), col("bot_allowed"))
        .orderBy(col("doc_id"))
    }),

    // Zip archive leg (r17, the dataset-distribution container):
    // central-directory-FIRST walk (EOCD from the tail, directory walk,
    // per-entry stream verification at the recorded local-header
    // offset — the seekability property that lets a reader list a
    // terabyte archive reading kilobytes), with REAL inflate + CRC32
    // verification per entry and both methods (stored/deflate) planted
    // in every archive. Every 11th doc's LAST directory CRC is flipped:
    // n_crc_bad must tick with every other tally intact. Every 43rd
    // doc's bytes are corrupted wholesale and must pass flagged.
    "q346_zip_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(3))).cast("int").as("n_ent"),
        (col("doc_id") % 11 === 0).as("tamper_crc"))
      val media = Multimodal.zipArchives(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAZIP!".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.zipInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_zip"), col("n_entries"),
          col("n_stored"), col("total_usize"), col("n_crc_bad"),
          col("n_verify_fail"))
        .orderBy(col("doc_id"))
    }),

    // TFRecord shard leg (r17, q339's sibling — the OTHER mainstream
    // training-shard container): real masked-CRC32C framing (the
    // snappy/LevelDB rotation, JDK CRC32C) through the fused walk with
    // the two checksum channels' DISTINCT audit semantics — a lying
    // length CRC fails the row (framing is untrusted), a lying data CRC
    // counts the record and ticks n_crc_bad. Every 11th doc's LAST
    // data-CRC byte is flipped; every 43rd doc's bytes are corrupted
    // wholesale and must pass flagged.
    "q347_tfrecord_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(4))).cast("int").as("n_rec"),
        (col("doc_id") % 11 === 0).as("tamper_crc"))
      val media = Multimodal.tfrecordShards(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTATFRECORD".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.tfrecordInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_tfrecord"),
          col("n_records"), col("total_bytes"), col("n_crc_bad"))
        .orderBy(col("doc_id"))
    }),

    // safetensors header audit (r17, the model-artifact leg): real
    // format bytes (u64 header length, JSON header, packed data)
    // through a real JSON parse + the format's offset-tiling integrity
    // contract — spans must equal shape × dtype_size and tile the data
    // region exactly, data bytes never read. Checkpoint integrity is
    // fail-loud: every 11th doc's artifact is truncated by ONE byte and
    // must fail the whole row (unlike the container tallies' tamper
    // channels); every 43rd doc's bytes are corrupted wholesale.
    "q348_safetensors_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(4))).cast("int").as("n_t"),
        (col("doc_id") % 5 === 0).as("with_meta"),
        (col("doc_id") % 11 === 0).as("truncate_data"))
      val media = Multimodal.safetensorsArtifacts(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTASAFET".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.safetensorsInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_safetensors"),
          col("n_tensors"), col("data_bytes"), col("n_f32"), col("n_f16"),
          col("max_rank"), col("has_metadata"))
        .orderBy(col("doc_id"))
    }),

    // Proto wire-format walk (r17, q347's payload layer): tf.Example
    // messages are proto wire format, and the schema-free audit is the
    // self-delimiting wire walk — varint tags/values, length-delimited
    // steps, fixed-width steps. Fail-loud framing: every 11th doc's
    // message gains an unterminated trailing field and must flag; every
    // 43rd doc's bytes are corrupted wholesale (the first byte decodes
    // to an invalid wire type).
    "q349_proto_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(2) + pmod(col("doc_id"), lit(4))).cast("int").as("n_f"),
        (col("doc_id") % 11 === 0).as("truncate_field"))
      val media = Multimodal.protoMessages(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAPROTO".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.protoInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_proto"), col("n_fields"),
          col("n_varint"), col("n_len"), col("varint_sum"), col("len_total"))
        .orderBy(col("doc_id"))
    }),

    // Parquet footer audit (r18, the r17 verdict's #3): the container
    // family's capstone on the format the lake ITSELF stores. Synthetic
    // single-column parquet files (REAL thrift-compact footers +
    // PLAIN INT64 pages, parquet-mr-readable — ParquetFooterSpec pins
    // the parity) through the fused footer walk: magic both ends,
    // bounded footer length, FileMetaData parse to row groups and
    // column chunks, and the chunk-region tiling contract, data pages
    // never read. Every 11th doc ships an honest data section under a
    // LYING footer (last chunk's region slid across a boundary):
    // tiling_ok must read false with tallies intact. Every 43rd doc's
    // bytes are corrupted wholesale and must fail the row.
    "q350_parquet_footer" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (col("doc_id") % 11 === 0).as("lie_overlap"))
      val media = Multimodal.syntheticParquetFiles(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAPARQ".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.parquetFooterInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_parquet"),
          col("n_row_groups"), col("n_columns"), col("n_rows"),
          col("n_chunks"), col("tiling_ok"))
        .orderBy(col("doc_id"))
    }),

    // The WAV container layer end-to-end (r14): synth PCM → canonical
    // RIFF wrap → parse (magic/fmt verification, body extraction) →
    // features off the EXTRACTED body, with every 43rd container
    // replaced by junk that must degrade to wav_valid=false with null
    // features — the corrupt-blob contract — while clean rows reproduce
    // q282's feature math plus the header constants.
    "q283_wav_container" -> ((s, d) => {
      val pcm = Multimodal.synthPcm16(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      val wav = Multimodal.wrapWav(pcm, "audio", sampleRate = 8000)
        .select(col("doc_id"),
          when(col("doc_id") % 43 === 0, lit("NOTAWAVFILE!".getBytes("US-ASCII")))
            .otherwise(col("wav")).as("wav"))
      Multimodal.audioFeatures(Multimodal.parseWav(wav, "wav"), "pcm",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("wav_valid"), col("sample_rate"),
          col("data_bytes"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("activity"))
        .orderBy(col("doc_id"))
    }),

    // G.711 µ-law decode end-to-end (r14): the telephony codec is pure
    // integer math (complement / unpack / bias), so this audio FORMAT
    // decode is real with zero dependencies — synth µ-law codes per doc,
    // transcode to PCM16 in one fused kernel, extract features. The
    // oracle replays the ITU decode formula per code and the feature
    // math — one wrong bias, shift, or sign rule fails the hash gate.
    "q284_mulaw_decode" -> ((s, d) => {
      val mu = Multimodal.synthMulaw(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      Multimodal.audioFeatures(Multimodal.decodeMulaw(mu, "mulaw"), "pcm",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("activity"))
        .orderBy(col("doc_id"))
    }),

    // Frame extraction from a concatenated image stream (r14): per doc,
    // three REAL PNGs (ImageIO-encoded from the closed-form gray
    // formula) are concatenated into one binary "capture", split back by
    // the fused magic-scan, and each frame REAL-decoded — the video-leg
    // shape (container split → per-frame decode → per-frame features)
    // with the only codec the JDK ships. The oracle regenerates each
    // frame's pixel sum from the formula: a wrong split boundary, frame
    // order, or decode drift fails the hash gate.
    "q285_frame_stream" -> ((s, d) => {
      val frameIds = Tables.documents(s, d).select(col("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select((col("doc_id") * 4 + col("j")).as("media_id"),
          (col("doc_id") * 3 + col("j")).as("seed"), lit(false).as("perturb"))
      val streams = Multimodal.syntheticGrayPngs(frameIds)
        .select(expr("media_id div 4").as("doc_id"),
          pmod(col("media_id"), lit(4L)).as("j"), col("content"))
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("j"), col("content"))).as("__fl"))
        .select(col("doc_id"),
          aggregate(
            transform(array_sort(col("__fl")), f => f.getField("content")),
            lit(Array.empty[Byte]), (acc, b) => concat(acc, b)).as("stream"))
      val frames = Multimodal.splitFrameStream(streams, "stream")
        .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
      Multimodal.decodeImages(
          frames.select((col("doc_id") * 4 + col("frame_idx")).as("media_id"),
            col("frame").as("content")),
          includePixels = true)
        .select(expr("media_id div 4").as("doc_id"),
          pmod(col("media_id"), lit(4L)).cast("int").as("frame_idx"),
          col("decoded"), col("width"), col("height"),
          aggregate(col("argb"), lit(0L),
            (acc, x) => acc + x.bitwiseAND(lit(255)).cast("long")).as("gray_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL image resize under the gate (r14): synthetic PNGs downscaled
    // 8×8 → 4×4 by explicit nearest-neighbor index mapping, re-encoded
    // PNG, re-decoded — the oracle samples the gray formula at the
    // mapped indices (src = 2·dst), so a drifted sampling rule, encode
    // loss, or axis swap fails the hash gate. Every 41st doc's bytes
    // are corrupted first and must pass through flagged.
    "q286_image_resize" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("doc_id").as("seed"),
        lit(false).as("perturb"))
      val media = Multimodal.syntheticGrayPngs(ids)
        .withColumn("content",
          when(col("media_id") % 41 === 0, lit("NOTAPNG".getBytes("US-ASCII")))
            .otherwise(col("content")))
      val resized = Multimodal.resizeImages(media, width = 4, height = 4)
      Multimodal.decodeImages(
          resized.select(col("media_id"), col("content")), includePixels = true)
        .join(resized.select(col("media_id"), col("resized")), "media_id")
        .select(col("media_id").as("doc_id"), col("resized"), col("decoded"),
          col("width"), col("height"),
          when(col("decoded"),
            aggregate(col("argb"), lit(0L),
              (acc, x) => acc + x.bitwiseAND(lit(255)).cast("long"))).as("gray_sum"))
        .orderBy(col("doc_id"))
    }),

    // JPEG leg (r16): synth PNGs (8×8; every 3rd nearest-neighbor
    // resized to 4×4 first) → REAL ImageIO JPEG re-encode at explicit
    // quality → fused SOI/SOFn header parse. The CONTAINER is
    // deterministic from the input dims, so the oracle regenerates
    // is_jpeg/width/height from the plant formulas — a wrong encoder,
    // marker walk, or dimension byte order fails the hash. The lossy
    // PIXEL path is spec-pinned per JDK (JpegSpec), not DuckDB-gated.
    // Every 43rd doc's bytes are corrupted first and must pass through
    // flagged with null dims.
    "q334_jpeg_dims" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("doc_id").as("seed"),
        lit(false).as("perturb"))
      val media = Multimodal.syntheticGrayPngs(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAJPEG".getBytes("US-ASCII")))
            .otherwise(col("content")))
      val small = Multimodal
        .resizeImages(media.filter(col("media_id") % 3 === 0), width = 4, height = 4)
        .drop("resized")
      val mixed = media.filter(col("media_id") % 3 =!= 0).unionByName(small)
      val jp = Multimodal.transcodeJpeg(mixed)
      Multimodal.jpegDims(
          jp.select(col("media_id"), col("transcoded"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("transcoded"), col("is_jpeg"),
          col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),

    // MP3 container leg (r17, the q334 mold on audio): synthetic MPEG
    // Layer III streams — REAL published framing bytes, ID3v2 tag on
    // every 5th, MPEG2 on every 7th, mono on evens, bitrate/rate/frame
    // count planted from doc_id — through the fused frame-header walk.
    // The oracle regenerates every field from the plant formulas with
    // ITS OWN bitrate/samplerate tables, so a wrong table entry, sync
    // mask, frame-size step, ID3 skip, or duration rounding fails the
    // hash. The payload decode is env-blocked (the JDK ships no MP3
    // decoder — dated probe in SURVEY §8.3; Mp3Spec pins the block).
    // Every 43rd doc's bytes are corrupted and must pass flagged.
    "q335_mp3_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 7 === 0, lit(2)).otherwise(lit(1)).cast("int").as("version"),
        (lit(1) + pmod(col("doc_id"), lit(14))).cast("int").as("bitrate_idx"),
        pmod(col("doc_id"), lit(3)).cast("int").as("rate_idx"),
        (lit(2) + pmod(col("doc_id"), lit(4))).cast("int").as("n_frames"),
        (col("doc_id") % 5 === 0).as("with_id3"),
        (col("doc_id") % 2 === 0).as("mono"))
      val media = Multimodal.syntheticMp3s(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTANMP3".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.mp3Info(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_mp3"), col("version"),
          col("sample_rate"), col("bitrate_kbps"), col("channels"),
          col("n_frames"), col("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // Ogg/Opus container leg (r17, q335's sibling): synthetic
    // Opus-in-Ogg streams — REAL RFC 3533/7845 pages with real Ogg
    // CRC-32s, OpusHead BOS, 48 kHz granule positions — through the
    // CRC-VERIFYING fused page walk. Every 11th doc's LAST audio page
    // gets a flipped CRC byte: the walk must stop there, so the CRC
    // check is gate-visible through n_pages/last_granule/duration (a
    // parser that skips CRC fails the hash). Every 43rd doc's bytes are
    // corrupted wholesale and must pass flagged. The payload decode is
    // env-blocked (no JDK Opus decoder — OggSpec pins the dated probe).
    "q336_ogg_opus_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(2))).cast("int").as("channels"),
        (lit(312) + pmod(col("doc_id"), lit(100))).cast("int").as("pre_skip"),
        (lit(1) + pmod(col("doc_id"), lit(3))).cast("int").as("n_audio_pages"),
        (lit(960) * (lit(1) + pmod(col("doc_id"), lit(4)))).cast("int").as("samples_per_page"),
        (col("doc_id") % 11 === 0).as("corrupt_crc"))
      val media = Multimodal.syntheticOpusOggs(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTANOGG".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.oggInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_ogg"), col("is_opus"),
          col("channels"), col("pre_skip"), col("n_pages"),
          col("last_granule"), col("duration_ms"))
        .orderBy(col("doc_id"))
    }),

    // Gzip member leg (r17): the compressed-corpus ingestion scan with
    // NO env-blocked half — the JDK ships the whole codec, so the gate
    // covers REAL Deflater compression (explicit RFC 1952 header
    // fields, FNAME on every 5th), the structural header walk, a REAL
    // Inflater decode, and the CRC32/ISIZE trailer verification. Every
    // 11th doc's stored CRC byte is flipped post-build: the inflate
    // still round-trips (n_decoded intact) but crc_ok must read false —
    // a parser that skips trailer verification fails the hash. Every
    // 43rd doc's bytes are corrupted wholesale and must pass flagged.
    "q337_gzip_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("text"),
        pmod(col("doc_id"), lit(100000)).cast("long").as("mtime"),
        (pmod(col("doc_id"), lit(3)) * 2).cast("int").as("xfl"),
        when(col("doc_id") % 2 === 0, lit(3)).otherwise(lit(255)).cast("int").as("os"),
        when(col("doc_id") % 5 === 0, concat(lit("d"), col("doc_id"))).as("fname"),
        (col("doc_id") % 11 === 0).as("corrupt_crc"))
      val media = Multimodal.gzipDocuments(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAGZIP".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.gzipInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_gzip"), col("mtime"),
          col("xfl"), col("os"), col("has_name"), col("isize"),
          col("crc_ok"), col("n_decoded"))
        .orderBy(col("doc_id"))
    }),

    // WARC shard leg (r17, the crawl-ingestion capstone): synthetic
    // web-archive shards in the COMMON CRAWL on-disk form — concatenated
    // gzip members, one WARC/1.0 record per member, every member a REAL
    // Deflater round trip with a REAL CRC32/ISIZE trailer — through the
    // fused member walk + record parse + HTTP status read. The oracle
    // regenerates every count and Content-Length closed-form from the
    // plant formulas, so a wrong member step, header skip, version line,
    // Content-Length frame, type tally, or status read fails the hash.
    // Every 11th doc's LAST member gets a flipped stored-CRC byte: the
    // record still counts but n_crc_bad must tick (trailer verification
    // is gate-visible, q337's discipline). Every 43rd doc's bytes are
    // corrupted wholesale and must pass flagged.
    "q338_warc_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(4))).cast("int").as("n_rec"),
        (col("doc_id") % 11 === 0).as("corrupt_crc"))
      val media = Multimodal.syntheticWarcShards(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAWARC".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.warcInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_warc"), col("n_members"),
          col("n_records"), col("n_response"), col("n_request"),
          col("n_metadata"), col("n_http_ok"), col("content_total"),
          col("n_crc_bad"))
        .orderBy(col("doc_id"))
    }),

    // WebDataset tar-shard leg (r17, q338's sibling on the OUTPUT side
    // of the pipeline): synthetic training shards — REAL POSIX ustar
    // bytes, one .txt + one .bin file per sample key — through the fused
    // checksum-verifying header walk. The oracle regenerates every
    // count and size closed-form from the plant formulas, so a wrong
    // 512-block step, octal parse, checksum sum, key grouping, or
    // extension tally fails the hash. Every 11th doc's LAST entry gets
    // its stored checksum field zeroed: the walk must step past it but
    // exclude it from every tally except n_chksum_bad (that entry is a
    // .bin, so n_bin/total_size/n_entries all shift — the exclusion is
    // hash-visible, not just the counter). Every 43rd doc's bytes are
    // corrupted wholesale and must pass flagged.
    "q339_tar_shard_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        (lit(1) + pmod(col("doc_id"), lit(3))).cast("int").as("n_samples"),
        (col("doc_id") % 11 === 0).as("corrupt_chksum"))
      val media = Multimodal.syntheticTarShards(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTATAR!".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.tarInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_tar"), col("n_entries"),
          col("n_keys"), col("total_size"), col("n_txt"), col("n_bin"),
          col("n_chksum_bad"))
        .orderBy(col("doc_id"))
    }),

    // HTML main-content extraction (r17, the step between q338's WARC
    // walk and the text pipeline): synthetic pages wrap each document's
    // text in real markup with three planted traps — a "<p>trap</p>"
    // inside a script STRING, CSS text inside <style>, and heading/
    // anchor/footer text inside boilerplate containers — plus an
    // entity-bearing title. The fused state machine must return the
    // EXACT original text (hash-compared against the documents table),
    // the decoded title, and the closed-form link/tag tallies; any
    // region-unaware tag-stripper leaks a trap and fails the hash.
    // Every 43rd doc's page is replaced by markup-free text and must
    // pass flagged (no doctype -> not HTML).
    "q340_html_extract" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("text"),
        (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("n_nav"))
      val pages = Multimodal.syntheticHtmlPages(ids)
        .withColumn("html",
          when(col("media_id") % 43 === 0, lit("no markup here at all"))
            .otherwise(col("html")))
      Multimodal.htmlExtract(pages, "html")
        .select(col("media_id").as("doc_id"), col("is_html"), col("title"),
          col("n_links"), col("n_tags"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // The crawl-ingestion CAPSTONE (r17): the full shard-to-text path a
    // real pipeline runs, end to end through three fused kernels —
    // record-at-time gzip members (REAL inflate + trailer), WARC record
    // walk picking the first 200-status response (every 7th shard plants
    // a WELL-FORMED 404 error page FIRST: a kernel that grabs the first
    // response regardless of status extracts "not found" and fails the
    // hash on those rows), HTTP body split, then region-aware HTML
    // extraction. The recovered text must equal the source document text
    // EXACTLY — the oracle reads the documents table; every byte
    // traversed bytes -> gzip -> WARC -> HTTP -> HTML -> text. Every
    // 43rd doc's shard is corrupted wholesale and must pass flagged.
    "q341_warc_html_text" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("text"),
        (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("n_nav"))
      val media = Multimodal.syntheticWarcHtmlShards(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAWARC".getBytes("US-ASCII")))
            .otherwise(col("content")))
      val body = Multimodal.warcResponseBody(
        media.select(col("media_id"), col("content")), "content")
      Multimodal.htmlExtract(body.select(col("media_id"), col("html")), "html")
        .select(col("media_id").as("doc_id"), col("is_html").as("extracted"),
          col("title"), col("n_links"), col("n_tags"), col("text"))
        .orderBy(col("doc_id"))
    }),

    // Zstd frame leg (r17, the gzip leg's modern-lake sibling): zstd is
    // the codec the lake actually runs (parquet compression=zstd), and
    // Spark ships zstd-jni on its own classpath, so like q337 the gate
    // covers BOTH halves — real compression at a planted level with an
    // explicit checksum choice, a hand RFC 8878 header parse (magic,
    // descriptor bits, FCS width + the 2-byte form's +256 offset), and
    // a REAL checksum-verifying native decompress. Every 11th doc's
    // frame gets its LAST byte flipped (the plant guarantees a checksum
    // there): decode_ok must read false with fcs/has_checksum intact.
    // Every 43rd doc's bytes are corrupted wholesale and must pass
    // flagged.
    "q342_zstd_info" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(
        col("doc_id").as("media_id"), col("text"),
        (lit(1) + pmod(col("doc_id"), lit(5))).cast("int").as("level"),
        (col("doc_id") % 2 === 0 || col("doc_id") % 11 === 0).as("with_checksum"),
        (col("doc_id") % 11 === 0).as("corrupt_tail"))
      val media = Multimodal.zstdDocuments(ids)
        .withColumn("content",
          when(col("media_id") % 43 === 0, lit("NOTAZSTD".getBytes("US-ASCII")))
            .otherwise(col("content")))
      Multimodal.zstdInfo(media.select(col("media_id"), col("content")), "content")
        .select(col("media_id").as("doc_id"), col("is_zstd"), col("fcs"),
          col("has_checksum"), col("decode_ok"), col("n_decoded"))
        .orderBy(col("doc_id"))
    }),

    // G.711 A-law decode end-to-end (r14) — the q284 gate for the
    // European-trunk codec: XOR-0x55 unpack, segment shift, INVERTED
    // sign convention vs µ-law; the same synthetic code stream decodes
    // to a DIFFERENT exact sample stream, so a copy-paste of the µ-law
    // formula anywhere fails this gate while passing q284.
    "q290_alaw_decode" -> ((s, d) => {
      val mu = Multimodal.synthMulaw(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      Multimodal.audioFeatures(Multimodal.decodeAlaw(mu, "mulaw"), "pcm",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("activity"))
        .orderBy(col("doc_id"))
    }),

    // The µ-law ENCODE path (r14): synth codes → decode → RE-ENCODE →
    // decode again → features. encode∘decode is the identity on every
    // code except negative zero (0x7F → 0xFF, both decode to 0), so the
    // second decode must reproduce the first sample stream EXACTLY and
    // the oracle is q284's formula verbatim — any wrong clip, bias,
    // segment boundary, or mask in the encoder shifts quantization and
    // fails the hash gate.
    "q291_mulaw_encode" -> ((s, d) => {
      val mu = Multimodal.synthMulaw(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      val reenc = Multimodal.encodeMulaw(
        Multimodal.decodeMulaw(mu, "mulaw"), "pcm").drop("pcm")
      Multimodal.audioFeatures(Multimodal.decodeMulaw(reenc, "mulaw_out"), "pcm",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("activity"))
        .orderBy(col("doc_id"))
    }),

    // The A-law ENCODE path (r14): same mold as q291, but the identity
    // is EXACT on all 256 codes, so the second decode reproduces the
    // first bit-for-bit and the oracle is q290's verbatim.
    "q292_alaw_encode" -> ((s, d) => {
      val mu = Multimodal.synthMulaw(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", nSamples = 480)
      val reenc = Multimodal.encodeAlaw(
        Multimodal.decodeAlaw(mu, "mulaw"), "pcm").drop("pcm")
      Multimodal.audioFeatures(Multimodal.decodeAlaw(reenc, "alaw_out"), "pcm",
          frameSamples = 160, energyThreshold = 1L << 36)
        .select(col("doc_id"), col("n_samples"), col("rms"), col("peak"),
          col("zero_crossings"), col("activity"))
        .orderBy(col("doc_id"))
    }),

    // Cluster-aware train/val/test split (split-leakage prevention): q43's
    // near-dup clusters drive split membership, so no near-dup pair ever
    // straddles train and eval. Membership hashes the CC cluster id with
    // the shared boundary literals; the oracle reruns the recursive-CTE CC
    // and the same hash thresholds.
    "q120_cluster_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = Dedup.jaccardPairs(docs, "doc_id", "text").select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(
        docs.select(col("doc_id")), "doc_id", edges, "id_a", "id_b")
      Sampling.clusterAwareSplit(docs.select(col("doc_id")), "doc_id", clusters,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "csp")
        .orderBy(col("doc_id"))
    }),

    // Deterministic bottom-k sample: the 100 smallest-hash docs — the
    // fixed-size mergeable corpus sample (TakeOrdered, never a full sort).
    "q125_bottomk_sample" -> ((s, d) => {
      Sampling.bottomKSample(Tables.documents(s, d).select(col("doc_id")),
        "doc_id", k = 100, salt = "bk1")
        .orderBy(col("doc_id"))
    }),

    // Sample quantiles: nearest-rank quantiles of n_chars over the
    // deterministic 100-doc bottom-k sample — the O(k) quantile path, with
    // membership and estimates both engine-exact.
    "q126_sample_quantiles" -> ((s, d) => {
      Sampling.sampleQuantiles(Tables.documents(s, d), "doc_id", "n_chars",
        k = 100, quantiles = Seq(0.1, 0.5, 0.9, 0.99), salt = "bk1")
        .orderBy(col("quantile"))
    }),

    // Uniform k-per-group sample: 20 hash-drawn docs per language through
    // the bounded capPerKey aggregator (no hot-group window); the oracle is
    // the rank-over-hash window formulation.
    "q127_group_sample" -> ((s, d) => {
      Sampling.groupBottomKSample(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", Seq("lang"), k = 20, salt = "gs1")
        .orderBy(col("doc_id"))
    }),

    // Temperature-rebalanced sampling (group-share^alpha): flatten the
    // language mix at alpha = 0.5 while keeping ~30% of the corpus; all
    // rates in-plan, admission the shared 60-bit hash invariant.
    "q91_temperature_mix" -> ((s, d) => {
      Sampling.temperatureMixture(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5, targetFraction = 0.3, salt = "temp-v1")
        .orderBy(col("doc_id"))
    }),

    // DSIR data selection (Xie et al. 2023): hashed bag-of-words
    // importance models trained in-plan (target = the English slice, raw
    // = the full corpus, 64 buckets), then the per-row log-ratio
    // inference pass with a keep gate at ratio > 0 (more target-like
    // than raw-like). The oracle rebuilds the bucket models and the
    // sequential token fold with the identical md5 feature hash.
    "q104_dsir_score" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val ratios = Sampling.trainImportanceRatios(
        docs.filter(col("lang") === "en"), docs, "text", buckets = 64)
      Sampling.importanceScore(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", ratios)
        .select(col("doc_id"), col("n_tokens"), col("dsir_logratio"),
          (col("dsir_logratio") > 0.0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // DSIR selection proper — Gumbel-top-k importance resampling without
    // replacement (k = 100): noisy key = logratio − ln(−ln(u)) with u the
    // row's salted 60-bit content hash scaled into (0,1); selection on the
    // ROUNDED key (the q90 quantized-selection lesson), ties to lowest id.
    "q105_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val ratios = Sampling.trainImportanceRatios(
        docs.filter(col("lang") === "en"), docs, "text", buckets = 64)
      Sampling.resampleByImportance(docs.select(col("doc_id"), col("text")),
        "doc_id", "text", ratios, k = 100, salt = "dsir9")
        .select(col("doc_id"), col("dsir_logratio"), col("gumbel_key"))
        .orderBy(col("doc_id"))
    }),

    // KMV distinct-count sketch per source over 3-token shingles: ONE
    // bounded keyed aggregation (O(k) state at every stage) instead of
    // countDistinct's full shuffle of the distinct shingle set — the
    // cardinality primitive that survives a corpus-shaped domain. The
    // oracle rebuilds the sketch relationally (k smallest distinct md5
    // hashes per source) and applies the same (k-1)·2^60/h_k estimator,
    // so the ENTIRE sketch is verified, not just the estimate.
    "q108_kmv_distinct" -> ((s, d) => {
      // tokens PROJECTED before the shingle lambda (the shinglesOfTokens
      // caveat): the expression-API form re-evaluates split() per
      // element_at inside the transform — measured 9.5 s vs 0.6 s for the
      // same 5k-doc explode at sf0.1 (r18, guide §1.2 "per-task work")
      val sh = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("__toks"))
        .select(col("source"), explode(Dedup.shinglesOfTokens(col("__toks"), 3)).as("sh"))
      Sketches.kmvSketch(sh, Seq("source"), col("sh"), k = 128, salt = "kmv9")
        .select(col("source"), size(col("kmv")).as("sketch_size"),
          round(Sketches.kmvDistinct(col("kmv"), 128), 4).as("est_distinct"))
        .orderBy(col("source"))
    }),

    // KMV set algebra — overlap of the English vs German shingle sets
    // estimated from the two sketches ALONE (no join between the corpora):
    // the k smallest hashes of the union are recoverable from the per-side
    // sketches, Jaccard is the fraction present in both, intersection is
    // Jaccard x the union estimate. At 100 TB this is how crawl-vs-crawl
    // or corpus-vs-benchmark overlap is measured without co-shuffling
    // either side.
    "q109_kmv_overlap" -> ((s, d) => {
      val k = 128
      val docs = Tables.documents(s, d)
      // projected-tokens form — see q108's note
      def side(lang: String, out: String) = Sketches.kmvSketch(
        docs.filter(col("lang") === lang)
          .select(split(col("text"), " ").as("__toks"))
          .select(explode(Dedup.shinglesOfTokens(col("__toks"), 3)).as("sh")),
        Seq.empty, col("sh"), k, salt = "ov9")
        .select(col("kmv").as(out))
      side("en", "ka").crossJoin(side("de", "kb"))
        .select(Sketches.kmvOverlap(col("ka"), col("kb"), k): _*)
        .select(round(col("jaccard_est"), 6).as("jaccard_est"),
          round(col("union_est"), 4).as("union_est"),
          round(col("inter_est"), 4).as("inter_est"))
    }),

    // HyperLogLog distinct orderkeys per returnflag (p=6, m=64 registers):
    // register state is 64 small ints per group no matter how many
    // distinct keys stream through. Ranks avoid floating log2 entirely
    // (length(bin(w)) is floor(log2 w)+1 in both engines) and the
    // harmonic-mean denominator sums as SCALED INTEGERS, so the oracle
    // reproduces every register and the estimate is one identical double
    // division in each engine. ~11k distinct per flag at the gate SF keeps
    // the estimate far above the 2.5m linear-counting boundary (the one
    // branch with a transcendental).
    "q110_hll_distinct" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_orderkey"))
      val regs = Sketches.hllRegisters(li, Seq("l_returnflag"), col("l_orderkey"), p = 6, salt = "hll9")
      Sketches.hllEstimate(regs, Seq("l_returnflag"), p = 6)
        .select(col("l_returnflag"), round(col("hll_est"), 4).as("hll_est"), col("zero_regs"))
        .orderBy(col("l_returnflag"))
    }),

    // Count-Min frequency sketch over shingle document-frequencies (d=4,
    // w=512): the sketch is a FIXED 2048-counter table built in one
    // explode(4) + keyed sum, merged across shards counter-wise; the
    // probe lookup is min over 4 broadcast-joined cells. Estimates are
    // pure integers (>= exact by construction), so the oracle is
    // hash-exact with zero float concerns. Probes = the top-8 shingles by
    // (exact df desc, shingle) — deterministic, computed in-plan.
    "q111_cms_freq" -> ((s, d) => {
      val d4 = 4; val w = 512
      // projected-tokens form — see q108's note
      val el = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("__toks"))
        .select(col("doc_id"), explode(Dedup.shinglesOfTokens(col("__toks"), 3)).as("sh"))
        .select(col("sh"))
      val exact = el.groupBy("sh").agg(count(lit(1)).as("exact_cnt"))
      // build from the pre-aggregated (elem, count) frame — the weighted
      // path, spec-pinned identical to the raw build: the depth-fold
      // explodes one row per DISTINCT shingle instead of per occurrence
      val sketch = Sketches.cmsSketch(exact, col("sh"), d4, w, "cms9",
        weightCol = col("exact_cnt"))
      val probes = exact.orderBy(col("exact_cnt").desc, col("sh")).limit(8)
      Sketches.cmsLookup(sketch, probes.select("sh"), "sh", d4, w, "cms9")
        .join(probes, "sh")
        .select(col("sh"), col("exact_cnt"), col("cms_est"))
        .orderBy(col("sh"))
    }),

    // Bloom-filter history membership: the constant-memory endgame of the
    // incremental-dedup family (q75's anti-join, stripKnownWindows' set
    // probe). History = even-doc_id texts; the filter is <= m/32 (word,
    // bits) rows built by one bit_or aggregation; every probe LEFT-joins
    // that broadcast-sized table and tests its 3 positions. One-sided by
    // construction — might_contain=false is DEFINITELY new (no false
    // negatives, spec-pinned), true is history-or-false-positive at
    // (1-e^(-kn/m))^k. All integer bit arithmetic, 32-bit words so shifts
    // stay <= 31 — oracle rebuilds the bitmap verbatim.
    "q112_bloom_history" -> ((s, d) => {
      val m = 4096; val kh = 3
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") % 2 === 0)
      val bloom = Sketches.bloomSketch(history, col("text"), m, kh, "bl9")
      Sketches.bloomMightContain(
        bloom, docs.select(col("doc_id"), col("text")), "text", m, kh, "bl9")
        .select(col("doc_id"), col("might_contain"))
        .orderBy(col("doc_id"))
    }),

    // Salted shuffle join on a 3-value (maximally hot) key: the skew-proof
    // two-phase join must be row-for-row equal to the plain join (the oracle
    // joins directly).
    "q45_salted_join" -> ((s, d) => {
      import s.implicits._
      val dim = Seq(("A", "returned"), ("N", "normal"), ("R", "refunded"))
        .toDF("l_returnflag", "flag_label")
      Skew.saltedEquiJoin(
        Tables.lineitem(s, d), dim,
        keys = Seq("l_returnflag"),
        saltSource = col("l_orderkey"),
        saltBuckets = 16)
        .groupBy(col("l_returnflag"), col("flag_label"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(28,4)")).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Confluent wire-format serde end to end under the oracle gate:
    // documents -> framed avro binary (magic ‖ id ‖ body, per partition) ->
    // expression-level header checks -> avro decode back. The oracle is the
    // identity, so any framing offset error, schema-id corruption, or avro
    // field mix-up fails the hash compare.
    "q46_confluent_roundtrip" -> ((s, d) => {
      import graft.serde.{ConfluentAvroFrames, ConfluentWireColumns}
      val schemaJson =
        """{"type":"record","name":"Doc","namespace":"graft",
           |"fields":[{"name":"doc_id","type":"long"},{"name":"text","type":"string"}]}""".stripMargin
      val wire = ConfluentAvroFrames.serialize(
        Tables.documents(s, d), topic = "docs", isKey = false, schemaJson = schemaJson)
        .withColumn("schema_id", ConfluentWireColumns.wireSchemaId(col("wire")))
        .withColumn("magic_ok", ConfluentWireColumns.hasWireMagic(col("wire")))
      ConfluentAvroFrames.deserialize(
          wire, wireCol = "wire", topic = "docs", isKey = false, schemaJson = schemaJson)
        .select(col("doc_id"), col("text"), col("schema_id"), col("magic_ok"))
        .orderBy(col("doc_id"))
    }),

    // Schemaless JSON serde end to end under the oracle gate (the
    // reference's Circe/Jsoniter/ZIO-Json codec family): documents ->
    // one JSON object per row in a binary wire column -> an INDEPENDENT
    // json-path probe of the raw bytes (get_json_object exercises the
    // syntax without from_json) -> FAILFAST parse back to typed columns.
    // Identity oracle: any escaping error, field mix-up, or type coercion
    // slip fails the hash compare. Both directions are pure expressions —
    // the whole round trip stays inside whole-stage codegen.
    "q50_json_roundtrip" -> ((s, d) => {
      import graft.serde.JsonFrames
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wire = JsonFrames.serialize(Tables.documents(s, d), Seq("doc_id", "text"))
        .withColumn("jpath_id",
          get_json_object(col("wire").cast("string"), "$.doc_id").cast("long"))
      JsonFrames.deserialize(wire, "wire",
          StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
        .select(col("doc_id"), col("text"), col("jpath_id"))
        .orderBy(col("doc_id"))
    }),

    // Dead-letter routing: every 37th document's wire is REPLACED by
    // malformed bytes (the upstream-corruption injection); the tagged
    // deserializer must flag exactly those rows (null fields, is_dead)
    // and parse every other row identically to the FAILFAST path — ONE
    // plan, one parse, the split is a per-row flag (the two-frame
    // deserializeWithDlq splitter is spec-gated; this query gates the
    // one-pass form it is built on).
    "q268_json_dlq" -> ((s, d) => {
      import graft.serde.JsonFrames
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val wired = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 37 === 0, lit("{corrupt").cast("binary"))
          .otherwise(JsonFrames.wireColumn(Seq(col("lang"), col("n_chars"))))
          .as("wire"))
      JsonFrames.deserializeTagged(wired, "wire",
        StructType(Seq(StructField("lang", StringType),
          StructField("n_chars", LongType))))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("is_dead"))
        .orderBy(col("doc_id"))
    }),

    // The Confluent wire-format path under the same planted-corruption gate
    // (q268 parity — this is the serde the reference actually ships,
    // tamer Serde.scala:64-78): four distinct corruption classes injected
    // by doc_id residue — foreign first byte, sub-header frame, a schema id
    // the registry never issued, an avro body truncated mid-record — and
    // the tagged deserializer must route EACH to the dead leg with the
    // matching reason while decoding every clean row identically to the
    // FAILFAST path. One mapPartitions pass; no second scan.
    "q272_avro_dlq" -> ((s, d) => {
      import graft.serde.{ConfluentAvroFrames, ConfluentWire, ConfluentWireColumns}
      val schemaJson =
        """{"type":"record","name":"DocMeta","namespace":"graft",
           |"fields":[{"name":"lang","type":"string"},{"name":"n_chars","type":"long"}]}""".stripMargin
      val wired = ConfluentAvroFrames.serializeAppend(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          topic = "docs", isKey = false, schemaJson = schemaJson)
        .select(col("doc_id"),
          when(col("doc_id") % 41 === 0,
            concat(lit(Array(0x21.toByte)), substring(col("wire"), 2, Int.MaxValue)))
          .when(col("doc_id") % 37 === 0, substring(col("wire"), 1, 3))
          .when(col("doc_id") % 31 === 0,
            ConfluentWireColumns.withWireHeader(ConfluentWireColumns.wirePayload(col("wire")), 999))
          .when(col("doc_id") % 29 === 0, substring(col("wire"), 1, ConfluentWire.HeaderSize + 1))
          .otherwise(col("wire")).as("wire"))
      ConfluentAvroFrames.deserializeTagged(wired, "wire", topic = "docs", isKey = false, schemaJson)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("is_dead"), col("dead_reason"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic hash sampling: selection is a pure function of
    // (salt, doc_id) — layout/run/engine independent, which is the whole
    // point — so an independent engine computes the EXACT same subset.
    "q51_hash_sample" -> ((s, d) =>
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", rate = 0.2, salt = "s1")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    // Train/val/test assignment as a row invariant: every doc labeled from
    // cumulative hash ranges (80/10/10). The oracle re-derives the label
    // from the same md5 arithmetic — any boundary slip moves rows between
    // splits and fails the hash compare.
    "q52_hash_split" -> ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id",
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "sp")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // Stratified (class-balance) sampling over the events stream: per-type
    // admission rates via a chained-when threshold — no join, no shuffle.
    "q53_stratified_sample" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.events(s, d), "event_id", "event_type",
          rates = Seq("error" -> 0.05, "purchase" -> 1.0, "click" -> 0.25),
          defaultRate = 0.5, salt = "st")
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))),

    // Weighted corpus mixing: two (here: synthetic halves of `documents`
    // playing two corpora) hash-sampled at different rates and unioned
    // under a source label — the training-mixture step. The oracle is the
    // same pair of threshold filters UNION ALL'd, so a wrong rate, salt
    // bleed between corpora, or label mix-up all fail the hash compare.
    "q54_mix_corpora" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 2 === 0)
      val b = docs.filter(col("doc_id") % 2 === 1)
      Sampling.mixByRates(Seq((a, 0.5, "even"), (b, 0.25, "odd")), "doc_id", "mx")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Exact interpolated percentiles per group — via distributed
    // value-count pre-aggregation. A bare percentile() funnels every
    // group's raw rows into ONE reduce task (its sort buffer holds the
    // group — the classic exact-percentile scale-killer); pre-aggregating
    // (group, value) counts is a map-side-combined shuffle that hands the
    // weighted percentile only the DISTINCT values per group. Bit-identical
    // result (percentile's frequency form interpolates the same ranks).
    "q37_percentile" -> ((s, d) => {
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      def weighted(valueCol: String, aggs: (String, Double)*) = {
        val cols = aggs.map { case (name, p) =>
          round(expr(s"percentile($valueCol, $p, __f)"), 4).as(name)
        }
        base
          .groupBy(col("l_returnflag"), col(valueCol))
          .agg(count(lit(1)).as("__f"))
          .groupBy(col("l_returnflag"))
          .agg(cols.head, cols.tail: _*)
      }
      weighted("l_quantity", "p50_qty" -> 0.5, "p90_qty" -> 0.9)
        .join(weighted("l_extendedprice", "p50_price" -> 0.5), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    }),

    // Rolling 7-day distinct users from per-day HLL registers merged by
    // the max rule — rolling MAU without rescanning events; the oracle
    // rebuilds every window's registers from scratch (q110's rules over
    // the windowed event set), so merge-of-sketches == sketch-of-union
    // is what the hash compare actually checks.
    "q167_rolling_mau" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(unix_date(to_date(col("ts"))).cast("long").as("day"), col("user_id"))
      val regs = Sketches.hllRegisters(ev, Seq("day"), col("user_id"), p = 6, salt = "rmau")
      Sketches.hllRollingEstimate(regs, "day", p = 6, windowPeriods = 7)
        .select(col("day"), round(col("hll_est"), 4).as("hll_est"), col("zero_regs"))
        .orderBy(col("day"))
    }),

    // Functional-dependency audit: which sources map to >1 language —
    // constraint mining over one distinct + one count aggregation.
    "q158_fd_check" -> ((s, d) => {
      Profiler.fdViolations(Tables.documents(s, d), Seq("source"), Seq("lang"))
        .orderBy(col("source"))
    }),

    // Referential-integrity audit with planted orphans: suppliers with
    // s_suppkey % 7 == 0 removed from the dimension, so exactly their
    // lineitems surface as FK orphans through the SMJ anti-join.
    "q160_ri_check" -> ((s, d) => {
      Profiler.riOrphans(
        Tables.lineitem(s, d), "l_suppkey",
        Tables.supplier(s, d).filter(col("s_suppkey") % 7 =!= 0), "s_suppkey")
        .orderBy(col("l_suppkey"))
    }),

    // Snapshot diff: a simulated prior vintage (every 7th doc missing ->
    // inserts, every 5th's text staled -> updates, planted extra rows ->
    // deletes) diffed against the current table into a minimal I/U/D
    // changeset via ONE SMJ-pinned full-outer join.
    "q156_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val oldDf = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, lit("stale text")).otherwise(col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
      graft.operators.Snapshot.diffSnapshots(oldDf, docs, Seq("doc_id"))
        .orderBy(col("op"), col("doc_id"))
    }),

    // The round-trip law as the gate: applying the q156 changeset onto
    // the old vintage must reproduce the current table EXACTLY — the
    // oracle is a plain SELECT of documents.
    "q157_snapshot_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val oldDf = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, lit("stale text")).otherwise(col("text")).as("text"),
          col("lang"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
      val changes = graft.operators.Snapshot.diffSnapshots(oldDf, docs, Seq("doc_id"))
      graft.operators.Snapshot.applyChangeset(oldDf, changes, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Declarative expectation suite: five named aggregate checks (one
    // deliberately failing) evaluated in a single-row aggregation and
    // unpivoted to (check, passed) — the pre-consumption vintage gate.
    "q152_expectations" -> ((s, d) => {
      Profiler.expect(Tables.documents(s, d), Seq(
        "row_count_at_least_100" -> (count(lit(1)) >= 100),
        "no_null_text" -> (sum(when(col("text").isNull, 1L).otherwise(0L)) === 0),
        "n_chars_positive" -> (min(col("n_chars")) > 0),
        "langs_at_most_10" -> (countDistinct(col("lang")) <= 10),
        "always_fails" -> (count(lit(1)) < 0)))
        .orderBy(col("check"))
    }),

    // Epoch-aware corpus mixing with fractional epochs per language
    // (de ×2.5, en ×0.5, es ×1.0, fr ×1.25, zh ×2.0): ⌊e⌋ full copies per
    // doc + a salted-hash coin for the fractional epoch — deterministic,
    // zero-shuffle, each copy tagged with its epoch index.
    "q175_epoch_mix" -> ((s, d) => {
      Sampling.epochMix(Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        Seq("de" -> 2.5, "en" -> 0.5, "es" -> 1.0, "fr" -> 1.25, "zh" -> 2.0), salt = "em1")
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // Sequence-gap audit: contiguous runs of MISSING ids (planted: every
    // 97th event dropped) as (gap_start, gap_end, missing) rows — the
    // ingestion-completeness card (did the extractor skip a range?).
    "q200_id_gaps" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ids = Tables.events(s, d).filter(col("event_id") % 97 =!= 0)
        .select(col("event_id"))
      // Two-phase gap scan (r18 — this was the one CORPUS-shaped global
      // window in the packs): in-bucket lag runs partitioned (parallel,
      // 2^16 ids per bucket), and only the bucket-BOUNDARY adjacencies
      // (prev bucket's max -> this bucket's min) go through the
      // unpartitioned frame, which is bucket-aggregate-sized.
      val B = 1L << 16
      val bucketed = ids.withColumn("__bkt", floor(col("event_id") / B).cast("long"))
      val inBucket = Window.partitionBy(col("__bkt")).orderBy(col("event_id"))
      val innerGaps = bucketed
        .withColumn("__prev", lag(col("event_id"), 1).over(inBucket))
        .filter(col("__prev").isNotNull && col("event_id") - col("__prev") > 1)
        .select(col("__prev"), col("event_id"))
      // UNPARTITIONED-WINDOW: non-empty-bucket frame (id-span / 2^16
      // under the dense-id events contract), WindowGuard-ed
      val wBkt = Window.orderBy(col("__bkt"))
      val boundaryGaps = bucketed
        .groupBy(col("__bkt"))
        .agg(min(col("event_id")).as("__min"), max(col("event_id")).as("__max"))
        .withColumn("__prevMax", graft.operators.WindowGuard.guarded(
          lag(col("__max"), 1).over(wBkt), Seq(col("__bkt")), "q200_id_gaps"))
        .filter(col("__prevMax").isNotNull && col("__min") - col("__prevMax") > 1)
        .select(col("__prevMax").as("__prev"), col("__min").as("event_id"))
      innerGaps.unionByName(boundaryGaps)
        .select((col("__prev") + 1).as("gap_start"),
          (col("event_id") - 1).as("gap_end"),
          (col("event_id") - col("__prev") - 1).as("missing"))
        .orderBy(col("gap_start"))
    }),

    // ROLLUP with grouping_id: the aggregation-level indicator downstream
    // pivot/report consumers key on — completes the grouping-sets surface
    // (q10-q12) with the bitmask column itself.
    "q201_grouping_id" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(28,4)")).cast("double").as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    // 100 documents sampled proportional to n_chars via u^(1/w) keys on
    // the salted hash grid — the quality-weighted subset primitive.
    "q213_weighted_sample" -> ((s, d) => {
      Sampling.weightedSample(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100, salt = "ws1")
        .orderBy(col("es_key").desc, col("doc_id"))
    }),

    // Metrics-store reconciliation: lineitem quantity rollup vs a
    // recompute with planted corruption (every 1000th order loses line 1;
    // every 500th gets +1) — exact decimal sums, empty result certifies,
    // missing_b and mismatch classes both exercised.
    "q232_reconcile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val store = li.select(col("l_orderkey"), col("l_quantity"))
      val recompute = li
        .filter(!(col("l_orderkey") % 1000 === 0 && col("l_linenumber") === 1))
        .select(col("l_orderkey"),
          when(col("l_orderkey") % 500 === 0 && col("l_linenumber") === 1,
            col("l_quantity") + 1).otherwise(col("l_quantity")).as("l_quantity"))
      graft.operators.Profiler.reconcile(store, "l_orderkey", "l_quantity",
        recompute, "l_orderkey", "l_quantity")
        .orderBy(col("key"))
    }),

    // k-anonymity / l-diversity audit of the customer frame under
    // (nation, segment) quasi-identifiers with acctbal sensitive — the
    // structural-privacy gate next to the free-text PII scrub.
    "q234_privacy_audit" -> ((s, d) => {
      graft.operators.Profiler.kAnonymityAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 5, l = 3)
    }),

    // Imbalanced-class training weights over document languages —
    // inverse-frequency + effective-number-of-samples, one aggregation.
    "q244_class_weights" -> ((s, d) => {
      Sampling.classWeights(Tables.documents(s, d), "lang")
        .orderBy(col("class"))
    }),

    // INCREMENTAL SCD2 maintenance: history built from pre-cutoff events,
    // the post-cutoff batch merged WITHOUT replaying history — must equal
    // the from-scratch assembly row for row (q151's own oracle is the
    // gate).
    "q197_scd2_merge" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val cutoff = lit("2024-01-04").cast("timestamp")
      val existing = graft.operators.Scd.scd2(
        ev.filter(col("ts") < cutoff), "user_id", Seq("ts", "event_id"), "event_type")
      graft.operators.Scd.scd2Merge(existing, ev.filter(col("ts") >= cutoff),
        "user_id", Seq("ts", "event_id"), "event_type")
        .orderBy(col("user_id"), col("version"))
    }),

    // Coordinated cross-table sampling: the SAME salted 10% hash gate on
    // the user key of two fact tables yields a consistent entity sample
    // with no coordination infrastructure — every sampled user appears
    // with ALL their events and orders (the debug-at-scale primitive).
    "q190_coordinated_sample" -> ((s, d) => {
      val evS = Sampling.deterministicSample(
        Tables.events(s, d).select(col("user_id"), col("event_id")),
        "user_id", 0.1, "coord")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val ordS = Sampling.deterministicSample(
        Tables.orders(s, d).select(col("o_custkey").as("user_id"), col("o_orderkey")),
        "user_id", 0.1, "coord")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_orders"))
      evS.hint("shuffle_merge")
        .join(ordS.hint("shuffle_merge"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("user_id"))
    }),

    // Bloom-prefiltered fact⋈dim join: the dim key set compressed to a
    // 2^15-bit bitmap, fact rows probed per-row before the shuffle; no
    // false negatives, so the aggregate equals the plain join's (the
    // oracle ignores the bloom entirely).
    "q143_bloom_join" -> ((s, d) => {
      val dim = Tables.supplier(s, d).filter(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey"), col("s_name"))
      Skew.bloomPrefilteredJoin(
        Tables.lineitem(s, d).select(col("l_suppkey"), col("l_quantity")),
        dim, "l_suppkey", "s_suppkey", mBits = 1 << 15, kHashes = 4)
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(28,4)")).cast("double").as("sum_qty"))
        .orderBy(col("s_suppkey"))
    }),

    // Mergeable partial-aggregate rollup: two shard partials (even/odd
    // docs) merged == the from-scratch aggregate — the incremental
    // metrics-store contract (integer sums make the merge bit-exact
    // regardless of shard boundaries or merge order).
    "q139_rollup_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gens = Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
        .map(g => Rollup.partial(g, Seq("lang"), "n_chars"))
      Rollup.finalize(Rollup.merge(gens, Seq("lang")))
        .orderBy(col("lang"))
    }),

    // Weighted sampling without replacement (Efraimidis-Spirakis bottom-k):
    // 100 docs drawn with inclusion probability proportional to n_chars —
    // priorities quantized at 1e-9 before the TakeOrdered selection so the
    // sample membership is engine-stable (ln differs at ulp across libms).
    "q134_weighted_sample" -> ((s, d) => {
      Sampling.weightedBottomK(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100, salt = "ws1")
        .orderBy(col("doc_id"))
    }),

    // Deterministic corpus shuffle: every doc's global training position +
    // shard as a pure function of (salt, doc_id) — the reproducible
    // training-order primitive, via the two-phase prefix sum (never one
    // global row_number task). Oracle = the serial row_number definition.
    "q138_shuffle" -> ((s, d) => {
      Sampling.deterministicShuffle(Tables.documents(s, d).select(col("doc_id")),
        "doc_id", rowsPerShard = 1000L, salt = "sh1")
        .orderBy(col("doc_id"))
    }),

    // Deterministic negative sampling for contrastive pairs: 3 draws per
    // anchor, draw j = the doc at shuffle position hash(anchor#j) mod N;
    // self-hits dropped by contract. Uniform per draw, reproducible
    // everywhere, and the position-map join is SMJ-pinned both sides.
    "q140_negative_sample" -> ((s, d) => {
      Sampling.negativeSample(Tables.documents(s, d).select(col("doc_id")),
        "doc_id", k = 3, salt = "ns1")
        .orderBy(col("anchor_id"), col("draw"))
    }),

    // Z-order (Morton) clustering key: min/max-scaled 8-bit buckets of
    // (l_partkey, l_suppkey) bit-interleaved — pure integer arithmetic end
    // to end, so the curve an engine lays files along is reproducible by
    // any other. The min/max scalars are a 1-row driver-side aggregate
    // (the parquetZOrdered contract — scalar by construction, q93's
    // collect class); the z computation itself is a shuffle-free
    // projection. The layout effect (bounded per-file rectangles in BOTH
    // dims) is pinned by ClusteredWriteSpec.
    "q133_zorder" -> ((s, d) => {
      import graft.sinks.ClusteredWrite
      val l = Tables.lineitem(s, d)
      val mm = l.agg(
        min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
        min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long")).head()
      val bx = ClusteredWrite.zBucket(col("l_partkey"), mm.getLong(0), mm.getLong(1), 8)
      val by = ClusteredWrite.zBucket(col("l_suppkey"), mm.getLong(2), mm.getLong(3), 8)
      l.select(col("l_orderkey"), col("l_linenumber"),
          ClusteredWrite.zValue(Seq(bx, by), 8).as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
  )

  /** q290/q292 shared oracle: the ITU A-law decode formula replayed
    * per synthesized code, then the q282 stats. */
  private def alawStatsOracle: String = """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      cd AS (SELECT d.doc_id, ks.k,
                    xor(((d.doc_id * 17 + ks.k * 11) % 256), 85) AS v
             FROM documents d CROSS JOIN ks),
      s AS (SELECT doc_id, k,
                   CASE WHEN v // 128 = 1
                        THEN CASE WHEN (v // 16) % 8 = 0 THEN (v % 16) * 16 + 8
                                  ELSE ((v % 16) * 16 + 264) << ((v // 16) % 8 - 1)
                             END
                        ELSE -(CASE WHEN (v // 16) % 8 = 0 THEN (v % 16) * 16 + 8
                                    ELSE ((v % 16) * 16 + 264) << ((v // 16) % 8 - 1)
                               END)
                   END AS sv
            FROM cd),
      lagd AS (SELECT doc_id, k, sv,
                      LAG(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM s),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_samples,
                     sum(sv * sv) AS ss,
                     CAST(max(abs(sv)) AS BIGINT) AS peak,
                     CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
                       ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
                       AS BIGINT) AS zero_crossings
              FROM lagd GROUP BY doc_id),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      fa AS (SELECT doc_id,
                    CAST(count(*) AS BIGINT) AS n_frames,
                    CAST(count(*) FILTER (WHERE fe > 68719476736) AS BIGINT)
                      AS active_frames
             FROM fr GROUP BY doc_id)
      SELECT a.doc_id, a.n_samples,
             CAST(floor(sqrt(CAST(a.ss AS DOUBLE) / CAST(a.n_samples AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rms,
             a.peak, a.zero_crossings,
             CAST(floor(CAST(f.active_frames AS DOUBLE)
                  / CAST(f.n_frames AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS activity
      FROM agg a JOIN fa f ON f.doc_id = a.doc_id
      ORDER BY a.doc_id"""

  /** q284/q291 shared oracle: the ITU mu-law decode formula replayed
    * per synthesized code, then the q282 stats. */
  private def mulawStatsOracle: String = """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      cd AS (SELECT d.doc_id, ks.k,
                    ((d.doc_id * 17 + ks.k * 11) % 256) AS bb
             FROM documents d CROSS JOIN ks),
      s AS (SELECT doc_id, k,
                   CASE WHEN (255 - bb) // 128 = 1
                        THEN 132 - ((((255 - bb) % 16) * 8 + 132)
                                    << (((255 - bb) // 16) % 8))
                        ELSE ((((255 - bb) % 16) * 8 + 132)
                              << (((255 - bb) // 16) % 8)) - 132
                   END AS sv
            FROM cd),
      lagd AS (SELECT doc_id, k, sv,
                      LAG(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM s),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_samples,
                     sum(sv * sv) AS ss,
                     CAST(max(abs(sv)) AS BIGINT) AS peak,
                     CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
                       ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
                       AS BIGINT) AS zero_crossings
              FROM lagd GROUP BY doc_id),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      fa AS (SELECT doc_id,
                    CAST(count(*) AS BIGINT) AS n_frames,
                    CAST(count(*) FILTER (WHERE fe > 68719476736) AS BIGINT)
                      AS active_frames
             FROM fr GROUP BY doc_id)
      SELECT a.doc_id, a.n_samples,
             CAST(floor(sqrt(CAST(a.ss AS DOUBLE) / CAST(a.n_samples AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rms,
             a.peak, a.zero_crossings,
             CAST(floor(CAST(f.active_frames AS DOUBLE)
                  / CAST(f.n_frames AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS activity
      FROM agg a JOIN fa f ON f.doc_id = a.doc_id
      ORDER BY a.doc_id"""

  def oracles: Map[String, String] = Map(

    "q167_rolling_mau" -> s"""
      WITH pe AS (SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                         CAST(concat('0x', substring(md5('rmau' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
                  FROM events),
      targets AS (SELECT DISTINCT d AS t FROM pe),
      win AS (SELECT t.t, pe.hv FROM pe JOIN targets t ON pe.d BETWEEN t.t - 6 AND t.t),
      parts AS (SELECT t, hv >> 54 AS bucket, hv & ${(1L << 54) - 1} AS w FROM win),
      ranks AS (SELECT t, bucket,
              CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rank FROM parts),
      regs AS (SELECT t, bucket, max(rank) AS reg FROM ranks GROUP BY 1, 2),
      agg AS (SELECT t, sum(1::BIGINT << (55 - reg)) AS z_occ, count(*) AS occ
              FROM regs GROUP BY 1),
      est AS (SELECT t, CAST(z_occ + (64 - occ) * (1::BIGINT << 55) AS DOUBLE) AS z,
                     64 - occ AS zeros FROM agg),
      raws AS (SELECT t, ${Sketches.hllAlpha(64) * 64 * 64} * ${(1L << 55).toDouble} / z AS raw, zeros
               FROM est)
      SELECT t AS day,
             round(CASE WHEN raw <= 160.0 AND zeros > 0
                        THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE)) ELSE raw END, 4) AS hll_est,
             CAST(zeros AS INTEGER) AS zero_regs
      FROM raws ORDER BY day""",

    "q158_fd_check" -> """
      SELECT source, count(*) AS distinct_y
      FROM (SELECT DISTINCT source, lang FROM documents)
      GROUP BY source HAVING count(*) > 1 ORDER BY source""",

    "q160_ri_check" -> """
      SELECT l_suppkey, count(*) AS orphan_rows
      FROM lineitem
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 <> 0)
      GROUP BY 1 ORDER BY 1""",

    "q156_snapshot_diff" -> """
      WITH base AS (SELECT doc_id, text, lang FROM documents),
      old AS (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN 'stale text' ELSE text END AS text, lang
              FROM base WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text, lang FROM base WHERE doc_id % 11 = 0),
      j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   o.text AS ot, o.lang AS ol, n.text AS nt, n.lang AS nl,
                   o.doc_id IS NOT NULL AS ino, n.doc_id IS NOT NULL AS inn
            FROM old o FULL OUTER JOIN base n ON o.doc_id = n.doc_id),
      ops AS (SELECT CASE WHEN NOT ino THEN 'I' WHEN NOT inn THEN 'D'
                          WHEN ot IS DISTINCT FROM nt OR ol IS DISTINCT FROM nl THEN 'U'
                     END AS op,
                     doc_id,
                     CASE WHEN NOT inn THEN ot ELSE nt END AS text,
                     CASE WHEN NOT inn THEN ol ELSE nl END AS lang
              FROM j)
      SELECT op, doc_id, text, lang FROM ops WHERE op IS NOT NULL
      ORDER BY op, doc_id""",

    "q157_snapshot_apply" -> """
      SELECT doc_id, text, lang FROM documents ORDER BY doc_id""",

    "q152_expectations" -> """
      WITH m AS (SELECT count(*) AS n,
                        sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nn,
                        min(n_chars) AS mn, count(DISTINCT lang) AS dl
                 FROM documents)
      SELECT * FROM (
        SELECT 'row_count_at_least_100' AS "check", n >= 100 AS passed FROM m
        UNION ALL SELECT 'no_null_text', nn = 0 FROM m
        UNION ALL SELECT 'n_chars_positive', mn > 0 FROM m
        UNION ALL SELECT 'langs_at_most_10', dl <= 10 FROM m
        UNION ALL SELECT 'always_fails', n < 0 FROM m)
      ORDER BY "check"""",

    // floor-epochs + the salted fractional coin, unrolled per language:
    // thresholds are floor(frac · 2^60) literals (de/en frac .5, fr .25,
    // es/zh integral); range(0, copies) drops zero-copy rows.
    "q175_epoch_mix" -> s"""
      WITH base AS (
        SELECT doc_id, lang,
               CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 0 WHEN 'es' THEN 1
                         WHEN 'fr' THEN 1 WHEN 'zh' THEN 2 ELSE 0 END
               + CASE lang
                   WHEN 'de' THEN CASE WHEN ${duckKeyHash("doc_id", "em1")} < 576460752303423488 THEN 1 ELSE 0 END
                   WHEN 'en' THEN CASE WHEN ${duckKeyHash("doc_id", "em1")} < 576460752303423488 THEN 1 ELSE 0 END
                   WHEN 'fr' THEN CASE WHEN ${duckKeyHash("doc_id", "em1")} < 288230376151711744 THEN 1 ELSE 0 END
                   ELSE 0 END AS copies
        FROM documents)
      SELECT doc_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS epoch
      FROM base ORDER BY doc_id, epoch""",

    "q143_bloom_join" -> """
      SELECT s.s_suppkey, s.s_name, count(*) AS cnt,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_suppkey % 7 = 0
      GROUP BY 1, 2 ORDER BY 1""",

    "q139_rollup_merge" -> """
      SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS vsum,
             min(n_chars) AS vmin, max(n_chars) AS vmax,
             round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS vavg
      FROM documents GROUP BY lang ORDER BY lang""",

    "q134_weighted_sample" -> s"""
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars FROM documents
        WHERE CAST(n_chars AS DOUBLE) > 0
        ORDER BY round(-ln((${duckKeyHash("doc_id", "ws1")} + 0.5) / 1152921504606846976.0)
                       / CAST(n_chars AS DOUBLE), 9), doc_id
        LIMIT 100)
      ORDER BY doc_id""",

    "q138_shuffle" -> s"""
      SELECT doc_id,
             row_number() OVER (ORDER BY ${duckKeyHash("doc_id", "sh1")}, doc_id) - 1 AS position,
             (row_number() OVER (ORDER BY ${duckKeyHash("doc_id", "sh1")}, doc_id) - 1) // 1000 AS shard
      FROM documents ORDER BY doc_id""",

    "q140_negative_sample" -> s"""
      WITH pos AS (SELECT doc_id AS neg_id,
                          row_number() OVER (ORDER BY ${duckKeyHash("doc_id", "ns1")}, doc_id) - 1 AS position
                   FROM documents),
      n AS (SELECT count(*) AS n FROM documents),
      draws AS (SELECT d.doc_id AS anchor_id, j.draw,
                       ${duckKeyHash("CAST(d.doc_id AS VARCHAR) || '#' || CAST(j.draw AS VARCHAR)", "ns1")} % n.n AS position
                FROM documents d CROSS JOIN (SELECT unnest(range(0, 3)) AS draw) j
                     CROSS JOIN n)
      SELECT dr.anchor_id, CAST(dr.draw AS INTEGER) AS draw, p.neg_id
      FROM draws dr JOIN pos p USING (position)
      WHERE p.neg_id <> dr.anchor_id
      ORDER BY anchor_id, draw""",

    "q133_zorder" -> s"""
      WITH mm AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
                         min(l_suppkey) AS mns, max(l_suppkey) AS mxs FROM lineitem),
      b AS (SELECT l_orderkey, l_linenumber,
                   ((l_partkey - mnp) * 256) // (mxp - mnp + 1) AS bx,
                   ((l_suppkey - mns) * 256) // (mxs - mns + 1) AS by
            FROM lineitem CROSS JOIN mm)
      SELECT l_orderkey, l_linenumber, $zInterleaveSql AS zval
      FROM b ORDER BY l_orderkey, l_linenumber""",

    "q63_url_metrics" -> s"""
      WITH aug AS ($urlAugSql)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ ]*)?')) AS INTEGER) AS n_urls,
             coalesce(array_to_string(list_sort(list_distinct(
               regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))), ','), '') AS domains_csv
      FROM aug ORDER BY doc_id""",

    "q64_domain_blocklist" -> s"""
      WITH aug AS ($urlAugSql),
      bad AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id,
                     unnest(list_distinct(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1))) AS d
              FROM aug)
        WHERE d IN ('blocked0.bad.net', 'blocked1.bad.net', 'blocked2.bad.net'))
      SELECT doc_id, text FROM aug
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id""",

    // Plain BETWEEN join — DuckDB can afford the naive plan at oracle SF;
    // epoch micros derived the same way both sides (ns floor-divided).
    "q69_range_join" -> """
      WITH p AS (SELECT event_id AS point_id, epoch_ns(ts) // 1000 AS t FROM events),
      i AS (SELECT event_id AS interval_id,
                   epoch_ns(ts) // 1000 AS s,
                   epoch_ns(ts) // 1000 + 3600000000 AS e
            FROM events WHERE event_id % 100 = 0)
      SELECT i.interval_id, p.point_id
      FROM i JOIN p ON p.t BETWEEN i.s AND i.e
      ORDER BY interval_id, point_id""",

    // Naive overlap join at oracle SF; the same inclusive-bounds predicate.
    "q70_interval_overlap" -> """
      WITH a AS (SELECT event_id AS a_id, epoch_ns(ts) // 1000 AS s,
                        epoch_ns(ts) // 1000 + 7200000000 AS e
                 FROM events WHERE event_id % 50 = 0),
      b AS (SELECT event_id AS b_id, epoch_ns(ts) // 1000 AS s2,
                   epoch_ns(ts) // 1000 + 3600000000 AS e2
            FROM events WHERE event_id % 70 = 0)
      SELECT a.a_id, b.b_id
      FROM a JOIN b ON a.s <= b.e2 AND b.s2 <= a.e
      ORDER BY a_id, b_id""",

    // q73's window formulation with a per-stratum budget literal.
    "q82_token_budget_by_group" -> s"""
      WITH t AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               ${duckKeyHash("doc_id", "mix-v2")} AS h
        FROM documents),
      c AS (
        SELECT lang, doc_id,
               coalesce(SUM(tc) OVER (PARTITION BY lang ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM t)
      SELECT lang, doc_id FROM c
      WHERE prefix < CASE WHEN lang = 'de' THEN 800 ELSE 4000 END
      ORDER BY lang, doc_id""",

    // Grid + left join + IGNORE NULLS running last_value — the window
    // formulation of the same resample; integer bucket arithmetic agrees.
    "q79_resample_ffill" -> """
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t, event_id FROM events),
      ph AS (SELECT user_id,
                    -- sign-corrected floor division: DuckDB's % keeps the
                    -- dividend's sign and // truncates, so the bare
                    -- (t - t % w) // w is off by one bucket for t < 0;
                    -- pmod-then-divide is exact for any sign (the Spark
                    -- side's bucketOf semantics)
                    (t - ((t % 86400000000 + 86400000000) % 86400000000)) // 86400000000 AS bucket,
                    max(event_id) AS v
             FROM e GROUP BY 1, 2),
      span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM ph GROUP BY 1),
      grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
      j AS (SELECT g.user_id, g.bucket, ph.v
            FROM grid g LEFT JOIN ph ON ph.user_id = g.user_id AND ph.bucket = g.bucket)
      SELECT user_id, bucket,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      FROM j ORDER BY user_id, bucket""",

    // Layout changes values not at all: the oracle is the plain join+agg.
    "q76_bucketed_join" -> """
      SELECT e.user_id,
             CAST(count(*) AS BIGINT) AS n_pairs,
             max(o.o_orderkey) AS max_order
      FROM events e JOIN orders o ON o.o_custkey = e.user_id
      GROUP BY e.user_id
      ORDER BY e.user_id""",

    // The window formulation the skew-proof two-phase form must equal:
    // event_id is unique, so row_number has no tie ambiguity.
    "q71_cap_per_key" -> """
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events)
      WHERE rn <= 3
      ORDER BY user_id, event_id""",

    // Single-window formulation of the same exclusive-prefix arithmetic
    // (integer token counts, integer sums — no float divergence to chase);
    // the hash literal is the shared keyHash construction.
    "q73_token_budget" -> s"""
      WITH t AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tc,
               ${duckKeyHash("doc_id", "mix-v1")} AS h
        FROM documents),
      c AS (
        SELECT lang, doc_id,
               coalesce(SUM(tc) OVER (PARTITION BY lang ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM t)
      SELECT lang, doc_id FROM c WHERE prefix < 5000
      ORDER BY lang, doc_id""",

    "q120_cluster_split" -> clusterSplitOracle,

    "q125_bottomk_sample" -> bottomKSampleOracle,

    "q126_sample_quantiles" -> sampleQuantilesOracle,

    "q127_group_sample" -> groupSampleOracle,

    // q213: the same u^(1/w) keys from the shared hash grid, quantized at
    // 1e-9, top-100 by (key desc, id) — TopKScored's exact rule.
    "q213_weighted_sample" -> s"""
      WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
                        CAST(floor(pow((CAST(${duckKeyHash("doc_id", "ws1")} AS DOUBLE) + 0.5)
                                       / 1152921504606846976.0,
                                       1.0 / CAST(n_chars AS DOUBLE))
                                   * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0 AS es_key
                 FROM documents WHERE n_chars > 0)
      SELECT doc_id, weight, es_key FROM s
      ORDER BY es_key DESC, doc_id LIMIT 100""",
    "q244_class_weights" -> classWeightsOracle,

    // q232: the same planted corruption, decimal(18,2)->decimal(38,2)
    // sums, violation filter, and status classes.
    "q232_reconcile" -> """
      WITH a AS (SELECT l_orderkey AS key,
                        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sa
                 FROM lineitem GROUP BY 1),
      b AS (SELECT l_orderkey AS key,
                   CAST(sum(CAST(CASE WHEN l_orderkey % 500 = 0 AND l_linenumber = 1
                                      THEN l_quantity + 1 ELSE l_quantity END
                            AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sb
            FROM lineitem WHERE NOT (l_orderkey % 1000 = 0 AND l_linenumber = 1)
            GROUP BY 1),
      m AS (SELECT key, sa, sb FROM a FULL OUTER JOIN b USING (key)
            WHERE sa IS NULL OR sb IS NULL OR sa <> sb)
      SELECT key, CAST(sa AS DOUBLE) AS sum_a, CAST(sb AS DOUBLE) AS sum_b,
             CAST(coalesce(sa, 0) - coalesce(sb, 0) AS DOUBLE) AS delta,
             CASE WHEN sa IS NULL THEN 'missing_a'
                  WHEN sb IS NULL THEN 'missing_b'
                  ELSE 'mismatch' END AS status
      FROM m ORDER BY key""",

    // q234: the same two keyed aggregations and summary bars.
    "q234_privacy_audit" -> """
      WITH s AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
                 FROM customer GROUP BY 1, 2),
      dv AS (SELECT c_nationkey, c_mktsegment, count(*) AS ld
             FROM (SELECT DISTINCT c_nationkey, c_mktsegment, c_acctbal FROM customer)
             GROUP BY 1, 2)
      SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_groups,
             CAST(min(n) AS BIGINT) AS min_group_size,
             CAST(count(*) FILTER (WHERE n < 5) AS BIGINT) AS groups_below_k,
             CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT) AS rows_below_k,
             CAST(min(ld) AS BIGINT) AS min_l_diversity,
             CAST(count(*) FILTER (WHERE ld < 3) AS BIGINT) AS groups_below_l
      FROM s JOIN dv USING (c_nationkey, c_mktsegment)""",
    "q51_hash_sample" -> hashSampleOracle,
    "q190_coordinated_sample" -> coordinatedSampleOracle,
    "q52_hash_split" -> hashSplitOracle,
    "q53_stratified_sample" -> stratifiedSampleOracle,
    "q54_mix_corpora" -> mixCorporaOracle,

    "q200_id_gaps" -> """
      WITH ids AS (SELECT event_id FROM events WHERE event_id % 97 <> 0),
      w AS (SELECT event_id, lag(event_id) OVER (ORDER BY event_id) AS prev FROM ids)
      SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
             event_id - prev - 1 AS missing
      FROM w WHERE prev IS NOT NULL AND event_id - prev > 1
      ORDER BY gap_start""",

    "q201_grouping_id" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag, l_linestatus""",

    // from-scratch SCD2 over ALL events — the incremental merge must be
    // indistinguishable from replaying history (q151's oracle).
    "q197_scd2_merge" -> """
      WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER w AS prev,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      changes AS (
        SELECT user_id, ts, event_id, event_type FROM ordered
        WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
      SELECT user_id, event_type AS value, ts AS effective_from,
             lead(ts) OVER w2 AS effective_to,
             row_number() OVER w2 AS version
      FROM changes
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, version""",

    "q36_salted_agg" -> """
      SELECT l_returnflag, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q41_multimodal_probe" -> """
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             md5(text) AS fp_md5,
             substring(hex(encode(text)), 1, 16) AS head_hex
      FROM documents ORDER BY media_id""",

    // Rebuilds the two hashed bag-of-words models (add-one smoothing, the
    // same 60-bit md5 bucket as q92) and the SEQUENTIAL token fold, so the
    // double sum is order-identical to Spark's aggregate() left fold.
    "q104_dsir_score" -> """
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      bk AS (SELECT lang,
               CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS b
             FROM (SELECT lang, unnest(w) AS t FROM toks)),
      tc AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY b),
      rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
      tt AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM tc),
      rt AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM rc),
      ratio AS (
        SELECT i.b,
          ln((coalesce(tc.c, 0) + 1.0) / (tt.tot + 64)) -
          ln((coalesce(rc.c, 0) + 1.0) / (rt.tot + 64)) AS lr
        FROM (SELECT unnest(generate_series(0, 63)) AS b) i
        LEFT JOIN tc ON i.b = tc.b LEFT JOIN rc ON i.b = rc.b
        CROSS JOIN tt CROSS JOIN rt),
      rl AS (SELECT list(lr ORDER BY b) AS rl FROM ratio),
      scored AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(w, t -> rl[
              CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) + 1])),
            (acc, x) -> acc + x) AS z
        FROM toks CROSS JOIN rl)
      SELECT doc_id, n_tokens, round(z, 4) AS dsir_logratio,
             round(z, 4) > 0.0 AS keep
      FROM scored ORDER BY doc_id""",

    // Same trained model; the Gumbel key re-derives the salted 60-bit
    // content hash (q51's keyHash with salt 'dsir9') and selects on the
    // ROUNDED key exactly as the Spark side does.
    "q105_dsir_resample" -> """
      WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      bk AS (SELECT lang,
               CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS b
             FROM (SELECT lang, unnest(w) AS t FROM toks)),
      tc AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY b),
      rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
      tt AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM tc),
      rt AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM rc),
      ratio AS (
        SELECT i.b,
          ln((coalesce(tc.c, 0) + 1.0) / (tt.tot + 64)) -
          ln((coalesce(rc.c, 0) + 1.0) / (rt.tot + 64)) AS lr
        FROM (SELECT unnest(generate_series(0, 63)) AS b) i
        LEFT JOIN tc ON i.b = tc.b LEFT JOIN rc ON i.b = rc.b
        CROSS JOIN tt CROSS JOIN rt),
      rl AS (SELECT list(lr ORDER BY b) AS rl FROM ratio),
      scored AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(w, t -> rl[
              CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 64 AS INTEGER) + 1])),
            (acc, x) -> acc + x) AS z
        FROM toks CROSS JOIN rl),
      keyed AS (
        SELECT doc_id, z,
          round(z - ln(-ln(
            (CAST(CAST(concat('0x', substring(md5(concat('dsir9', CAST(doc_id AS VARCHAR))), 1, 15))
                  AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0)), 4) AS gumbel_key
        FROM scored),
      sel AS (SELECT * FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100)
      SELECT doc_id, round(z, 4) AS dsir_logratio, gumbel_key
      FROM sel ORDER BY doc_id""",

    // KMV sketch rebuilt relationally: the k smallest DISTINCT salted md5
    // hashes per source ARE the sketch, so rn <= k + max(hv) reproduces
    // (size, h_k) exactly; the estimator literals multiply left-to-right
    // as the Spark side does (127.0 * 2^60 is float-exact — 7 significant
    // bits — so the one rounding step is the division in both engines).
    "q108_kmv_distinct" -> """
      WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
      shl AS (
        SELECT source,
               unnest(CASE WHEN len(w) >= 3
                    THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
                    ELSE [array_to_string(w, ' ')] END) AS sh
        FROM toks),
      h AS (SELECT DISTINCT source,
              CAST(concat('0x', substring(md5('kmv9' || sh), 1, 15)) AS BIGINT) AS hv
            FROM shl),
      rk AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
      sk AS (SELECT source, count(*) AS sz, max(hv) AS hk FROM rk WHERE rn <= 128 GROUP BY source)
      SELECT source, CAST(sz AS INTEGER) AS sketch_size,
             round(CASE WHEN sz < 128 THEN CAST(sz AS DOUBLE)
                        ELSE 127.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END, 4) AS est_distinct
      FROM sk ORDER BY source""",

    // KMV overlap: the union sketch is the k smallest of the two per-side
    // sketches' union (recoverable from sketches alone — the property the
    // operator exploits); Jaccard = fraction of it present in both sides.
    "q109_kmv_overlap" -> """
      WITH toks AS (SELECT lang, string_split(text, ' ') AS w FROM documents WHERE lang IN ('en', 'de')),
      shl AS (
        SELECT lang,
               unnest(CASE WHEN len(w) >= 3
                    THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
                    ELSE [array_to_string(w, ' ')] END) AS sh
        FROM toks),
      h AS (SELECT DISTINCT lang,
              CAST(concat('0x', substring(md5('ov9' || sh), 1, 15)) AS BIGINT) AS hv
            FROM shl),
      sa AS (SELECT hv FROM h WHERE lang = 'en' ORDER BY hv LIMIT 128),
      sb AS (SELECT hv FROM h WHERE lang = 'de' ORDER BY hv LIMIT 128),
      mg AS (SELECT hv FROM (SELECT hv FROM sa UNION SELECT hv FROM sb) ORDER BY hv LIMIT 128),
      c AS (SELECT (SELECT count(*) FROM mg) AS msz,
                   (SELECT count(*) FROM mg m
                    WHERE m.hv IN (SELECT hv FROM sa) AND m.hv IN (SELECT hv FROM sb)) AS inboth,
                   (SELECT max(hv) FROM mg) AS hk)
      SELECT round(CAST(inboth AS DOUBLE) / CAST(msz AS DOUBLE), 6) AS jaccard_est,
             round(CASE WHEN msz < 128 THEN CAST(msz AS DOUBLE)
                        ELSE 127.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END, 4) AS union_est,
             round((CAST(inboth AS DOUBLE) / CAST(msz AS DOUBLE)) *
                   (CASE WHEN msz < 128 THEN CAST(msz AS DOUBLE)
                         ELSE 127.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END), 4) AS inter_est
      FROM c""",

    // HLL rebuilt register-for-register: bucket = top 6 hash bits, rank =
    // 55 - length(bin(w)) (floor(log2)+1 without floating log), registers
    // = per-bucket max, and the harmonic denominator sums as integers
    // scaled by 2^55 — the only double steps are the final multiply/divide
    // with the SAME Scala-printed constants the operator folds.
    "q110_hll_distinct" -> s"""
      WITH h AS (SELECT l_returnflag,
              CAST(concat('0x', substring(md5('hll9' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
            FROM lineitem),
      parts AS (SELECT l_returnflag, hv >> 54 AS bucket, hv & ${(1L << 54) - 1} AS w FROM h),
      ranks AS (SELECT l_returnflag, bucket,
              CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rank FROM parts),
      regs AS (SELECT l_returnflag, bucket, max(rank) AS reg FROM ranks GROUP BY 1, 2),
      agg AS (SELECT l_returnflag, sum(1::BIGINT << (55 - reg)) AS z_occ, count(*) AS occ
              FROM regs GROUP BY 1),
      est AS (SELECT l_returnflag,
              CAST(z_occ + (64 - occ) * (1::BIGINT << 55) AS DOUBLE) AS z,
              64 - occ AS zeros FROM agg),
      raws AS (SELECT l_returnflag, ${Sketches.hllAlpha(64) * 64 * 64} * ${(1L << 55).toDouble} / z AS raw, zeros
               FROM est)
      SELECT l_returnflag,
             round(CASE WHEN raw <= 160.0 AND zeros > 0
                        THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE)) ELSE raw END, 4) AS hll_est,
             CAST(zeros AS INTEGER) AS zero_regs
      FROM raws ORDER BY l_returnflag""",

    // Count-Min rebuilt cell-for-cell: 4 salted bucket hashes per element,
    // counter = per-(row, bucket) count, probe estimate = min over the 4
    // cells (0 when untouched). Pure integers end to end.
    "q111_cms_freq" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      shl AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                    THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
                    ELSE [array_to_string(w, ' ')] END) AS sh
        FROM toks),
      el AS (SELECT sh FROM shl),
      ex AS (SELECT sh, count(*) AS exact_cnt FROM el GROUP BY sh),
      probes AS (SELECT sh, exact_cnt FROM ex ORDER BY exact_cnt DESC, sh LIMIT 8),
      rs AS (SELECT unnest(range(4)) AS r),
      cells AS (SELECT r,
              CAST(concat('0x', substring(md5('cms9' || CAST(r AS VARCHAR) || sh), 1, 15)) AS BIGINT) % 512 AS b
            FROM el CROSS JOIN rs),
      sk AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY r, b),
      pq AS (SELECT p.sh, p.exact_cnt, r,
              CAST(concat('0x', substring(md5('cms9' || CAST(r AS VARCHAR) || p.sh), 1, 15)) AS BIGINT) % 512 AS b
             FROM probes p CROSS JOIN rs),
      est AS (SELECT sh, exact_cnt, min(coalesce(sk.cnt, 0)) AS cms_est
              FROM pq LEFT JOIN sk USING (r, b) GROUP BY sh, exact_cnt)
      SELECT sh, exact_cnt, cms_est FROM est ORDER BY sh""",

    // Bloom bitmap rebuilt word-for-word: 3 salted positions per history
    // text, word = pos DIV 32, bits = bit_or of (1 << pos % 32) — 32-bit
    // words so no shift touches the sign bit; a probe might_contain iff
    // all 3 of its positions' bits are set.
    "q112_bloom_history" -> """
      WITH rs AS (SELECT unnest(range(3)) AS r),
      hpos AS (SELECT CAST(concat('0x', substring(md5('bl9' || CAST(r AS VARCHAR) || text), 1, 15)) AS BIGINT) % 4096 AS pos
               FROM documents CROSS JOIN rs WHERE doc_id % 2 = 0),
      bloom AS (SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
                FROM hpos GROUP BY 1),
      ppos AS (SELECT doc_id, CAST(concat('0x', substring(md5('bl9' || CAST(r AS VARCHAR) || text), 1, 15)) AS BIGINT) % 4096 AS pos
               FROM documents CROSS JOIN rs),
      hits AS (SELECT doc_id,
                 CASE WHEN (coalesce(b.bits, 0) & (1::BIGINT << CAST(p.pos % 32 AS INTEGER))) =
                           (1::BIGINT << CAST(p.pos % 32 AS INTEGER)) THEN 1 ELSE 0 END AS hit
               FROM ppos p LEFT JOIN bloom b ON p.pos // 32 = b.word)
      SELECT doc_id, min(hit) = 1 AS might_contain
      FROM hits GROUP BY doc_id ORDER BY doc_id""",

    "q91_temperature_mix" -> s"""
      WITH g AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
      t AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS sa FROM g),
      r AS (SELECT lang, least(0.3 * t.total * pow(g.n, 0.5) / (t.sa * g.n), 1.0) AS rate
            FROM g CROSS JOIN t)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN r USING (lang)
      WHERE ${duckKeyHash("d.doc_id", "temp-v1")} <
            CAST(floor(r.rate * 1152921504606846976.0) AS BIGINT)
      ORDER BY d.doc_id""",

    "q45_salted_join" -> """
      WITH dim(l_returnflag, flag_label) AS (
        VALUES ('A', 'returned'), ('N', 'normal'), ('R', 'refunded'))
      SELECT l.l_returnflag, d.flag_label, count(*) AS cnt,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
      FROM lineitem l JOIN dim d USING (l_returnflag)
      GROUP BY l.l_returnflag, d.flag_label
      ORDER BY l.l_returnflag""",

    // Round-trip identity: the wire id is deterministically 1 (first
    // registration in a fresh registry) and the magic byte must be present.
    "q46_confluent_roundtrip" -> """
      SELECT doc_id, text, CAST(1 AS INTEGER) AS schema_id, true AS magic_ok
      FROM documents ORDER BY doc_id""",

    // Round-trip identity; the json-path probe must recover the id from
    // the serialized bytes themselves.
    "q50_json_roundtrip" -> """
      SELECT doc_id, text, doc_id AS jpath_id
      FROM documents ORDER BY doc_id""",

    // q268: the planted-corruption routing is a pure doc_id predicate,
    // good rows round-trip their fields identically.
    "q268_json_dlq" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 37 = 0 THEN NULL ELSE lang END AS lang,
             CASE WHEN doc_id % 37 = 0 THEN NULL ELSE n_chars END AS n_chars,
             (doc_id % 37 = 0) AS is_dead
      FROM documents ORDER BY doc_id""",

    // q282: the sample stream regenerated from the closed form (never
    // parsing bytes); exact integer energy/crossing counts, rms and
    // activity on the 1e-6 grid.
    "q282_audio_features" -> """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      s AS (SELECT d.doc_id, ks.k,
                   ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768 AS sv
            FROM documents d CROSS JOIN ks),
      lagd AS (SELECT doc_id, k, sv,
                      LAG(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM s),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_samples,
                     sum(sv * sv) AS ss,
                     CAST(max(abs(sv)) AS BIGINT) AS peak,
                     CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
                       ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
                       AS BIGINT) AS zero_crossings
              FROM lagd GROUP BY doc_id),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      fa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
                    CAST(count(*) FILTER (WHERE fe > 68719476736) AS BIGINT)
                      AS active_frames
             FROM fr GROUP BY doc_id)
      SELECT a.doc_id, a.n_samples,
             CAST(floor(sqrt(CAST(a.ss AS DOUBLE) / CAST(a.n_samples AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rms,
             a.peak, a.zero_crossings, f.n_frames, f.active_frames,
             CAST(floor(CAST(f.active_frames AS DOUBLE)
                  / CAST(f.n_frames AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS activity
      FROM agg a JOIN fa f ON f.doc_id = a.doc_id
      ORDER BY a.doc_id""",

    // q299: every resampled sample regenerated from the closed form —
    // idx/frac by exact integer division, interpolation with the
    // explicit floor-div idiom (DuckDB's // truncates toward zero, so
    // floor is spelled out), stats aggregated like q282's.
    "q299_resample_pcm16" -> """
      WITH js AS (SELECT unnest(range(0, 719)) AS j),
      r AS (SELECT d.doc_id, js.j,
              (js.j * 8000) // 12000 AS idx,
              (js.j * 8000) % 12000 AS frac
            FROM documents d CROSS JOIN js),
      v AS (SELECT doc_id, j, frac,
              ((doc_id * 31 + idx * 7) % 65536) - 32768 AS s0,
              ((doc_id * 31 + (idx + 1) * 7) % 65536) - 32768 AS s1
            FROM r),
      o AS (SELECT doc_id, j,
              CASE WHEN frac = 0 THEN s0
                   ELSE s0 + (((s1 - s0) * frac)
                     - ((((s1 - s0) * frac) % 12000 + 12000) % 12000)) // 12000
              END AS rv
            FROM v),
      lagd AS (SELECT doc_id, j, rv,
                      LAG(rv) OVER (PARTITION BY doc_id ORDER BY j) AS pv
               FROM o)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(rv * rv) AS BIGINT) AS sum_sq,
             CAST(max(abs(rv)) AS BIGINT) AS peak,
             CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
               ((pv >= 0 AND rv < 0) OR (pv < 0 AND rv >= 0)))
               AS BIGINT) AS zero_crossings
      FROM lagd GROUP BY doc_id ORDER BY doc_id""",

    // q311: frame energies replayed from the composite closed form
    // (ramp A | low frame | ramp B), active frames thresholded with the
    // same strict compare, one gaps-and-islands pass with the gap<=1
    // merge and span>=3 filter, segments re-indexed per doc.
    "q311_vad_segments" -> """
      WITH ks AS (SELECT unnest(range(0, 9760)) AS k),
      s AS (SELECT d.doc_id, ks.k,
              CASE WHEN ks.k < 4800
                     THEN ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768
                   WHEN ks.k < 4960
                     THEN ((1057 * 31 + (ks.k - 4800) * 7) % 65536) - 32768
                   ELSE (((d.doc_id * 3 + 7) * 31 + (ks.k - 4960) * 7) % 65536) - 32768
              END AS sv
            FROM documents d CROSS JOIN ks),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      act AS (SELECT doc_id, f FROM fr WHERE fe > 5760000000),
      isl AS (SELECT doc_id, f,
                CASE WHEN f - LAG(f) OVER (PARTITION BY doc_id ORDER BY f) - 1 <= 1
                     THEN 0 ELSE 1 END AS brk
              FROM act),
      grp AS (SELECT doc_id, f,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY f) AS seg
              FROM isl),
      seg AS (SELECT doc_id, seg, min(f) AS start_frame,
                     max(f) - min(f) + 1 AS span_frames
              FROM grp GROUP BY doc_id, seg
              HAVING max(f) - min(f) + 1 >= 3)
      SELECT doc_id,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
               AS BIGINT) AS seg_idx,
             CAST(start_frame AS BIGINT) AS start_frame,
             CAST(span_frames AS BIGINT) AS span_frames
      FROM seg ORDER BY doc_id, seg_idx""",

    // q318: q311's gaps-and-islands segments joined back to the sample
    // stream — per segment, exact counts over k in
    // [start·160, (start+span)·160), zero crossings from the in-segment
    // LAG (the slice's first sample has no predecessor, as in the
    // kernel's fresh scan of the sliced bytes).
    "q318_utterance_chain" -> """
      WITH ks AS (SELECT unnest(range(0, 9760)) AS k),
      s AS (SELECT d.doc_id, ks.k,
              CASE WHEN ks.k < 4800
                     THEN ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768
                   WHEN ks.k < 4960
                     THEN ((1057 * 31 + (ks.k - 4800) * 7) % 65536) - 32768
                   ELSE (((d.doc_id * 3 + 7) * 31 + (ks.k - 4960) * 7) % 65536) - 32768
              END AS sv
            FROM documents d CROSS JOIN ks),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      act AS (SELECT doc_id, f FROM fr WHERE fe > 5760000000),
      isl AS (SELECT doc_id, f,
                CASE WHEN f - LAG(f) OVER (PARTITION BY doc_id ORDER BY f) - 1 <= 1
                     THEN 0 ELSE 1 END AS brk
              FROM act),
      grp AS (SELECT doc_id, f,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY f) AS seg
              FROM isl),
      seg AS (SELECT doc_id, seg, min(f) AS start_frame,
                     max(f) - min(f) + 1 AS span_frames
              FROM grp GROUP BY doc_id, seg
              HAVING max(f) - min(f) + 1 >= 3),
      idx AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
                       AS seg_idx,
                     start_frame, span_frames
              FROM seg),
      joined AS (SELECT i.doc_id, i.seg_idx, s.k, s.sv,
                        LAG(s.sv) OVER (PARTITION BY i.doc_id, i.seg_idx ORDER BY s.k)
                          AS pv
                 FROM idx i JOIN s ON s.doc_id = i.doc_id
                   AND s.k >= i.start_frame * 160
                   AND s.k < (i.start_frame + i.span_frames) * 160)
      SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(sv * sv) AS BIGINT) AS sum_sq,
             CAST(max(abs(sv)) AS BIGINT) AS peak,
             CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
               ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
               AS BIGINT) AS zero_crossings
      FROM joined GROUP BY doc_id, seg_idx
      ORDER BY doc_id, seg_idx""",

    // q321: per-doc peak from the closed form, every normalized sample
    // via the explicit floor-div idiom (q299's), stats like q282's.
    "q321_gain_normalize" -> """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      s AS (SELECT d.doc_id, ks.k,
                   ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768 AS sv
            FROM documents d CROSS JOIN ks),
      pk AS (SELECT doc_id, max(abs(sv)) AS peak FROM s GROUP BY doc_id),
      o AS (SELECT s.doc_id, s.k,
              ((sv * 16384) - (((sv * 16384) % peak + peak) % peak)) // peak AS nv
            FROM s JOIN pk USING (doc_id)),
      lagd AS (SELECT doc_id, k, nv,
                      LAG(nv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM o)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(nv * nv) AS BIGINT) AS sum_sq,
             CAST(max(abs(nv)) AS BIGINT) AS peak,
             CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
               ((pv >= 0 AND nv < 0) OR (pv < 0 AND nv >= 0)))
               AS BIGINT) AS zero_crossings
      FROM lagd GROUP BY doc_id ORDER BY doc_id""",

    // q323: L/R regenerated at interleaved positions 2i/2i+1, the mono
    // sample via the explicit floor-div-by-2 idiom, stats like q282's.
    "q323_stereo_downmix" -> """
      WITH ps AS (SELECT unnest(range(0, 480)) AS i),
      v AS (SELECT d.doc_id, ps.i,
              ((d.doc_id * 31 + (2 * ps.i) * 7) % 65536) - 32768 AS lv,
              ((d.doc_id * 31 + (2 * ps.i + 1) * 7) % 65536) - 32768 AS rv
            FROM documents d CROSS JOIN ps),
      m AS (SELECT doc_id, i, lv, rv,
              ((lv + rv) - (((lv + rv) % 2 + 2) % 2)) // 2 AS mv
            FROM v),
      lagd AS (SELECT doc_id, i, lv, rv, mv,
                      LAG(mv) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM m)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(mv * mv) AS BIGINT) AS mono_sum_sq,
             CAST(max(abs(mv)) AS BIGINT) AS mono_peak,
             CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
               ((pv >= 0 AND mv < 0) OR (pv < 0 AND mv >= 0)))
               AS BIGINT) AS mono_zc,
             CAST(sum(lv * lv) AS BIGINT) AS left_sum_sq,
             CAST(sum(rv * rv) AS BIGINT) AS right_sum_sq
      FROM lagd GROUP BY doc_id ORDER BY doc_id""",

    // q328: q282's closed form aggregated GLOBALLY (zero crossings stay
    // per-row — the kernel's scan resets per blob), the same quantized
    // rms/activity finishes.
    "q328_streaming_audio" -> """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      s AS (SELECT d.doc_id, ks.k,
                   ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768 AS sv
            FROM documents d CROSS JOIN ks),
      lagd AS (SELECT doc_id, k, sv,
                      LAG(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM s),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(sv * sv) AS BIGINT) AS ss,
                     CAST(max(abs(sv)) AS BIGINT) AS peak,
                     CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
                       ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
                       AS BIGINT) AS zc
              FROM lagd),
      fa AS (SELECT CAST(count(*) AS BIGINT) AS nf,
                    CAST(count(*) FILTER (WHERE fe > 68719476736) AS BIGINT) AS af
             FROM fr)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
             t.n AS total_samples, t.peak,
             t.zc AS total_zero_crossings,
             CAST(floor(sqrt(CAST(t.ss AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rms,
             CAST(floor(CAST(f.af AS DOUBLE) / CAST(f.nf AS DOUBLE)
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS activity
      FROM tot t, fa f""",

    // q283: clean rows = the q282 formulas + header constants; corrupt
    // rows = the flag with nulls (and the operator's documented
    // zero-not-null counting columns).
    "q283_wav_container" -> """
      WITH ks AS (SELECT unnest(range(0, 480)) AS k),
      s AS (SELECT d.doc_id, ks.k,
                   ((d.doc_id * 31 + ks.k * 7) % 65536) - 32768 AS sv
            FROM documents d CROSS JOIN ks
            WHERE d.doc_id % 43 <> 0),
      lagd AS (SELECT doc_id, k, sv,
                      LAG(sv) OVER (PARTITION BY doc_id ORDER BY k) AS pv
               FROM s),
      agg AS (SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_samples,
                     sum(sv * sv) AS ss,
                     CAST(max(abs(sv)) AS BIGINT) AS peak,
                     CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
                       ((pv >= 0 AND sv < 0) OR (pv < 0 AND sv >= 0)))
                       AS BIGINT) AS zero_crossings
              FROM lagd GROUP BY doc_id),
      fr AS (SELECT doc_id, k // 160 AS f, sum(sv * sv) AS fe
             FROM s GROUP BY doc_id, k // 160),
      fa AS (SELECT doc_id,
                    CAST(count(*) AS BIGINT) AS n_frames,
                    CAST(count(*) FILTER (WHERE fe > 68719476736) AS BIGINT)
                      AS active_frames
             FROM fr GROUP BY doc_id)
      SELECT a.doc_id, true AS wav_valid,
             CAST(8000 AS BIGINT) AS sample_rate,
             CAST(960 AS BIGINT) AS data_bytes,
             a.n_samples,
             CAST(floor(sqrt(CAST(a.ss AS DOUBLE) / CAST(a.n_samples AS DOUBLE))
                  * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS rms,
             a.peak, a.zero_crossings,
             CAST(floor(CAST(f.active_frames AS DOUBLE)
                  / CAST(f.n_frames AS DOUBLE) * 1000000.0 + 0.5) AS DOUBLE)
               / 1000000.0 AS activity
      FROM agg a JOIN fa f ON f.doc_id = a.doc_id
      UNION ALL
      SELECT doc_id, false, NULL, NULL, NULL, NULL, NULL,
             CAST(0 AS BIGINT), NULL
      FROM documents WHERE doc_id % 43 = 0
      ORDER BY doc_id""",

    // q284: the ITU G.711 decode formula replayed per code (complement,
    // sign/exponent/mantissa unpack, bias 0x84), then the q282 stats.
    // q310: the decode formula (q284's mirror) sampled at idx and idx+1,
    // interpolated with the explicit floor-div idiom at ratio 2
    // (odd outputs are floor midpoints), then the exact stats.
    "q310_telephony_chain" -> """
      WITH js AS (SELECT unnest(range(0, 959)) AS j),
      r AS (SELECT d.doc_id, js.j, js.j // 2 AS idx, js.j % 2 AS odd
            FROM documents d CROSS JOIN js),
      v AS (SELECT doc_id, j, odd,
              CASE WHEN (255 - ((doc_id * 17 + (idx) * 11) % 256)) // 128 = 1
                   THEN 132 - ((((255 - ((doc_id * 17 + (idx) * 11) % 256)) % 16) * 8 + 132) << (((255 - ((doc_id * 17 + (idx) * 11) % 256)) // 16) % 8))
                   ELSE ((((255 - ((doc_id * 17 + (idx) * 11) % 256)) % 16) * 8 + 132) << (((255 - ((doc_id * 17 + (idx) * 11) % 256)) // 16) % 8)) - 132 END AS s0,
              CASE WHEN (255 - ((doc_id * 17 + (idx + 1) * 11) % 256)) // 128 = 1
                   THEN 132 - ((((255 - ((doc_id * 17 + (idx + 1) * 11) % 256)) % 16) * 8 + 132) << (((255 - ((doc_id * 17 + (idx + 1) * 11) % 256)) // 16) % 8))
                   ELSE ((((255 - ((doc_id * 17 + (idx + 1) * 11) % 256)) % 16) * 8 + 132) << (((255 - ((doc_id * 17 + (idx + 1) * 11) % 256)) // 16) % 8)) - 132 END AS s1
            FROM r),
      o AS (SELECT doc_id, j,
              CASE WHEN odd = 0 THEN s0
                   ELSE s0 + ((s1 - s0) - (((s1 - s0) % 2 + 2) % 2)) // 2 END AS rv
            FROM v),
      lagd AS (SELECT doc_id, j, rv,
                      LAG(rv) OVER (PARTITION BY doc_id ORDER BY j) AS pv
               FROM o)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(rv * rv) AS BIGINT) AS sum_sq,
             CAST(max(abs(rv)) AS BIGINT) AS peak,
             CAST(count(*) FILTER (WHERE pv IS NOT NULL AND
               ((pv >= 0 AND rv < 0) OR (pv < 0 AND rv >= 0)))
               AS BIGINT) AS zero_crossings
      FROM lagd GROUP BY doc_id ORDER BY doc_id""",

    "q284_mulaw_decode" -> mulawStatsOracle,

    // q291: encode∘decode is the identity on the decoded sample
    // lattice (negative zero collapses to canonical zero, which
    // decodes identically), so the re-encoded stream's features equal
    // q284's exactly.
    "q291_mulaw_encode" -> mulawStatsOracle,

    // q285: per-frame pixel sums regenerated from the synthetic-PNG mix32
    // chain — the split/order/decode chain must reproduce them exactly.
    "q285_frame_stream" -> """
      WITH js AS (SELECT unnest(range(0, 3)) AS j),
      ks AS (SELECT unnest(range(0, 64)) AS k),
      hx AS (SELECT d.doc_id, js.j,
                    ((d.doc_id * 3 + js.j + 1)*4096 + (ks.k + 2)) % 4294967296 AS h
             FROM documents d CROSS JOIN js CROSS JOIN ks),
      h1 AS (SELECT doc_id, j, xor(h, h // 65536) AS h FROM hx),
      h2 AS (SELECT doc_id, j, (h * 49632349) % 4294967296 AS h FROM h1),
      h3 AS (SELECT doc_id, j, xor(h, h // 8192) AS h FROM h2),
      h4 AS (SELECT doc_id, j, (h * 85624441) % 4294967296 AS h FROM h3),
      px AS (SELECT doc_id, j, 1 + xor(h, h // 65536) % 255 AS g FROM h4),
      gs AS (SELECT doc_id, j, sum(g) AS gray_sum FROM px GROUP BY doc_id, j)
      SELECT doc_id, CAST(j AS INTEGER) AS frame_idx, true AS decoded,
             CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
             CAST(gray_sum AS BIGINT) AS gray_sum
      FROM gs ORDER BY doc_id, frame_idx""",

    // q334: the JPEG container is deterministic from the input dims —
    // regenerate flags + dims from the plant formulas (corrupt every
    // 43rd; 4×4 for every 3rd, else 8×8).
    "q334_jpeg_dims" -> """
      SELECT doc_id,
             (doc_id % 43 <> 0) AS transcoded,
             (doc_id % 43 <> 0) AS is_jpeg,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 8 END AS INTEGER)
             END AS width,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 8 END AS INTEGER)
             END AS height
      FROM documents ORDER BY doc_id""",

    // q335: every container field regenerated from the plant formulas
    // with the oracle's OWN Layer III tables (ISO 11172-3/13818-3);
    // duration is the exact integer floor n_frames·spf·1000 // rate.
    "q335_mp3_info" -> """
      WITH p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS ver,
               1 + doc_id % 14 AS bidx,
               doc_id % 3 AS ridx,
               2 + doc_id % 4 AS nf,
               doc_id % 2 = 0 AS mono
        FROM documents),
      f AS (
        SELECT doc_id, ver, nf, mono,
               CASE WHEN ver = 1
                    THEN [44100, 48000, 32000][CAST(ridx + 1 AS INT)]
                    ELSE [22050, 24000, 16000][CAST(ridx + 1 AS INT)] END AS rate,
               CASE WHEN ver = 1
                    THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320][CAST(bidx AS INT)]
                    ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][CAST(bidx AS INT)] END AS kbps
        FROM p)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_mp3,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(ver AS BIGINT) END AS version,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(rate AS BIGINT) END AS sample_rate,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(kbps AS BIGINT) END AS bitrate_kbps,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN mono THEN 1 ELSE 2 END AS BIGINT) END AS channels,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(nf AS BIGINT) END AS n_frames,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST((nf * (CASE WHEN ver = 1 THEN 1152 ELSE 576 END) * 1000) // rate
                       AS BIGINT) END AS duration_ms
      FROM f ORDER BY doc_id""",

    // q336: every container field regenerated from the plant formulas;
    // the CRC-corrupt plant (every 11th) surfaces as one fewer counted
    // page and the PREVIOUS page's granule (or the BOS's 0 when the only
    // audio page is the corrupt one — duration clamps at 0); Opus
    // duration is the exact RFC 7845 form max(0, granule − preskip)·
    // 1000 // 48000.
    "q336_ogg_opus_info" -> """
      WITH p AS (
        SELECT doc_id,
               1 + doc_id % 2 AS ch,
               312 + doc_id % 100 AS preskip,
               1 + doc_id % 3 AS np,
               960 * (1 + doc_id % 4) AS spp,
               doc_id % 11 = 0 AS bad_crc
        FROM documents),
      f AS (
        SELECT doc_id, ch, preskip,
               1 + np - CASE WHEN bad_crc THEN 1 ELSE 0 END AS n_pages,
               CASE WHEN bad_crc THEN
                      CASE WHEN np = 1 THEN 0 ELSE preskip + (np - 1) * spp END
                    ELSE preskip + np * spp END AS last_granule
        FROM p)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_ogg,
             CASE WHEN doc_id % 43 <> 0 THEN TRUE END AS is_opus,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(ch AS BIGINT) END AS channels,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(preskip AS BIGINT) END AS pre_skip,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_pages AS BIGINT) END AS n_pages,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(last_granule AS BIGINT) END AS last_granule,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST((greatest(0, last_granule - preskip) * 1000) // 48000 AS BIGINT)
             END AS duration_ms
      FROM f ORDER BY doc_id""",

    // q337: every field regenerated from the plant formulas; the sizes
    // come from the REAL round trip (isize/n_decoded = the text's UTF-8
    // byte length — DuckDB's octet_length(encode(text))), and the
    // CRC-tamper plant surfaces as crc_ok = false with the decode
    // intact.
    "q337_gzip_info" -> """
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_gzip,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(doc_id % 100000 AS BIGINT) END AS mtime,
             CASE WHEN doc_id % 43 <> 0 THEN CAST((doc_id % 3) * 2 AS BIGINT) END AS xfl,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 255 END AS BIGINT) END AS os,
             CASE WHEN doc_id % 43 <> 0 THEN doc_id % 5 = 0 END AS has_name,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) END AS isize,
             CASE WHEN doc_id % 43 <> 0 THEN doc_id % 11 <> 0 END AS crc_ok,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) END AS n_decoded
      FROM documents ORDER BY doc_id""",

    // q338: every count and Content-Length regenerated closed-form from
    // the plant formulas (record j of 1 + doc_id % 4 cycles type by
    // j % 3; body 'x'·(10 + (doc_id·7 + j·13) % 90); response blocks
    // prepend a 19-byte 200 or 26-byte 404 HTTP status frame by
    // (doc_id + j) % 6); the CRC-tamper plant (every 11th, last member)
    // surfaces ONLY in n_crc_bad — counts and totals must hold through
    // it.
    "q338_warc_info" -> """
      WITH p AS (
        SELECT doc_id, 1 + doc_id % 4 AS n_rec FROM documents),
      r AS (
        SELECT doc_id, n_rec, unnest(generate_series(0, n_rec - 1)) AS j
        FROM p),
      f AS (
        SELECT doc_id, n_rec, j, j % 3 AS ty,
               10 + (doc_id*7 + j*13) % 90 AS body_len,
               (j % 3 = 0 AND (doc_id + j) % 6 <> 0) AS http_ok,
               CASE WHEN j % 3 = 0
                    THEN CASE WHEN (doc_id + j) % 6 = 0 THEN 26
                              WHEN (doc_id + j) % 6 = 2 THEN 24
                              ELSE 19 END
                    ELSE 0 END AS prefix_len
        FROM r),
      agg AS (
        SELECT doc_id, max(n_rec) AS n_rec, count(*) AS n_records,
               sum(CASE WHEN ty = 0 THEN 1 ELSE 0 END) AS n_response,
               sum(CASE WHEN ty = 1 THEN 1 ELSE 0 END) AS n_request,
               sum(CASE WHEN ty = 2 THEN 1 ELSE 0 END) AS n_metadata,
               sum(CASE WHEN http_ok THEN 1 ELSE 0 END) AS n_http_ok,
               sum(body_len + prefix_len) AS content_total
        FROM f GROUP BY doc_id)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_warc,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_rec AS BIGINT) END AS n_members,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_records AS BIGINT) END AS n_records,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_response AS BIGINT) END AS n_response,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_request AS BIGINT) END AS n_request,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_metadata AS BIGINT) END AS n_metadata,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_http_ok AS BIGINT) END AS n_http_ok,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(content_total AS BIGINT) END AS content_total,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
             END AS n_crc_bad
      FROM agg ORDER BY doc_id""",

    // q339: every count and size regenerated closed-form from the plant
    // formulas (sample k of 1 + doc_id % 3 carries a .txt of
    // 5 + (doc_id·3 + k·7) % 60 bytes and a .bin of
    // 20 + (doc_id·5 + k·11) % 100 bytes); the checksum-tamper plant
    // (every 11th, last entry = the last sample's .bin) drops that entry
    // from n_entries/n_bin/total_size while its key survives via the
    // sibling .txt — the exclusion semantics are hash-visible.
    "q339_tar_shard_info" -> """
      WITH p AS (
        SELECT doc_id, 1 + doc_id % 3 AS ns, doc_id % 11 = 0 AS bad
        FROM documents),
      r AS (
        SELECT doc_id, ns, bad, unnest(generate_series(0, ns - 1)) AS k
        FROM p),
      f AS (
        SELECT doc_id, ns, k,
               5 + (doc_id*3 + k*7) % 60 AS lt,
               20 + (doc_id*5 + k*11) % 100 AS lb,
               (bad AND k = ns - 1) AS drop_bin
        FROM r),
      agg AS (
        SELECT doc_id, max(ns) AS ns,
               sum(2 - CASE WHEN drop_bin THEN 1 ELSE 0 END) AS n_entries,
               sum(lt + CASE WHEN drop_bin THEN 0 ELSE lb END) AS total_size,
               count(*) AS n_txt,
               sum(CASE WHEN drop_bin THEN 0 ELSE 1 END) AS n_bin
        FROM f GROUP BY doc_id)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_tar,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_entries AS BIGINT) END AS n_entries,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(ns AS BIGINT) END AS n_keys,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(total_size AS BIGINT) END AS total_size,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_txt AS BIGINT) END AS n_txt,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_bin AS BIGINT) END AS n_bin,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
             END AS n_chksum_bad
      FROM agg ORDER BY doc_id""",

    // q340: title and tallies regenerated closed-form (nav links
    // m = 1 + doc_id % 5, plus the footer link; 30 fixed element tags +
    // 2 per nav link); the extracted text must equal the document text
    // EXACTLY — the oracle just reads the source column, so any trap
    // leak (script string, style rule, boilerplate heading), entity
    // miss, or whitespace drift fails the hash.
    "q340_html_extract" -> """
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_html,
             CASE WHEN doc_id % 43 <> 0
                  THEN 'doc ' || doc_id || ' & co' END AS title,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(2 + doc_id % 5 AS INTEGER) END AS n_links,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(30 + 2 * (1 + doc_id % 5) AS INTEGER) END AS n_tags,
             CASE WHEN doc_id % 43 <> 0 THEN coalesce(text, '') END AS text
      FROM documents ORDER BY doc_id""",

    // q341: q340's closed forms, recovered through the whole shard path
    // — the oracle reads the source table directly, so the gate is
    // byte-exact text recovery through gzip -> WARC -> HTTP -> HTML.
    "q341_warc_html_text" -> """
      SELECT doc_id,
             (doc_id % 43 <> 0) AS extracted,
             CASE WHEN doc_id % 43 <> 0
                  THEN 'doc ' || doc_id || ' & co' END AS title,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(2 + doc_id % 5 AS INTEGER) END AS n_links,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(30 + 2 * (1 + doc_id % 5) AS INTEGER) END AS n_tags,
             CASE WHEN doc_id % 43 <> 0 THEN coalesce(text, '') END AS text
      FROM documents ORDER BY doc_id""",

    // q342: every field regenerated closed-form; fcs and n_decoded are
    // the text's UTF-8 byte length (the REAL round trip's size), the
    // tamper plant (every 11th, checksum guaranteed) surfaces ONLY as
    // decode_ok = false with a null n_decoded.
    "q342_zstd_info" -> """
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_zstd,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
             END AS fcs,
             CASE WHEN doc_id % 43 <> 0
                  THEN (doc_id % 2 = 0 OR doc_id % 11 = 0) END AS has_checksum,
             CASE WHEN doc_id % 43 <> 0 THEN doc_id % 11 <> 0 END AS decode_ok,
             CASE WHEN doc_id % 43 <> 0 AND doc_id % 11 <> 0
                  THEN CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
             END AS n_decoded
      FROM documents ORDER BY doc_id""",

    // q343: q338's per-doc closed forms aggregated globally — corrupt
    // shards count only in bad_rows (their per-member counters are the
    // fail sentinel, not data).
    "q343_streaming_container" -> """
      WITH p AS (SELECT doc_id, 1 + doc_id % 4 AS n_rec FROM documents),
      clean AS (SELECT * FROM p WHERE doc_id % 43 <> 0),
      r AS (SELECT doc_id, n_rec, unnest(generate_series(0, n_rec - 1)) AS j
            FROM clean),
      f AS (SELECT doc_id, j % 3 = 0 AS is_resp,
                   10 + (doc_id*7 + j*13) % 90
                     + CASE WHEN j % 3 = 0
                            THEN CASE WHEN (doc_id + j) % 6 = 0 THEN 26
                                      WHEN (doc_id + j) % 6 = 2 THEN 24
                                      ELSE 19 END
                            ELSE 0 END AS clen,
                   (j % 3 = 0 AND (doc_id + j) % 6 <> 0) AS http_ok
            FROM r)
      SELECT (SELECT count(*) FROM p) AS n_rows,
             (SELECT count(*) FROM p WHERE doc_id % 43 = 0) AS bad_rows,
             (SELECT CAST(coalesce(sum(n_rec), 0) AS BIGINT) FROM clean) AS n_members,
             (SELECT CAST(coalesce(sum(n_rec), 0) AS BIGINT) FROM clean) AS n_records,
             CAST(sum(CASE WHEN is_resp THEN 1 ELSE 0 END) AS BIGINT) AS n_response,
             CAST(sum(CASE WHEN http_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_http_ok,
             CAST(sum(clen) AS BIGINT) AS content_total,
             (SELECT CAST(count(*) AS BIGINT) FROM clean
              WHERE doc_id % 11 = 0) AS n_crc_bad
      FROM f""",

    // q344: every count closed-form from the plant formulas; n_chars =
    // the text's code points plus the planted multibyte suffix (DuckDB
    // length() counts code points), n_invalid = the planted junk-byte
    // count, encoding priority mirrors the synthesis (9 before 43).
    "q344_charset_info" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN 'utf16le'
                  WHEN doc_id % 43 = 0 THEN 'utf16be'
                  ELSE 'utf8' END AS encoding,
             CASE WHEN doc_id % 9 <> 0 AND doc_id % 43 <> 0
                  THEN CAST(length(coalesce(text, ''))
                       + doc_id % 4 + doc_id % 3 + doc_id % 2 AS BIGINT)
             END AS n_chars,
             CASE WHEN doc_id % 9 <> 0 AND doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 11 = 0
                                 THEN 1 + doc_id % 3 ELSE 0 END AS BIGINT)
             END AS n_invalid,
             CASE WHEN doc_id % 9 <> 0 AND doc_id % 43 <> 0
                  THEN CAST(doc_id % 4 + doc_id % 3 + doc_id % 2 AS BIGINT)
             END AS n_multibyte,
             CASE WHEN doc_id % 9 <> 0 AND doc_id % 43 <> 0
                  THEN doc_id % 5 = 0 END AS has_bom
      FROM documents ORDER BY doc_id""",

    // q345: every decision closed-form — path by kind, the anybot
    // verdict by the longest matching star-group rule (the $-anchored
    // Allow plant on every 3rd), the graftbot verdict by its OWN group
    // only, garbage robots (every 43rd) deciding allow-with-no-delay.
    "q345_robots_decisions" -> """
      WITH k AS (SELECT doc_id, doc_id % 4 AS kind, doc_id % 43 = 0 AS garbage
                 FROM documents)
      SELECT doc_id,
             CASE WHEN kind = 0 THEN '/public/x'
                  WHEN kind = 1 THEN '/private/x'
                  WHEN kind = 2 THEN '/private/ok'
                  ELSE '/g' || CAST(doc_id % 5 AS VARCHAR) || '/y' END AS path,
             CASE WHEN garbage THEN TRUE
                  WHEN kind = 1 THEN FALSE
                  WHEN kind = 2 THEN doc_id % 3 = 0
                  ELSE TRUE END AS anybot_allowed,
             CASE WHEN garbage THEN NULL
                  ELSE CAST(1 + doc_id % 7 AS BIGINT) END AS anybot_delay,
             CASE WHEN garbage THEN TRUE
                  WHEN kind = 3 THEN FALSE
                  ELSE TRUE END AS bot_allowed
      FROM k ORDER BY doc_id""",

    // q346: every tally closed-form from the plant formulas; the
    // CRC-tamper plant (every 11th, last directory entry) surfaces ONLY
    // in n_crc_bad.
    "q346_zip_info" -> """
      WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS ne FROM documents),
      r AS (SELECT doc_id, ne, unnest(generate_series(0, ne - 1)) AS k
            FROM p),
      f AS (SELECT doc_id, ne,
                   7 + (doc_id*3 + k*5) % 50 AS usize,
                   (doc_id + k) % 3 = 0 AS stored
            FROM r),
      agg AS (SELECT doc_id, max(ne) AS ne,
                     sum(CASE WHEN stored THEN 1 ELSE 0 END) AS n_stored,
                     sum(usize) AS total_usize
              FROM f GROUP BY doc_id)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_zip,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(ne AS BIGINT) END AS n_entries,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(n_stored AS BIGINT) END AS n_stored,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(total_usize AS BIGINT) END AS total_usize,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
             END AS n_crc_bad,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(0 AS BIGINT) END AS n_verify_fail
      FROM agg ORDER BY doc_id""",

    // q347: every tally closed-form from the plant formulas; the
    // data-CRC tamper (every 11th, last record) surfaces ONLY in
    // n_crc_bad.
    "q347_tfrecord_info" -> """
      WITH p AS (SELECT doc_id, 1 + doc_id % 4 AS nr FROM documents),
      r AS (SELECT doc_id, nr, unnest(generate_series(0, nr - 1)) AS k
            FROM p),
      agg AS (SELECT doc_id, max(nr) AS nr,
                     sum(5 + (doc_id*7 + k*11) % 80) AS total_bytes
              FROM r GROUP BY doc_id)
      SELECT doc_id,
             (doc_id % 43 <> 0) AS is_tfrecord,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(nr AS BIGINT) END AS n_records,
             CASE WHEN doc_id % 43 <> 0 THEN CAST(total_bytes AS BIGINT) END AS total_bytes,
             CASE WHEN doc_id % 43 <> 0
                  THEN CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
             END AS n_crc_bad
      FROM agg ORDER BY doc_id""",

    // q348: every tally closed-form from the plant formulas — per
    // tensor k: rank 1 + (doc_id+k)%3, dims 2 + (doc_id+k+j)%4, F16
    // when (doc_id+2k)%3 = 0; the truncation plant (every 11th) and
    // wholesale corruption (every 43rd) both fail the row.
    "q348_safetensors_info" -> """
      WITH p AS (SELECT doc_id, 1 + doc_id % 4 AS nt,
                        (doc_id % 43 <> 0 AND doc_id % 11 <> 0) AS ok
                 FROM documents),
      r AS (SELECT doc_id, nt, ok, unnest(generate_series(0, nt - 1)) AS k
            FROM p),
      f AS (SELECT doc_id, nt, ok, k,
                   1 + (doc_id + k) % 3 AS rk,
                   2 + (doc_id + k) % 4 AS d0,
                   2 + (doc_id + k + 1) % 4 AS d1,
                   2 + (doc_id + k + 2) % 4 AS d2,
                   (doc_id + 2*k) % 3 = 0 AS f16
            FROM r),
      g AS (SELECT doc_id, nt, ok, k, rk, f16,
                   (CASE rk WHEN 1 THEN d0 WHEN 2 THEN d0*d1
                        ELSE d0*d1*d2 END)
                     * (CASE WHEN f16 THEN 2 ELSE 4 END) AS nbytes
            FROM f),
      agg AS (SELECT doc_id, max(nt) AS nt, bool_or(ok) AS ok,
                     sum(nbytes) AS data_bytes,
                     sum(CASE WHEN f16 THEN 0 ELSE 1 END) AS n_f32,
                     sum(CASE WHEN f16 THEN 1 ELSE 0 END) AS n_f16,
                     max(rk) AS max_rank
              FROM g GROUP BY doc_id)
      SELECT doc_id,
             ok AS is_safetensors,
             CASE WHEN ok THEN CAST(nt AS BIGINT) END AS n_tensors,
             CASE WHEN ok THEN CAST(data_bytes AS BIGINT) END AS data_bytes,
             CASE WHEN ok THEN CAST(n_f32 AS BIGINT) END AS n_f32,
             CASE WHEN ok THEN CAST(n_f16 AS BIGINT) END AS n_f16,
             CASE WHEN ok THEN CAST(max_rank AS BIGINT) END AS max_rank,
             CASE WHEN ok THEN doc_id % 5 = 0 END AS has_metadata
      FROM agg ORDER BY doc_id""",

    // q349: every tally closed-form from the plant formulas; the
    // truncation (every 11th) and wholesale corruption (every 43rd)
    // both fail the row (wire framing is all-or-nothing).
    "q349_proto_info" -> """
      WITH p AS (SELECT doc_id, 2 + doc_id % 4 AS nf,
                        (doc_id % 43 <> 0 AND doc_id % 11 <> 0) AS ok
                 FROM documents),
      r AS (SELECT doc_id, nf, ok, unnest(generate_series(0, nf - 1)) AS k
            FROM p),
      f AS (SELECT doc_id, nf, ok, k,
                   k % 2 = 0 AS is_v,
                   (doc_id*13 + k*7) % 1000 AS vval,
                   3 + (doc_id + k) % 20 AS blen
            FROM r),
      agg AS (SELECT doc_id, max(nf) AS nf, bool_or(ok) AS ok,
                     sum(CASE WHEN is_v THEN 1 ELSE 0 END) AS n_varint,
                     sum(CASE WHEN is_v THEN 0 ELSE 1 END) AS n_len,
                     sum(CASE WHEN is_v THEN vval ELSE 0 END) AS varint_sum,
                     sum(CASE WHEN is_v THEN 0 ELSE blen END) AS len_total
              FROM f GROUP BY doc_id)
      SELECT doc_id,
             ok AS is_proto,
             CASE WHEN ok THEN CAST(nf AS BIGINT) END AS n_fields,
             CASE WHEN ok THEN CAST(n_varint AS BIGINT) END AS n_varint,
             CASE WHEN ok THEN CAST(n_len AS BIGINT) END AS n_len,
             CASE WHEN ok THEN CAST(varint_sum AS BIGINT) END AS varint_sum,
             CASE WHEN ok THEN CAST(len_total AS BIGINT) END AS len_total
      FROM agg ORDER BY doc_id""",

    // q350: row-group/row tallies regenerated closed-form from the
    // plant formulas (1 + doc_id % 3 groups, group g holding
    // 5 + (doc_id*3 + g*7) % 20 rows, one INT64 column); the footer lie
    // (every 11th) flips tiling_ok with tallies INTACT, wholesale
    // corruption (every 43rd) fails the row.
    "q350_parquet_footer" -> """
      WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS nrg,
                        doc_id % 43 <> 0 AS ok,
                        doc_id % 11 <> 0 AS tile
                 FROM documents),
      r AS (SELECT doc_id, nrg, ok, tile,
                   unnest(generate_series(0, nrg - 1)) AS g
            FROM p),
      agg AS (SELECT doc_id, max(nrg) AS nrg, bool_or(ok) AS ok,
                     bool_or(tile) AS tile,
                     sum(5 + (doc_id*3 + g*7) % 20) AS n_rows
              FROM r GROUP BY doc_id)
      SELECT doc_id,
             ok AS is_parquet,
             CASE WHEN ok THEN CAST(nrg AS BIGINT) END AS n_row_groups,
             CASE WHEN ok THEN CAST(1 AS BIGINT) END AS n_columns,
             CASE WHEN ok THEN CAST(n_rows AS BIGINT) END AS n_rows,
             CASE WHEN ok THEN CAST(nrg AS BIGINT) END AS n_chunks,
             CASE WHEN ok THEN tile END AS tiling_ok
      FROM agg ORDER BY doc_id""",

    // q286: output pixels are the formula sampled at src = 2·dst.
    "q286_image_resize" -> """
      WITH xs AS (SELECT unnest(range(0, 4)) AS x),
      ys AS (SELECT unnest(range(0, 4)) AS y),
      px AS (SELECT d.doc_id, (2 * ys.y) * 8 + 2 * xs.x AS k
             FROM documents d CROSS JOIN xs CROSS JOIN ys
             WHERE d.doc_id % 41 <> 0),
      hx AS (SELECT doc_id, ((doc_id + 1)*4096 + (k + 2)) % 4294967296 AS h FROM px),
      h1 AS (SELECT doc_id, xor(h, h // 65536) AS h FROM hx),
      h2 AS (SELECT doc_id, (h * 49632349) % 4294967296 AS h FROM h1),
      h3 AS (SELECT doc_id, xor(h, h // 8192) AS h FROM h2),
      h4 AS (SELECT doc_id, (h * 85624441) % 4294967296 AS h FROM h3),
      g AS (SELECT doc_id,
                   sum(1 + xor(h, h // 65536) % 255) AS gs
            FROM h4 GROUP BY doc_id)
      SELECT doc_id, true AS resized, true AS decoded,
             CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
             CAST(gs AS BIGINT) AS gray_sum
      FROM g
      UNION ALL
      SELECT doc_id, false, false, NULL, NULL, NULL
      FROM documents WHERE doc_id % 41 = 0
      ORDER BY doc_id""",

    // q290: the ITU A-law decode formula (XOR 0x55, segment shift,
    // positive-when-bit7 sign) replayed per code, then the q282 stats.
    "q290_alaw_decode" -> alawStatsOracle,

    // q292: A-law encode∘decode is the EXACT identity on all 256
    // codes (no ±0 collapse), so the re-encoded stream's features
    // equal q290's verbatim.
    "q292_alaw_encode" -> alawStatsOracle,

    // q272: routing and reason are pure doc_id predicates (chain priority
    // mirrors the injection's when-chain); clean rows round-trip exactly.
    "q272_avro_dlq" -> """
      WITH flags AS (
        SELECT doc_id, lang, n_chars,
               (doc_id % 41 = 0 OR doc_id % 37 = 0 OR doc_id % 31 = 0 OR doc_id % 29 = 0) AS dead,
               CASE WHEN doc_id % 41 = 0 THEN 'bad_magic'
                    WHEN doc_id % 37 = 0 THEN 'short_header'
                    WHEN doc_id % 31 = 0 THEN 'unknown_schema_id'
                    WHEN doc_id % 29 = 0 THEN 'malformed_body' END AS dead_reason
        FROM documents)
      SELECT doc_id,
             CASE WHEN dead THEN NULL ELSE lang END AS lang,
             CASE WHEN dead THEN NULL ELSE n_chars END AS n_chars,
             dead AS is_dead,
             dead_reason
      FROM flags ORDER BY doc_id""",

    "q37_percentile" -> """
      SELECT l_returnflag,
             round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS p50_qty,
             round(CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE), 4) AS p90_qty,
             round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q38_weighted_mean" -> """
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) /
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS wmean_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
  )
}
