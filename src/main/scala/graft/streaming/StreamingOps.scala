package graft.streaming

import graft.Ckpt._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming surface of the engine (SURVEY.md §2.7 / §7 step 9).
 *
 * The reference is a post-hoc batch analysis of recorded streams; the
 * EXstream PAPER's system is online (explanations triggered as annotated
 * anomaly windows close). This module is the paper-guided streaming
 * extension: the same long observation format, produced incrementally —
 * watermarked event-time windows for metric rollups, and a
 * flatMapGroupsWithState session operator that buffers a bounded recent
 * history per trace and emits a closed labeled window downstream (where
 * the batch reward/leap operators take over unchanged).
 */
object StreamingOps {

  /** Watermarked tumbling-window rollup of a metric stream — the
    * streaming analogue of the per-window aggregations (counts, sums)
    * the batch engine computes. Append-mode safe. */
  def windowedMetricRollup(
      events: DataFrame, // (ts: timestamp, trace_id/feature keys, value)
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("feature"))
      .agg(
        count(lit(1)).as("n"),
        sum("value").as("sum_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))

  /** Watermarked windowed CARDINALITY rollup: distinct users per
    * tumbling window via the HLL++ sketch — `approx_count_distinct` is
    * a mergeable kilobyte aggregation state, so the streaming state per
    * open window is bounded regardless of how many distinct keys the
    * window sees (exact distinct would buffer every key). The
    * batch-side sketch error bound is pinned by QuantileSketchSpec; the
    * streaming test checks exactness at test cardinalities. */
  def windowedDistinctUsers(
      events: DataFrame, // (ts: timestamp, user_id, ...)
      watermark: String = "10 minutes",
      windowLen: String = "5 minutes",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(approx_count_distinct("user_id", rsd).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("n_users_approx"), col("n_events"))

  /** Streaming analogue of the batch gap-sessionization (q50): session
    * windows per key close when a gap exceeds `gap`, finalized by the
    * watermark — state per open session only, bounded like any session
    * aggregation. Append-mode safe. */
  def sessionRollup(
      events: DataFrame, // (ts: timestamp, user_id, ...)
      gap: String = "12 hours",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /**
   * Stream-stream event-time interval join — click->purchase
   * attribution: each purchase matched to every click by the same user
   * in the preceding `horizon`. Both inputs carry watermarks and the
   * join predicate bounds event time on BOTH ends, which is exactly the
   * contract Spark needs to evict buffered rows once the watermark
   * passes their interval — state stays proportional to the horizon,
   * not the stream history, on any number of executors (the join keys
   * shard it). Inner join + append mode: a purchase with no click in
   * the horizon never emits.
   */
  def attributeToClick(
      clicks: DataFrame, // (ts: timestamp, user_id, click_id)
      purchases: DataFrame, // (ts: timestamp, user_id, purchase_id, value)
      horizon: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("ts").as("click_ts"), col("user_id"), col("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("ts").as("purchase_ts"), col("user_id").as("purchase_user"),
        col("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
        col("user_id") === col("purchase_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"))
      .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts", "value")
  }

  /**
   * Streaming ingest dedup — the training-data pipeline's exact dedup
   * (q21) applied AT INGEST: suppress any document whose content hash was
   * already seen, with state bounded by the watermark
   * (`dropDuplicatesWithinWatermark`) so the dedup store does not grow
   * with the full corpus — the batch dedup pass remains the global
   * backstop across watermark horizons. State shards by hash across
   * executors like any keyed stream.
   *
   * @param docs streaming DataFrame with an event-time column `tsCol`
   *             and the document text in `textCol`
   */
  def dedupIngest(
      docs: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_md5", md5(encode(col(textCol), "UTF-8")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_md5")

  /**
   * Streaming NEAR-dup flagging at ingest — the registry check that
   * keeps near-copies of the EXISTING corpus out of the stream, where
   * [[dedupIngest]] only catches byte-exact repeats. The static corpus
   * is banded once (minhash signatures -> per-band hashes, the same
   * kernels the batch LSH join uses); each arriving document computes
   * its own bands (a narrow, stateless projection — fused shingle
   * kernel + the single-pass signature expression) and LEFT SEMI joins
   * the static bucket table: a band collision = candidate near-dup.
   * The emitted stream is the QUARANTINE side (doc ids sharing >= 1
   * band with the corpus, deduped within the watermark); exact
   * verification of quarantined docs is the batch side's job
   * (minhashLshPairs' verify stage) — the standard split of a
   * recall-biased streaming gate and a precision batch confirm.
   *
   * Scale shape: the bucket table is (band, band_hash) pairs — 16
   * longs per corpus doc; beyond broadcast size Spark runs the
   * stream-static join shuffled per micro-batch, still stateless.
   */
  def nearDupCandidatesIngest(
      docs: DataFrame, // streaming: (idCol, textCol, tsCol)
      corpus: DataFrame, // static: (idCol, textCol)
      idCol: String, textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour",
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val corpusBuckets = graft.operators.Dedup.bandHashes(
        graft.operators.Dedup.shingleSignatures(corpus, idCol, textCol, k, shingleN),
        k, bands)
      .select("band", "band_hash").distinct()
    val streamBands = graft.operators.Dedup.bandHashes(
      graft.operators.Dedup.shingleSignatures(
        docs, idCol, textCol, k, shingleN,
        repartitionForBatch = false, extraCols = Seq(tsCol)),
      k, bands, extraCols = Seq(tsCol))
    streamBands
      .join(corpusBuckets, Seq("band", "band_hash"), "left_semi")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("doc") // one quarantine row per doc
      .select(col("doc").as(idCol), col(tsCol))
  }

  /**
   * q106's streaming twin — PII redaction AT INGEST, the place a
   * production pipeline actually runs the cleaning stage (documents are
   * redacted before they ever land in the lake, so raw PII never
   * persists). A pure stateless codegen projection over `(doc_id,
   * atext)` — no state store, no watermark, scales as a map stage —
   * that DELEGATES to the same [[graft.Queries.piiReport]] definition
   * the batch query checks against DuckDB, so the batch and streaming
   * redaction semantics cannot drift (StreamingSpec replays the live
   * fixture and proves row-set equality with the batch q106 output).
   */
  def redactIngest(docs: DataFrame): DataFrame = graft.Queries.piiReport(docs)

  /**
   * Streaming banned-phrase blocklist scan — the phrase-filtering twin
   * of [[redactIngest]]: one Aho-Corasick pass per arriving document
   * matches the whole blocklist simultaneously (O(|text| + matches)
   * regardless of blocklist size), emitting per-(doc, pattern) hit
   * counts for quarantine routing. A pure stateless codegen-adjacent
   * projection — no state store, no watermark, scales as a map stage —
   * that DELEGATES to the same [[graft.Queries.blocklistHits]]
   * definition the batch query (q175) checks against DuckDB, so batch
   * and streaming match semantics cannot drift (StreamingSpec replays
   * the live fixture and proves row-set equality with the batch q175
   * output).
   */
  def blocklistIngest(
      docs: DataFrame,
      patterns: Seq[String] = graft.Queries.blocklistPatterns): DataFrame =
    graft.Queries.blocklistHits(docs, patterns)

  /**
   * Streaming CDC re-crawl gate — the chunk-level twin of
   * [[nearDupCandidatesIngest]], catching the case banding misses:
   * a document that is mostly VERBATIM REUSE of the existing corpus
   * but shifted or lightly edited (the re-crawl/boilerplate shape
   * content-defined chunking exists for — a point edit perturbs only
   * its neighboring chunk identities, so the untouched remainder still
   * collides with the registry). The static corpus chunks once into a
   * distinct chunk-hash registry (the round-9 `cdcChunkHashes` kernel);
   * each arriving document chunks statelessly, its chunk stream
   * LEFT-SEMI joins the registry, and a watermarked per-doc count
   * quarantines documents with >= `minKnown` registry hits. Scale
   * shape: the registry is (hash)-distinct — beyond broadcast size the
   * stream-static join runs shuffled per micro-batch, still stateless;
   * per-doc state is one windowed count bounded by the watermark.
   */
  /** Sentinel default for the streaming operators' size parameters:
    * resolve via the matching sizing rule ([[cdcModulusFor]],
    * [[mgCapacityFor]]) instead of an absolute constant — the
    * `Dedup.CapAuto` pattern (r9 verdict #1). Specs and oracle-adjacent
    * paths pin explicit values. */
  val SizeAuto: Int = -1

  /** CDC modulus sizing rule: the rolling-hash modulus IS the expected
    * chunk length in tokens, so size it from the document shape — a
    * typical web document (~512 tokens) split into `targetChunksPerDoc`
    * chunks needs modulus ≈ tokens/chunks. Floor 4: below that, chunk
    * identity degenerates toward per-token shingles and the dedup signal
    * drowns in chunk-boundary noise. The default resolves to 16 — the
    * value the q115 oracle pins. */
  def cdcModulusFor(typicalDocTokens: Long = 512L,
      targetChunksPerDoc: Int = 32): Int = {
    require(typicalDocTokens > 0 && targetChunksPerDoc > 0)
    math.max(4, (typicalDocTokens / targetChunksPerDoc).toInt)
  }

  /** Misra-Gries capacity sizing rule: the sketch's error bound is
    * n/(capacity+1), so a target RELATIVE error eps needs capacity =
    * ceil(1/eps) - 1 — the parameter is a precision contract, not a
    * memory knob. Default eps = 1% → capacity 99 (bounded state: ~100
    * counters per shard regardless of stream length). */
  def mgCapacityFor(relativeError: Double = 0.01): Int = {
    require(relativeError > 0 && relativeError < 1)
    math.max(1, math.ceil(1.0 / relativeError).toInt - 1)
  }

  def cdcRecrawlIngest(
      docs: DataFrame, // streaming: (idCol, textCol, tsCol)
      corpus: DataFrame, // static: (textCol)
      idCol: String, textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour",
      w: Int = 3, modulus: Int = SizeAuto,
      minKnown: Long = 4L): DataFrame = {
    val mod = if (modulus == SizeAuto) cdcModulusFor() else modulus
    val chUdf = udf((t: String) =>
      graft.functions.ShingleKernel.cdcChunkHashes(t, w, mod))
    val registry = corpus.select(explode(chUdf(col(textCol))).as("h")).distinct()
    docs
      .select(col(idCol), col(tsCol), explode(chUdf(col(textCol))).as("h"))
      // watermark BEFORE the semi-join: rows with no registry hit are
      // dropped by the join, but their event times must still advance
      // the watermark or an all-novel stretch would never finalize the
      // open quarantine windows
      .withWatermark(tsCol, watermark)
      .join(registry, Seq("h"), "left_semi")
      .groupBy(col(idCol), window(col(tsCol), "1 minute"))
      .agg(count(lit(1)).as("n_known_chunks"))
      .where(col("n_known_chunks") >= minKnown)
      .select(col(idCol), col("window.start").as("window_start"),
        col("n_known_chunks"))
  }

  /** One surviving counter of a sharded Misra-Gries summary: `est` is the
    * residual count (true count minus at most `n_shard/(capacity+1)`),
    * `n_shard` the shard's total instances so far — the error bound rides
    * along so a consumer can qualify every estimate. */
  case class MgEntry(shard: Int, token: String, est: Long, n_shard: Long)

  /**
   * Streaming heavy hitters by sharded Misra-Gries (Misra & Gries 1982;
   * mergeable-summaries form of Agarwal et al. 2013) — the
   * bounded-memory answer to "what are the hot tokens RIGHT NOW" that
   * the batch top-K (q51) answers only after a full pass. Exact
   * windowed counting of a Zipfian key would buffer every distinct key
   * in the state store (unbounded); the MG summary keeps AT MOST
   * `capacity` counters per shard, decrementing all of them when a new
   * key finds the table full — the classical guarantee follows: any
   * token whose true shard count exceeds n_shard/(capacity+1) is
   * GUARANTEED present, and every estimate sits within
   * [true - n_shard/(capacity+1), true]. StreamingHeavyHitterSpec
   * replays a skewed fixture and asserts exactly that bound, plus the
   * capacity ceiling on state.
   *
   * Scale shape: tokens shard by deterministic hash (String.hashCode —
   * stable across JVMs) so the state store distributes like any keyed
   * stream; each shard's state is a bounded Map (capacity counters + a
   * count scalar) regardless of stream length or key cardinality.
   * Update output mode: each micro-batch re-emits the summaries of
   * shards that changed, PLUS an `est = 0` tombstone for every token the
   * MG decrement evicted since the shard's previous emission — so the
   * consumer contract is exactly "keep the latest row per (shard, token)
   * by n_shard, then drop est = 0 rows"; without the tombstones a
   * stale pre-eviction counter would survive that rule (r9 advice).
   * Per-shard bounds compose to a global one (summing shard errors),
   * the mergeable-summary property — [[mergeHeavyHitters]] is that
   * merge, and StreamingHeavyHitterSpec asserts the composed bound.
   */
  def heavyHittersIngest(
      tokens: Dataset[String],
      capacity: Int = SizeAuto,
      shards: Int = 8): Dataset[MgEntry] = {
    // sized-by-default: SizeAuto → the 1%-relative-error capacity (99);
    // specs pin explicit small capacities to exercise the decrement path
    val cap = if (capacity == SizeAuto) mgCapacityFor() else capacity
    require(cap > 0 && shards > 0)
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(t => math.floorMod(if (t == null) 0 else t.hashCode, shards))
      .flatMapGroupsWithState[(Map[String, Long], Long), MgEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[String], state: GroupState[(Map[String, Long], Long)]) =>
          var (m, n) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          // tokens live in the PREVIOUS emission — any of them missing
          // from the new map was evicted and owes a tombstone
          val prevTokens = m.keySet
          rows.foreach { t =>
            n += 1
            m.get(t) match {
              case Some(c) => m = m.updated(t, c + 1)
              case None if m.size < cap => m = m.updated(t, 1L)
              case None =>
                // the MG step: a full table decrements EVERY counter —
                // one arrival cancels capacity+1 residuals at once,
                // which is where the n/(capacity+1) bound comes from
                m = m.iterator
                  .map { case (k, v) => (k, v - 1) }
                  .filter(_._2 > 0).toMap
            }
          }
          state.update((m, n))
          val tombstones = prevTokens.diff(m.keySet).iterator
            .map(t => MgEntry(shard, t, 0L, n))
          m.iterator.map { case (t, c) => MgEntry(shard, t, c, n) } ++ tombstones
      }
  }

  /** One row of the merged global heavy-hitter view: `est` under-counts the
    * true global count by at most `err_bound`; `n_total` is the merged
    * instance count the bound was computed against. */
  case class MgGlobal(token: String, est: Long, err_bound: Long, n_total: Long)

  /**
   * Merge per-shard Misra-Gries summaries into a global top-K — the
   * mergeable-summaries step (Agarwal et al., "Mergeable Summaries",
   * PODS 2012) the per-shard sketch promises but [[heavyHittersIngest]]
   * alone does not expose. Input is the raw Update-mode sink contents
   * (history included): the live summary is recovered per (shard, token)
   * by max-n_shard (tombstone-aware — an `est = 0` latest row means
   * evicted), then token estimates sum across shards and the error
   * bounds sum too: each shard contributes up to n_shard/(capacity+1)
   * missing mass for ANY token (present there or not), so the merged
   * guarantee is est ∈ [true - Σ_s n_s/(capacity+1), true], and any
   * token with true global count above that summed bound is present.
   *
   * Scale shape: the input is sketch-sized (shards × capacity live rows
   * plus sink history), every aggregate below is at most that size, and
   * the top-K is a TakeOrderedAndProject — nothing here touches the
   * stream's raw volume. Works for hash-sharded streams (each token in
   * one shard; the summed bound is then conservative) and for
   * arbitrarily-partitioned substreams (the general mergeable case).
   */
  def mergeHeavyHitters(
      entries: Dataset[MgEntry],
      capacity: Int,
      k: Int): Dataset[MgGlobal] = {
    require(capacity > 0 && k > 0)
    import entries.sparkSession.implicits._
    val live = entries.toDF()
      .groupBy("shard", "token")
      .agg(max_by(col("est"), col("n_shard")).as("est"))
      .where(col("est") > 0) // tombstoned == evicted from that shard
      .ckptLazy // consumers: per-token sums, shard totals
    val shardBounds = entries.toDF()
      .groupBy("shard").agg(max("n_shard").as("n_s"))
      .agg(sum(expr(s"n_s div ${capacity + 1}")).as("err_bound"),
        sum("n_s").as("n_total"))
    live.groupBy("token").agg(sum("est").as("est"))
      .orderBy(col("est").desc, col("token")).limit(k)
      .crossJoin(broadcast(shardBounds))
      .select(col("token"), col("est"), col("err_bound"), col("n_total"))
      .as[MgGlobal]
  }

  /** One emitted row of [[uniformSampleIngest]]: `live = 0` is a
    * tombstone (the doc fell out of the bottom-K when a smaller hash
    * arrived); `n_seen` is the stratum's monotone arrival count, the
    * recovery version key (latest per (stratum, doc_id) by n_seen,
    * then drop live = 0 — the MgEntry contract shape). */
  case class SampleEntry(stratum: String, doc_id: Long, h: String,
                         live: Int, n_seen: Long)

  /** One emitted row of [[cusumIngest]]: the per-key CUSUM state after
    * consuming observation `seq` (micro-scaled, the q228 units). */
  case class CusumRow(key: String, seq: Long, v: Long,
                      s_upper: Long, s_lower: Long, is_burst: Int)

  /**
   * q228's streaming twin — one-sided CUSUM change-point sums
   * (Page 1954) maintained AT INGEST: the online deployment of the
   * batch recipe, with the baseline (mum, sm — the truncating micro
   * mean and the rounded micro sigma, q228's exact parameters) trained
   * on history and passed in, and the recursion S ← max(0, S + y) run
   * directly — the batch query's cum-minus-prefix-min identity and this
   * recursion are THE SAME function of the ordered sequence, so a
   * replay of the day relation through this operator lands on exactly
   * the batch q228 rows (StreamingSpec proves it). State per key is TWO
   * longs — constant regardless of stream length (StreamingStateSpec
   * gates rows == live keys). Within a micro-batch rows sort by seq —
   * the batch day order; across batches order is arrival order (the
   * shared *Ingest contract).
   */
  def cusumIngest(
      obs: DataFrame, // (key, seq, v) — v the raw count per bucket
      mum: Long, sm: Long): Dataset[CusumRow] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("key").cast("string"), col("seq").cast("long"),
        col("v").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), CusumRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (su, sl) = state.getOption.getOrElse((0L, 0L))
          val out = rows.toSeq.sortBy(_._2).map { case (_, seq, v) =>
            su = math.max(0L, su + (v * 1000000L - mum - sm / 2))
            sl = math.max(0L, sl + (mum - sm / 2 - v * 1000000L))
            CusumRow(key, seq, v, su, sl,
              if (su > 4 * sm || sl > 4 * sm) 1 else 0)
          }
          state.update((su, sl))
          out.iterator
      }
  }

  /** One emitted row of [[crossSourceContamIngest]]: the arriving doc
    * with the pre-arrival source mask and the two contamination flags. */
  case class ContamRow(doc_id: Long, source: String, ch: String,
                       seen_mask: Long, cross_source: Int,
                       dup_same_source: Int)

  /**
   * q227's streaming twin — CROSS-SOURCE CONTAMINATION AT INGEST (r14
   * verdict #6): flag, as each document arrives, whether its exact
   * content has already been ingested from a DIFFERENT source (mirror
   * sites, syndication, template reuse — the q227 provenance question
   * answered online instead of in the nightly batch matrix) or from the
   * SAME source (the plain dup [[dedupIngest]] would suppress).
   *
   * State is ONE long per distinct content hash: the bitmask of sources
   * the hash has been seen from — q89's exact-bitmask convention, with
   * the same ≤64-source limit enforced against the `sourceBits`
   * registry passed in (a batch-trained aggregate-sized parameter, the
   * cusumIngest baseline pattern; past 64 sources the batch sketch path
   * is the tool). Constant bytes per key regardless of how often the
   * hash recurs (StreamingStateSpec gates it); keys shard across
   * executors like any keyed stream.
   *
   * Within a micro-batch rows sort by (seq, doc_id) — the deterministic
   * replay order; across batches order is arrival order (the shared
   * *Ingest contract). A full-history replay therefore reproduces the
   * batch recompute exactly (StreamingSpec proves it on the live
   * fixture).
   */
  def crossSourceContamIngest(
      docs: DataFrame, // (doc_id, source, text, seq)
      sourceBits: Map[String, Int]): Dataset[ContamRow] = {
    require(sourceBits.nonEmpty && sourceBits.size <= 64,
      s"exact bitmask state supports 1..64 sources, got ${sourceBits.size}")
    require(sourceBits.values.forall(b => b >= 0 && b < 64),
      "source bit indices must lie in [0, 64)")
    require(sourceBits.values.toSet.size == sourceBits.size,
      "source bit indices must be distinct")
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        md5(encode(col("text"), "UTF-8")).as("ch"), col("seq").cast("long"))
      .as[(Long, String, String, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, ContamRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (ch: String, rows: Iterator[(Long, String, String, Long)],
         state: GroupState[Long]) =>
          var mask = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._4, r._1)).map {
            case (id, src, _, _) =>
              val bit = 1L << sourceBits.getOrElse(src,
                throw new IllegalArgumentException(
                  s"source '$src' not in the sourceBits registry"))
              val before = mask
              mask |= bit
              ContamRow(id, src, ch, before,
                if ((before & ~bit) != 0L) 1 else 0,
                if ((before & bit) != 0L) 1 else 0)
          }
          state.update(mask)
          out.iterator
      }
  }

  /** One emitted row of [[interarrivalStatsIngest]]: the running
    * per-(user, event_type) gap aggregate after the micro-batch. The
    * squared-gap sum is split into base-1e18 limbs (qgap = qgap_hi*1e18
    * + qgap_lo) so it stays EXACT in long-typed state — squared
    * microsecond gaps overflow one BIGINT; the batch q190 recompute
    * recombines the limbs as BigInt (StreamingSpec proves equality). */
  case class GapStatsRow(event_type: String, user_id: Long,
                         n_gaps: Long, sgap: Long,
                         qgap_hi: Long, qgap_lo: Long)

  /**
   * q190's streaming twin — per-(user, event_type) inter-arrival gap
   * statistics maintained AT INGEST (the burstiness/CV baseline a rate
   * limiter or anomaly detector reads live instead of recomputing the
   * lag window over history): state per key is FIVE longs (last
   * timestamp, n, sum, and the squared-sum limbs) — constant-size
   * regardless of stream length, the Misra-Gries boundedness argument
   * at the key grain. Within a micro-batch rows sort by (us, event_id)
   * — the batch lag order — and across batches order is arrival order
   * (the ingest contract every *Ingest op shares); replayed in order,
   * the final per-key states sum per event_type to EXACTLY the batch
   * q190 aggregates (StreamingSpec proves it on the live fixture).
   * Production keys evict via timeout — the fixture gates state rows
   * == live keys (StreamingStateSpec).
   */
  def interarrivalStatsIngest(
      events: DataFrame // (user_id, event_type, us, event_id)
  ): Dataset[GapStatsRow] = {
    import events.sparkSession.implicits._
    val limb = BigInt("1000000000000000000") // 1e18
    events
      .select(col("user_id").cast("long"), col("event_type").cast("string"),
        col("us").cast("long"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long), GapStatsRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (last, n, s, qHi, qLo) =
            state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L, 0L))
          var q = BigInt(qHi) * limb + qLo
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach { r =>
            if (last != Long.MinValue) {
              val g = r._3 - last
              n += 1; s += g; q += BigInt(g) * g
            }
            last = r._3
          }
          state.update((last, n, s, (q / limb).toLong, (q % limb).toLong))
          Iterator.single(GapStatsRow(key._2, key._1, n, s,
            (q / limb).toLong, (q % limb).toLong))
      }
  }

  /** Spark-parity md5 hex of a string (the same value `md5(cast(cast(id
    * as string) as binary))` produces), so the streaming order key IS
    * the batch order key. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /**
   * DETERMINISTIC STREAMING UNIFORM SAMPLE — bottom-K priority sampling
   * (the mergeable, deterministic form of reservoir sampling: keep the
   * K stream elements with the smallest hash; Efraimidis & Spirakis
   * 2006 is the weighted generalization): per stratum, maintain the K
   * docs with the smallest (md5(doc_id), doc_id) key seen so far. The
   * hash key makes the sample a pure FUNCTION OF THE SET — independent
   * of arrival order, replays, or shard merges — which buys two
   * properties at once: exact batch parity (the final streaming state
   * equals the batch md5-order stratum head, CorpusSharding.stratumHead
   * — StreamingSpec proves set equality), and trivial mergeability
   * (union then re-take bottom-K).
   *
   * Scale shape: state is a bounded K-list per stratum regardless of
   * stream length (StreamingStateSpec gates rows == strata); per-row
   * maintenance is one hash + a bounded insert. Update output mode with
   * the MG tombstone contract: each batch re-emits changed strata's
   * members plus `live = 0` rows for evicted docs — recover with
   * "latest per (stratum, doc_id) by n_seen, drop live = 0".
   */
  def uniformSampleIngest(
      docs: DataFrame, // (strataCol, idCol, ...)
      strataCol: String, idCol: String, k: Int = 100): Dataset[SampleEntry] = {
    require(k > 0)
    import docs.sparkSession.implicits._
    docs
      .select(col(strataCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(List[(String, Long)], Long), SampleEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (stratum: String, rows: Iterator[(String, Long)],
         state: GroupState[(List[(String, Long)], Long)]) =>
          var (sample, n) = state.getOption.getOrElse((List.empty[(String, Long)], 0L))
          val prev = sample.map(_._2).toSet
          rows.foreach { case (_, id) =>
            n += 1
            if (!sample.exists(_._2 == id)) {
              val h = md5Hex(id.toString)
              // bounded insert: worth a binary merge at large k; at
              // sample sizes the sort of k+1 entries is the simple form
              sample = ((h, id) :: sample).sorted.take(k)
            }
          }
          state.update((sample, n))
          val cur = sample.map(_._2).toSet
          val tombstones = prev.diff(cur).iterator
            .map(id => SampleEntry(stratum, id, "", 0, n))
          sample.iterator.map { case (h, id) =>
            SampleEntry(stratum, id, h, 1, n) } ++ tombstones
      }
  }

  /**
   * q163's streaming twin — the TRAINED classifier applied AT INGEST
   * (the [[redactIngest]] placement: score documents before they land,
   * so the quality/langid gate runs where the data arrives). A pure
   * stateless projection: margin = w(64) (bias) + Σ_tokens
   * w(md5bucket(token)) — the SAME md5 bucket expression as q163's
   * feature path, so batch and streaming margins cannot drift
   * (StreamingSpec proves row equality against a driver recompute).
   * No state store, no watermark; scales as a map stage. The per-token
   * HOF is interpreted — acceptable at ingest rates; a fused kernel is
   * the q108 upgrade path if a measured corpus replay needs it.
   */
  def classifierScoreIngest(
      docs: DataFrame, // (doc_id, text)
      w: Seq[Long]): DataFrame = {
    require(w.length == 65, "weights = 64 hash buckets + bias")
    val wArr = array(w.map(lit(_)): _*)
    val margin = aggregate(
      transform(graft.functions.TextFunctions.tokens(col("text")),
        t => element_at(wArr,
          (conv(substring(md5(t.cast("binary")), 1, 8), 16, 10)
            .cast("long") % 64 + 1).cast("int"))),
      lit(w(64)),
      (acc, v) => acc + v)
    docs.select(col("doc_id"), margin.as("margin"),
      (margin > 0).cast("int").as("pred"))
  }

  /**
   * Mutable holder for the RTBF dedup registry a deletion stream folds
   * into — the static-registry pattern ([[nearDupCandidatesIngest]],
   * [[cdcRecrawlIngest]]) made WRITABLE: those registries are read-only
   * per micro-batch, the RTBF registry is the state each batch updates.
   * `state` swaps atomically per batch (foreachBatch runs batches
   * serially); readers always see a complete pre- or post-batch
   * registry, never a half-applied one.
   */
  final class RtbfRegistry(initial: graft.operators.Dedup.RtbfState) {
    @volatile var state: graft.operators.Dedup.RtbfState = initial
  }

  /**
   * q151's streaming twin (r10 verdict #6) — RIGHT-TO-BE-FORGOTTEN
   * deletion batches arrive as a stream and fold into the registry per
   * micro-batch via [[graft.operators.Dedup.rtbfStep]]: cluster
   * re-elections, bridge splits, and shingle re-attributions are applied
   * INCREMENTALLY, never a corpus recompute. Because steps compose
   * (rtbfStep maintains the pairs/postings evidence alongside the
   * clusters), replaying any batching of a deletion set yields exactly
   * one-batch [[graft.operators.Dedup.rtbfApply]] of the union —
   * StreamingSpec proves the set-equality on a bridge/cluster fixture.
   *
   * Returns the started query; the caller inspects `registry.state`
   * after the stream (or any batch) completes. Scale shape: each batch's
   * work is deletion-sized broadcasts + affected-cluster re-clustering
   * (RtbfScaleSpec measures shuffle bytes tracking the deletion, not the
   * corpus); state tables ride lazy localCheckpoints which are
   * MATERIALIZED here at the end of each batch — an eager=false
   * checkpoint truncates lineage only once an action runs on it, and
   * without the foreach below nothing in the loop is such an action, so
   * plans would nest one level per micro-batch and a long deletion
   * stream would pay growing analysis cost (r11 advice).
   */
  def rtbfIngest(
      deletions: DataFrame, // streaming: (doc_id)
      registry: RtbfRegistry,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    deletions.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val next = graft.operators.Dedup.rtbfStep(registry.state, batch)
          // force each lazy checkpoint NOW: the next batch then builds on
          // flat LogicalRDDs, not a plan stack one level deeper per batch
          Seq(next.clusters, next.pairs, next.postings, next.firstOcc)
            .foreach(_.queryExecution.toRdd.foreach(_ => ()))
          registry.state = next
        }
      }
      .start()

  /**
   * Trace-wide FP reference-series registry — the
   * [[nearDupCandidatesIngest]] pattern applied to the streaming/batch
   * FP boundary (r4 verdict #7): the batch FP filter matches a window's
   * pattern against the reference series of the WHOLE trace
   * (`FalsePositiveFilter.matchCounts` groups series per (feature,
   * trace)), while an online operator only holds the closing window's
   * buffer. Building the series ONCE from recorded history (the static
   * side, exactly like the banded corpus registry) and handing the map
   * to [[explainOnClose]] narrows that gap: a closing window then
   * matches against the series batch would use, not just its own rows.
   *
   * Ordering is the batch canonicalization — (window_key, timestamp,
   * value) — so the concatenation across windows is identical to the
   * batch collect_list sort. The collect is driver-sized by the same
   * argument as CorrelationFilter's k×k moments: one series per
   * feature, bounded by the trace's reference span (the paper's system
   * bounds buffered history the same way); deployments with unbounded
   * traces keep the window-local default (empty registry).
   */
  def refSeriesRegistry(obs: DataFrame): Map[String, Array[Double]] =
    graft.operators.FalsePositiveFilter.refSeries(obs, Seq("feature"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray)
      .toMap

  /** A labeled observation arriving on the stream. `type_data` -1 marks a
    * span-close control record for the window key. */
  case class StreamObs(window_key: String, feature: String, timestamp: Long,
                       type_data: Int, value: Double)

  /** A closed window's collected observations, ready for the batch reward
    * pipeline. */
  case class ClosedWindow(window_key: String, n_obs: Int,
                          features: Seq[String])

  /** A closed window's finished EXstream explanation. */
  case class StreamExplanation(window_key: String, n_obs: Int,
                               explanation: Seq[String])

  /** Per-window buffer with an O(1) size counter (List.size is O(n) —
    * counting per arriving row would be quadratic in window length) and
    * the max event time seen, which drives the event-time timeout. */
  case class WindowBuffer(n: Int, maxTsMs: Long, rows: List[StreamObs])

  /** Shared timeout plumbing for the two stateful operators.
    *
    * Event-time mode is the paper's trigger model made robust to LOST
    * close markers: the watermark (not the wall clock) decides that a
    * window can no longer receive rows, so replaying a recorded stream
    * fires the same timeouts at the same event times. `StreamObs.timestamp`
    * is interpreted as epoch milliseconds for watermarking; a window with
    * no close marker is force-closed when the watermark passes
    * `max(observed event time) + timeoutSpanMs`. */
  private def withEventTimeWatermark(
      obs: Dataset[StreamObs], eventTimeout: Boolean, watermarkDelay: String): Dataset[StreamObs] = {
    import obs.sparkSession.implicits._
    if (eventTimeout)
      obs.withColumn("event_ts", timestamp_millis(col("timestamp")))
        .withWatermark("event_ts", watermarkDelay)
        .as[StreamObs]
    else obs
  }

  /** Arm the state's timeout for the configured mode (call after every
    * `state.update`). The event-time timestamp is clamped one ms above the
    * current watermark — Spark rejects a timeout at or before it. */
  private def armTimeout(
      state: GroupState[WindowBuffer], buf: WindowBuffer,
      procTimeout: Boolean, eventTimeout: Boolean,
      timeoutDuration: String, timeoutSpanMs: Long): Unit = {
    if (procTimeout) state.setTimeoutDuration(timeoutDuration)
    if (eventTimeout) state.setTimeoutTimestamp(
      math.max(buf.maxTsMs + timeoutSpanMs, state.getCurrentWatermarkMs() + 1))
  }

  /**
   * The paper's ONLINE behavior (`exstream.pdf` §1: explanations
   * triggered as annotated anomaly windows close): buffer observations
   * per window, and the moment the close marker arrives, emit the full
   * EXstream explanation — class entropy / segmentation reward per
   * feature, ranking, leap cutoff — computed by the same pure kernels
   * the batch plan uses ([[graft.functions.EntropyCore]]), so streaming
   * and batch answers are bit-identical on identical windows.
   *
   * Scale shape: state and the at-close computation are bounded by one
   * window's span (label spans are 1-2k ticks in the reference data, and
   * `maxBuffered` caps adversarial input), and windows are independent
   * groups — state shards across executors like any keyed stream.
   *
   * `cfg` carries the full batch configuration surface: all four
   * (cluster, falsePositiveFiltering) configs of the reference's loop run
   * online, so a streaming deployment answers exactly what the batch
   * pipeline answers (StreamingSpec pins the parity per config). A
   * non-empty `refSeries` ([[refSeriesRegistry]]) matches closing windows
   * against the recorded trace-wide FP series (see [[explainBuffered]]).
   */
  def explainOnClose(
      obs: Dataset[StreamObs],
      featureOrder: Seq[String],
      cfg: graft.ExstreamConfig = graft.ExstreamConfig(),
      maxBuffered: Int = 100000,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
      timeoutDuration: String = "1 hour",
      timeoutSpanMs: Long = 3600000L,
      watermarkDelay: String = "10 seconds",
      refSeries: Map[String, Array[Double]] = Map.empty): Dataset[StreamExplanation] = {
    import obs.sparkSession.implicits._
    val procTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    val eventTimeout = timeout == GroupStateTimeout.EventTimeTimeout()
    withEventTimeWatermark(obs, eventTimeout, watermarkDelay)
      .groupByKey(_.window_key)
      .flatMapGroupsWithState[WindowBuffer, StreamExplanation](
        OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[StreamObs], state: GroupState[WindowBuffer]) =>
          var buf = state.getOption.getOrElse(WindowBuffer(0, Long.MinValue, Nil))
          var close = false
          rows.foreach { r =>
            if (r.type_data < 0) close = true
            else if (buf.n < maxBuffered)
              buf = WindowBuffer(buf.n + 1, math.max(buf.maxTsMs, r.timestamp), r :: buf.rows)
          }
          if (close || state.hasTimedOut) {
            state.remove()
            Iterator.single(StreamExplanation(
              key, buf.n, explainBuffered(buf.rows, featureOrder, cfg, refSeries)))
          } else {
            state.update(buf)
            armTimeout(state, buf, procTimeout, eventTimeout, timeoutDuration, timeoutSpanMs)
            Iterator.empty
          }
      }
  }

  /**
   * Pure per-window explanation over a closed buffer — ALL FOUR batch
   * configs, via the same pure kernels the batch plan uses, in the batch
   * stage order:
   *
   *  1. correlation-cluster feature dedup
   *     ([[graft.operators.CorrelationFilter.selectFeaturesLocal]] — the
   *     identical moment math + union-find, over this window's rows);
   *  2. subsequence-match false-positive filter
   *     ([[graft.functions.MatchKernel.matchCount]] with the batch
   *     threshold/fallback semantics);
   *  3. entropy rewards + leap cutoff ([[graft.functions.EntropyCore]]).
   *
   * Input order is irrelevant: every stage canonicalizes internally
   * (moments are order-free sums, patterns/series sort by timestamp, the
   * segmentation kernel sorts by (value, class)), so arrival-order
   * nondeterminism on the stream cannot change the answer.
   *
   * Scope note (the online boundary): steps 1-2 see THIS window's
   * buffered rows — the only data an online operator has at close. Batch
   * computes step 1's moments over all windows and step 2's reference
   * series over all windows of the trace, so streaming == batch exactly
   * when the batch input is the single closing window (the parity test's
   * shape); across multiple windows the streaming answer is the
   * window-local approximation, bounded by the same reasoning as the
   * multi-trace series note in [[graft.operators.FalsePositiveFilter]].
   * A non-empty `refSeries` ([[refSeriesRegistry]]) removes the step-2
   * half of that boundary: the FP match then runs against the recorded
   * trace-wide series, and a multi-window trace's close reproduces the
   * batch FP decision exactly (StreamingSpec's two-window case). Step
   * 1's correlation moments remain window-local — a moments registry
   * would be the same pattern if ever needed.
   */
  def explainBuffered(
      buf: Seq[StreamObs],
      featureOrder: Seq[String],
      cfg: graft.ExstreamConfig,
      refSeries: Map[String, Array[Double]] = Map.empty): Seq[String] = {
    import graft.functions.{EntropyCore, MatchKernel}

    // step 1: correlation-cluster dedup over the window's wide pivot
    val selected: Seq[String] =
      if (cfg.cluster)
        graft.operators.CorrelationFilter.selectFeaturesLocal(
          buf.map(r => (r.timestamp, r.type_data, r.feature, r.value)),
          featureOrder, cfg.correlationThreshold)
      else featureOrder
    val byFeature = buf.groupBy(_.feature)
    val present = selected.filter(byFeature.contains)

    // step 2: FP filter — kept iff the window pattern matches the ref
    // series <= matchCountKeep times; argmin fallback if nothing survives
    val featIdx = featureOrder.zipWithIndex.toMap
    val fpKept: Set[String] =
      if (cfg.falsePositiveFiltering && present.nonEmpty) {
        val patternClass = if (cfg.patternFromRefWindow) 0 else 1
        // batch inner-join semantics: a feature participates only with a
        // non-empty pattern AND a non-empty reference series
        val counts = present.flatMap { f =>
          val rows = byFeature(f)
          // registry series (trace-wide, batch-identical) when available;
          // the window's own ref rows otherwise
          val series = refSeries.getOrElse(f,
            rows.filter(_.type_data == 0)
              .sortBy(r => (r.timestamp, r.value)).map(_.value).toArray)
          val pattern = rows.filter(_.type_data == patternClass)
            .sortBy(r => (r.timestamp, r.value)).map(_.value).toArray
          if (pattern.isEmpty || series.isEmpty) None
          else Some(f -> MatchKernel.matchCount(pattern, series, cfg.maxDistance))
        }
        val passing = counts.filter(_._2 <= cfg.matchCountKeep).map(_._1)
        if (passing.nonEmpty) passing.toSet
        else if (counts.isEmpty) Set.empty[String]
        else Set(counts.minBy { case (f, n) => (n, featIdx.getOrElse(f, Int.MaxValue)) }._1)
      } else present.toSet

    // step 3: rewards + leap cutoff
    val rewards = present.filter(fpKept).flatMap { f =>
      val rows = byFeature(f)
      val nAno = rows.count(_.type_data == 1).toLong
      val nRef = rows.count(_.type_data == 0).toLong
      if (nAno > 0 && nRef > 0) {
        val values = rows.map(_.value).toArray
        val classes = rows.map(_.type_data).toArray
        Some(f -> EntropyCore.reward(
          EntropyCore.classEntropy(nAno, nRef), values, classes, cfg.applyWorstCase))
      } else None
    }.toMap
    EntropyCore.rewardLeapFilter(EntropyCore.rankRewards(rewards, featureOrder))
  }

  /**
   * Streaming twin of the q99 seasonal anomaly monitor, in the shape it
   * actually deploys: the per-(event_type, hour-of-day) baseline is
   * TRAINED IN BATCH over recorded history ([[seasonalBaseline]]) and
   * broadcast as the static side; the stream rolls hourly counts with a
   * watermarked tumbling window and joins the baseline per closed
   * window — a stateless stream-static join above a standard windowed
   * aggregation, so state is the open windows only. Emits exactly the
   * batch columns (event_type, bucket, hod, n, z) with the identical
   * exact-integer-moment z formula and the same round-before-gate
   * discipline, so a replay of recorded history reproduces the batch
   * answer (StreamingSpec proves it on the live testdata).
   */
  def seasonalBaseline(events: DataFrame): DataFrame =
    // events: (ts: timestamp, event_type); micro-exact hourly buckets
    events
      // `div`, not `/`: Column./ on longs is DOUBLE division, and a
      // truncated double quotient can land one hour high just below a
      // bucket boundary (the Queries.tsMicros lesson)
      .select(expr("unix_micros(ts) div 3600000000").as("bucket"),
        col("event_type"))
      .groupBy("bucket", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("hod", col("bucket") % 24)
      .groupBy("event_type", "hod").agg(
        count(lit(1)).as("k"), sum("n").as("sn"),
        sum(col("n") * col("n")).as("snn"))

  def seasonalAnomalies(
      events: DataFrame, // streaming: (ts: timestamp, event_type)
      baseline: DataFrame, // static, from seasonalBaseline
      watermark: String = "10 minutes",
      zThreshold: Double = 2.0): DataFrame = {
    val hourly = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
        col("event_type"), col("n"))
      .withColumn("hod", col("bucket") % 24)
    val mean = col("sn").cast("double") / col("k").cast("double")
    val variance = (col("k") * col("snn") - col("sn") * col("sn")).cast("double") /
      (col("k") * (col("k") - 1)).cast("double")
    hourly.join(broadcast(baseline), Seq("event_type", "hod"))
      .where(col("k") >= 2)
      .withColumn("z", round((col("n").cast("double") - mean) / sqrt(variance), 6))
      .where(col("z") >= zThreshold)
      .select(col("event_type"), col("bucket"), col("hod"), col("n"), col("z"))
  }

  /** An event entering the streaming funnel; `us` is epoch MICROseconds
    * (the batch engine's canonical event time unit). */
  case class FunnelEvent(user_id: Long, event_id: Long, us: Long, event_type: String)

  /** One attributed purchase leaving the streaming funnel — the same row
    * q70 emits: the latest click at or before the purchase, and the
    * latest view at or before THAT click (null view = partial funnel).
    * Purchases with no preceding click never emit, mirroring the batch
    * inner funnel gate. */
  case class FunnelHit(user_id: Long, purchase_id: Long, click_id: Long,
                       view_id: Option[Long], full_funnel: Boolean)

  /** Per-user funnel state: ts-distinct (us, max event_id) click/view
    * registers plus unemitted purchases. Bounded by the watermark
    * horizon: everything finalized below the watermark is evicted except
    * the single latest click and view, which remain the as-of candidates
    * for future purchases. */
  case class FunnelState(clicks: List[(Long, Long)], views: List[(Long, Long)],
                         purchases: List[(Long, Long)])

  /**
   * Streaming twin of the q70 conversion funnel (view -> click ->
   * purchase via CHAINED as-of attribution), as watermarked per-user
   * state instead of the batch union + running-last window.
   *
   * Semantics are parity-exact with the batch
   * [[graft.operators.AsofJoin]] chain (StreamingSpec replays a fixture
   * through both): clicks/views collapse to max event_id per (user, us)
   * — the as-of input contract — attribution is at-or-before on both
   * hops, and a purchase emits exactly once, when the watermark passes
   * its event time (no event at or before it can still arrive, so the
   * as-of answer is final; out-of-order arrival within the watermark
   * slack cannot change it).
   *
   * Scale shape: state per user is the unemitted purchases inside the
   * watermark horizon plus TWO finalized register rows (latest click,
   * latest view) — eviction keeps everything else out, so state is
   * bounded by the horizon regardless of stream length, and users shard
   * across executors like any keyed stream. The event-time timeout
   * flushes buffered purchases of otherwise-idle users as the watermark
   * advances.
   *
   * State-in-users trade-off: by default (`registerTtlMs = Long.MaxValue`)
   * the two finalized registers are kept FOREVER, because unbounded as-of
   * semantics demand it — a purchase arriving a year after the click must
   * still attribute, exactly as the batch q70 join would. State is
   * bounded per user but grows with the distinct-user count. When the
   * business rule tolerates dropping attribution for very late purchases,
   * pass a finite `registerTtlMs`: finalized registers idle longer than
   * the TTL (measured against the watermark) are evicted, an event-time
   * timeout sweeps register-only users out of the store entirely, and a
   * purchase arriving after its click's TTL simply does not attribute —
   * parity with batch is then "q70 restricted to purchases within TTL of
   * their click", a documented relaxation, not a silent divergence.
   */
  def funnelAttribution(
      events: Dataset[FunnelEvent],
      watermarkDelay: String = "10 seconds",
      registerTtlMs: Long = Long.MaxValue): Dataset[FunnelHit] = {
    require(registerTtlMs > 0, "registerTtlMs must be positive")
    import events.sparkSession.implicits._

    // merge ts-duplicates to max id (the batch groupBy(user, us).max)
    def mergeReg(old: List[(Long, Long)], add: Seq[(Long, Long)]): List[(Long, Long)] =
      (old ++ add).groupBy(_._1).map { case (ts, xs) => (ts, xs.map(_._2).max) }.toList

    def emitAndEvict(user: Long, st: FunnelState, watermarkMs: Long)
        : (FunnelState, List[FunnelHit]) = {
      val (done, pending) = st.purchases.partition(_._1 / 1000 < watermarkMs)
      val hits = done.sortBy(identity).flatMap { case (pUs, pId) =>
        val click = st.clicks.filter(_._1 <= pUs) match {
          case Nil => None
          case cs => Some(cs.maxBy(_._1))
        }
        click.map { case (cUs, cId) =>
          val view = st.views.filter(_._1 <= cUs) match {
            case Nil => None
            case vs => Some(vs.maxBy(_._1)._2)
          }
          FunnelHit(user, pId, cId, view, view.isDefined)
        }
      }
      // registers: keep the open-horizon rows plus the latest finalized
      // one — the only below-watermark row a future purchase can attach.
      // A finite TTL additionally drops that finalized register once it
      // has idled past the TTL (dropped attribution for later purchases
      // is then the documented contract).
      def evictReg(reg: List[(Long, Long)]): List[(Long, Long)] = {
        val (closed, open) = reg.partition(_._1 / 1000 < watermarkMs)
        val latest = closed match {
          case Nil => Nil
          case cs =>
            val m = cs.maxBy(_._1)
            if (registerTtlMs != Long.MaxValue && watermarkMs - m._1 / 1000 > registerTtlMs) Nil
            else List(m)
        }
        open ++ latest
      }
      (FunnelState(evictReg(st.clicks), evictReg(st.views), pending), hits)
    }

    events
      .withColumn("event_ts", timestamp_micros(col("us")))
      .withWatermark("event_ts", watermarkDelay)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Nil, Nil, Nil))
          val (clicks, views, purchases) =
            rows.foldLeft((List.empty[(Long, Long)], List.empty[(Long, Long)],
                List.empty[(Long, Long)])) { case ((c, v, p), r) =>
              r.event_type match {
                case "click" => ((r.us, r.event_id) :: c, v, p)
                case "view" => (c, (r.us, r.event_id) :: v, p)
                case "purchase" => (c, v, (r.us, r.event_id) :: p)
                case _ => (c, v, p)
              }
            }
          st = FunnelState(mergeReg(st.clicks, clicks), mergeReg(st.views, views),
            st.purchases ++ purchases)
          val wm = state.getCurrentWatermarkMs()
          val (next, hits) = emitAndEvict(user, st, wm)
          if (next.purchases.isEmpty && next.clicks.isEmpty && next.views.isEmpty)
            state.remove()
          else {
            state.update(next)
            // flush pending purchases as the watermark advances, even if
            // this user never produces another event
            if (next.purchases.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(next.purchases.map(_._1 / 1000).min + 1, wm + 1))
            else if (registerTtlMs != Long.MaxValue) {
              // register-only state under a finite TTL: revisit when the
              // newest register ages out so this user leaves the store
              val newestMs = (next.clicks ++ next.views).map(_._1 / 1000).max
              state.setTimeoutTimestamp(math.max(newestMs + registerTtlMs + 1, wm + 1))
            }
          }
          hits.iterator
      }
  }

  /**
   * Stateful span assembly: buffer observations per window_key until the
   * close marker arrives (or the state times out), then emit the closed
   * window. State is bounded by `maxBuffered` — the paper's system
   * likewise bounds buffered history.
   */
  def assembleWindows(
      obs: Dataset[StreamObs],
      maxBuffered: Int = 100000,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout(),
      timeoutDuration: String = "1 hour",
      timeoutSpanMs: Long = 3600000L,
      watermarkDelay: String = "10 seconds"): Dataset[ClosedWindow] = {
    import obs.sparkSession.implicits._
    val procTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout()
    val eventTimeout = timeout == GroupStateTimeout.EventTimeTimeout()
    withEventTimeWatermark(obs, eventTimeout, watermarkDelay)
      .groupByKey(_.window_key)
      .flatMapGroupsWithState[WindowBuffer, ClosedWindow](
        OutputMode.Append(), timeout) {
        (key: String, rows: Iterator[StreamObs], state: GroupState[WindowBuffer]) =>
          var buf = state.getOption.getOrElse(WindowBuffer(0, Long.MinValue, Nil))
          var close = false
          rows.foreach { r =>
            if (r.type_data < 0) close = true
            else if (buf.n < maxBuffered)
              buf = WindowBuffer(buf.n + 1, math.max(buf.maxTsMs, r.timestamp), r :: buf.rows)
          }
          if (close || state.hasTimedOut) {
            state.remove()
            Iterator.single(ClosedWindow(key, buf.n, buf.rows.map(_.feature).distinct.sorted))
          } else {
            state.update(buf)
            armTimeout(state, buf, procTimeout, eventTimeout, timeoutDuration, timeoutSpanMs)
            Iterator.empty
          }
      }
  }
}
