package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Parquet

/** Structured Streaming operators (SURVEY §2.5 ST1–ST6).
  *
  * All state here is keyed and watermark-bounded, which is what makes
  * the operators safe at scale: state size is O(active keys), expired
  * state is dropped by the watermark, and each trigger's work is an
  * incremental shuffle on the grouping key only.
  */
object StreamOps {

  // ---------------------------------------------------------------- ST1
  /** Tumbling-window aggregation with a watermark. Late rows beyond
    * `watermarkDelay` are dropped; in append mode a window emits exactly
    * once, when the watermark passes its end.
    */
  def tumblingAgg(
      events: DataFrame,
      tsCol: String,
      windowLength: String,
      watermarkDelay: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)

  // ---------------------------------------------------------------- ST2
  final case class Event(userId: Long, ts: Timestamp, value: Double)

  final case class SessionAgg(
      start: Long, end: Long, nEvents: Long, total: Double)

  final case class Session(
      userId: Long, start: Timestamp, end: Timestamp,
      nEvents: Long, total: Double)

  /** Gap-based sessionization with explicit state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes
    * when no event for the key arrives within `gapMs` of its last event
    * (tracked via the watermark). State per key is one small struct —
    * O(active users), independent of history length.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionAgg]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, new Timestamp(s.start),
          new Timestamp(s.end), s.nEvents, s.total))
      } else {
        val evts = rows.toSeq
        val hi = evts.map(_.ts.getTime).max
        val lo = evts.map(_.ts.getTime).min
        val merged = state.getOption
          .map(s => SessionAgg(math.min(s.start, lo), math.max(s.end, hi),
            s.nEvents + evts.size, s.total + evts.map(_.value).sum))
          .getOrElse(SessionAgg(lo, hi, evts.size.toLong,
            evts.map(_.value).sum))
        state.update(merged)
        state.setTimeoutTimestamp(merged.end + gapMs)
        Iterator.empty
      }
    }

    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  // ---------------------------------------------------------------- ST3
  /** Streaming dedup: exactly-once per key within the watermark horizon.
    * Unlike plain `dropDuplicates`, state for keys older than the
    * watermark is evicted, so state stays bounded on an infinite stream.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  // ---------------------------------------------------------------- ST4
  /** Stream-static enrichment join: each micro-batch joins against a
    * batch dimension table. The static side is planned per batch, so a
    * dim-sized table broadcasts (no stream-side shuffle at all) and a
    * refreshed/overwritten dim is picked up on the next trigger without
    * restarting the query — the streaming twin of q3's broadcast join.
    * Left join keeps unmatched events (enrichment, not filtering).
    */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  // ---------------------------------------------------------------- ST5
  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose time falls in `[leftTs, leftTs +
    * within]` (attribution: purchases within N of a view). BOTH sides
    * carry watermarks and the join condition bounds event-time distance,
    * which is exactly what lets Spark EVICT join state: a buffered row
    * is dropped once the other side's watermark passes its interval, so
    * state is O(events per `within` window), not O(stream history).
    *
    * `key` must be named identically on both sides; `leftTs`/`rightTs`
    * must differ (they stay in the output for downstream windowing).
    */
  def intervalJoin(
      left: DataFrame, leftTs: String, leftDelay: String,
      right: DataFrame, rightTs: String, rightDelay: String,
      key: String, within: String): DataFrame = {
    require(leftTs != rightTs,
      s"leftTs and rightTs must be distinct column names, both are '$leftTs'")
    val l = left.withWatermark(leftTs, leftDelay).alias("l")
    val r = right.withWatermark(rightTs, rightDelay).alias("r")
    l.join(r, expr(
      s"""l.$key = r.$key AND
         |r.$rightTs >= l.$leftTs AND
         |r.$rightTs <= l.$leftTs + INTERVAL '$within'""".stripMargin))
      .drop(r(key))
  }

  // ---------------------------------------------------------------- ST6
  /** Streaming incremental ingestion dedup — d9's streaming twin. An
    * incoming document stream is deduplicated (a) against the STATIC
    * content-hash ledger of the already-ingested corpus via a left-anti
    * join (the static side is re-planned per micro-batch, so a refreshed
    * ledger is picked up without restarting the query; ledger-sized
    * sides broadcast), then (b) within the stream itself via
    * watermark-bounded key state. Ingestion state is O(hashes within the
    * watermark horizon) — the corpus itself is only ever touched through
    * its ledger, exactly like the batch path.
    *
    * @param docs   streaming frame with `textCol` and an event-time col
    * @param ledger static frame of one column `content_hash`
    */
  def incrementalDedup(
      docs: DataFrame,
      ledger: DataFrame,
      textCol: String,
      tsCol: String,
      watermarkDelay: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .join(broadcast(ledger), Seq("content_hash"), "left_anti")
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  // ---------------------------------------------------------------- ST7
  /** The span-gram ledger for [[spanDecontaminate]]: distinct hashed
    * spanK-token grams of a static corpus (an eval-suite holdout or the
    * already-ingested corpus), built with the SAME native gram hasher
    * as the batch d11/t6 path so batch and stream agree on what a span
    * is.
    */
  def spanLedger(corpus: DataFrame, textCol: String, spanK: Int): DataFrame =
    corpus.select(explode(org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashes(
          org.apache.spark.sql.GraftBridge.expression(col(textCol)),
          spanK, distinctSorted = true))).as("g"))
      .distinct()

  /** Streaming span decontamination (the streaming face of batch
    * d11/t6): each incoming document is scored against the STATIC span
    * ledger and dropped when more than `maxSharedFrac` of its distinct
    * spanK-token spans already exist there — contaminated/boilerplate
    * documents never enter the corpus.
    *
    * Shape: gram hashes explode map-side; the stream-static LEFT join
    * is re-planned per micro-batch (a refreshed ledger is picked up
    * without restarting the query; holdout-sized ledgers broadcast —
    * corpus-sized ones shuffle the BATCH, never stream history); the
    * per-document verdict is a watermarked windowed aggregation, so
    * verdict state is O(documents inside the watermark horizon) and is
    * expired by the watermark — never O(stream history). Emits one
    * append-mode row per document once the watermark passes its
    * window: (doc_id, window, n_grams, n_shared, kept).
    */
  def spanDecontaminate(
      docs: DataFrame,
      ledger: DataFrame,
      textCol: String,
      tsCol: String,
      watermarkDelay: String,
      spanK: Int,
      maxSharedFrac: Double): DataFrame = {
    val grams = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col("doc_id"), col(tsCol),
        explode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.WordGramHashes(
            org.apache.spark.sql.GraftBridge.expression(col(textCol)),
            spanK, distinctSorted = true))).as("g"))
    val tagged = ledger.withColumn("in_ledger", lit(true))
    // Broadcast only when the optimizer's own size estimate clears the
    // session threshold — an unconditional hint would force a
    // corpus-sized ledger through the driver (OOM) instead of honoring
    // the documented contract: holdout-sized ledgers broadcast,
    // corpus-sized ones degrade to shuffling the micro-BATCH.
    import org.apache.spark.sql.GraftBridge
    val thresh = GraftBridge.autoBroadcastThreshold(tagged)
    val side =
      if (thresh > 0 && GraftBridge.planSizeBytes(tagged) <= thresh)
        broadcast(tagged)
      else tagged
    grams
      .join(side, Seq("g"), "left")
      .groupBy(window(col(tsCol), "1 second"), col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("in_ledger"), 1L).otherwise(0L)).as("n_shared"))
      .withColumn("kept",
        col("n_shared").cast("double") / col("n_grams").cast("double")
          <= maxSharedFrac)
  }

  // ---------------------------------------------------------------- ST8
  final case class PackDoc(source: String, docId: Long, nTokens: Long)

  final case class PackState(seqId: Long, used: Long)

  final case class PackedDoc(
      source: String, docId: Long, seqId: Long, offset: Long, nTokens: Long)

  /** Streaming sequence packing — t9's streaming twin: assign each
    * arriving document a (sequence id, token offset) inside its
    * source's fixed-`budget` training sequences, rolling to a fresh
    * sequence when the current one can't fit the document. A document
    * longer than the whole budget still gets a (its own) sequence —
    * same contract as the batch packer.
    *
    * Packing is inherently sequential PER STREAM — each assignment
    * depends on the running fill — which is exactly what keyed state
    * is for: state per source is ONE tiny (seqId, used) struct
    * (O(sources), never O(history)), sources pack in parallel, and
    * each trigger shuffles only its own micro-batch on the source key.
    * Within a micro-batch documents pack in doc-id order, so a replayed
    * batch assigns identically (exactly-once sinks can rely on it).
    */
  def packStream(
      docs: Dataset[PackDoc], budget: Long): Dataset[PackedDoc] = {
    require(budget > 0, s"budget must be positive, got $budget")
    import docs.sparkSession.implicits._

    def update(source: String, rows: Iterator[PackDoc],
        state: GroupState[PackState]): Iterator[PackedDoc] = {
      var s = state.getOption.getOrElse(PackState(0L, 0L))
      val out = rows.toSeq.sortBy(_.docId).map { d =>
        if (s.used > 0 && s.used + d.nTokens > budget)
          s = PackState(s.seqId + 1, 0L)
        val assigned = PackedDoc(source, d.docId, s.seqId, s.used, d.nTokens)
        s = PackState(s.seqId, s.used + d.nTokens)
        assigned
      }
      state.update(s)
      out.iterator
    }

    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  // --------------------------------------------------------------- ST15
  final case class BudgetState(used: Long)

  final case class FilledDoc(source: String, docId: Long, nTokens: Long,
      cumTok: Long, budget: Long)

  /** Streaming token-budget fill — t22/t24's streaming twin (r18): an
    * ingest stream admits each source's documents until that source's
    * token budget is spent, emitting the selected rows with their
    * running totals. The greedy prefix is inherently sequential PER
    * SOURCE — each admission depends on the tokens already spent —
    * which is exactly the ST8 keyed-state shape: state per source is
    * ONE (used) long (O(sources), never O(history)), sources fill in
    * parallel, each trigger shuffles only its own micro-batch.
    *
    * `budgets` is an input (the per-source allocation t22 derives from
    * corpus stats — at 100 TB a planning table, G rows, computed
    * offline and broadcast in the task closure). Admission mirrors
    * t22's keep rule exactly: a document enters iff the tokens used
    * BEFORE it are under budget (`cum_tok − n_tok < budget`), and
    * `used` advances over every document — admitted or not — so
    * emitted cum_toks equal the batch operator's all-rows prefix sums.
    * Within a micro-batch documents fill in doc-id order, so a
    * replayed batch admits identically (the ST8 replay contract), and
    * stream ≡ batch t22 whenever batches arrive in per-source doc-id
    * order (spec-gated, including kill + restart recovery).
    */
  def budgetFillStream(docs: Dataset[PackDoc],
      budgets: Map[String, Long]): Dataset[FilledDoc] = {
    import docs.sparkSession.implicits._

    def update(source: String, rows: Iterator[PackDoc],
        state: GroupState[BudgetState]): Iterator[FilledDoc] = {
      val budget = budgets.getOrElse(source, 0L)
      var used = state.getOption.map(_.used).getOrElse(0L)
      val out = rows.toSeq.sortBy(_.docId).flatMap { d =>
        val before = used
        used += d.nTokens
        if (before < budget)
          Some(FilledDoc(source, d.docId, d.nTokens, used, budget))
        else None
      }
      state.update(BudgetState(used))
      out.iterator
    }

    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  // --------------------------------------------------------------- ST16
  /** Bloom-guarded streaming ingestion dedup — d16's streaming face
    * and [[incrementalDedup]]'s (ST6's) scale path. ST6 anti-joins
    * EVERY arriving document against the corpus hash ledger each
    * trigger; with a multi-GB ledger that is a per-trigger join of the
    * whole micro-batch even though almost every document is novel.
    * Here the ledger's committed Bloom sidecar (d16's
    * `[[graft.queries.DedupOps]]` maintains it; no false negatives)
    * splits the batch map-side: provably-novel rows skip the ledger
    * join entirely, and only Bloom positives (true re-ingests + the
    * ~2% fp tail) pay the exact anti-join — the result is EXACTLY
    * ST6's over the same ledger state, spec-gated. In-stream dedup
    * stays the watermark-bounded key state; `bloom = None`
    * (pre-bootstrap, sidecar deleted) degrades to ST6's full join,
    * never to a wrong answer.
    *
    * SNAPSHOT semantics — both sides fixed at stream start: the filter
    * bytes ride the task closure, and the ledger's FILE LISTING is
    * pinned at construction (explicit file list, not a re-listing
    * path). Correctness requires filter ⊇ the ledger actually joined;
    * ST6's re-plan-per-trigger behavior would let a concurrently
    * GROWN ledger outrun the fixed filter — a hash appended mid-stream
    * would test bloom-negative, skip the join, and be emitted as a
    * false novel. Pinning the listing keeps filter and join consistent
    * by construction; picking up a refreshed ledger (filter AND files)
    * is a query restart, the same contract as any broadcast model.
    */
  def bloomGuardedIngest(
      docs: DataFrame,
      ledger: DataFrame,
      bloom: Option[Array[Byte]],
      textCol: String,
      tsCol: String,
      watermarkDelay: String): DataFrame = {
    val hashed = docs.withColumn("content_hash", md5(col(textCol)))
    // pin the ledger snapshot the filter was built against: a
    // file-backed frame re-lists per trigger, so freeze its current
    // file set (explicit file list). Applies ONLY when the frame is a
    // BARE file scan (optionally column-pruned) — decided by inspecting
    // the logical plan's shape, not column names: a filtered /
    // row-transformed frame that happens to preserve columns must NOT
    // be replaced by the full unfiltered file set (rows the caller
    // excluded would then count as duplicates and novel documents be
    // wrongly dropped). Such frames fall through untouched — the
    // caller owns its own snapshotting — and non-file frames are
    // static anyway.
    def bareScan(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Boolean = p match {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        pr.projectList.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference
        ]) && bareScan(pr.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        bareScan(a.child)
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => true
      case _ => false
    }
    val pinned = {
      val files = ledger.inputFiles
      if (files.isEmpty || !bareScan(ledger.queryExecution.analyzed)) ledger
      else Parquet.read(ledger.sparkSession, files.toIndexedSeq: _*)
        .select(ledger.columns.map(col).toIndexedSeq: _*)
    }
    val novel = bloom match {
      case None =>
        hashed.join(broadcast(pinned), Seq("content_hash"), "left_anti")
      case Some(bits) =>
        // null content_hash routes to the JOIN branch explicitly (the
        // probe's null semantics must not decide): a null key never
        // matches in left_anti, so null-text rows are kept — exactly
        // the bloom=None (ST6/d9) behavior
        val mc = col("content_hash").isNull ||
          graft.functions.BloomMembership
            .mightContain(bits, xxhash64(col("content_hash")))
        hashed.filter(!mc).unionByName(
          hashed.filter(mc)
            .join(broadcast(pinned), Seq("content_hash"), "left_anti"))
    }
    novel
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  // --------------------------------------------------------------- ST17
  /** Streaming takedown application — s13's streaming face: a stream
    * of takedown requests (vec_id) is applied to the persisted IVF
    * ledger as committed tombstone segments, one lease-held append per
    * micro-batch via `foreachBatch` (the ST12/ST14 ledger-maintenance
    * shape). Idempotency comes from the batch operator's novel-only
    * append, so checkpoint REPLAYS of a processed micro-batch append
    * nothing and crash recovery is exactly-once in effect; queries
    * running concurrently pick the new tombstones up on their next
    * `s8Tombs` read (committed-marker visibility). Physical removal
    * still rides compaction — the stream only ever writes
    * takedown-sized segments, never touches the index.
    *
    * @param takedowns streaming frame with a `vec_id` column
    * @param path      the s8 IVF ledger to tombstone against
    */
  def takedownStream(takedowns: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] = {
    require(
      graft.queries.SimilarityOps
        .ledgerBootstrapped(takedowns.sparkSession, path),
      s"ANN ledger at $path has no committed segments — takedowns " +
        "apply to a bootstrapped index")
    takedowns.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // lease-retried (the batch call sites' discipline): a transient
        // append-lease / compaction conflict is exactly the concurrency
        // the lease protocol anticipates — it must back off, not fail
        // the micro-batch and kill the query (idempotency makes the
        // retry safe: a replayed append writes nothing)
        graft.queries.SimilarityOps.withLeaseRetry() {
          graft.queries.SimilarityOps.tombstoneIds(
            batch.sparkSession, path, batch.select(col("vec_id")))
        }
        ()
      }
  }

  // --------------------------------------------------------------- ST18
  /** Takedown-LIVE ingestion dedup (r20) — ST6 with the ledger side
    * picked up PER TRIGGER, so a long-running ingest stream honors a
    * takedown ([[graft.queries.DedupOps]] `removeFromHashLedger`)
    * without a query restart — the gap the ST6/ST16 listing-pin
    * contract documents. The split that makes it work: the in-stream
    * dedup (watermark-bounded key state) stays IN the streaming plan,
    * where Spark manages its state; the LEDGER anti-join — the
    * takedown-sensitive stage — moves into `foreachBatch`, where each
    * micro-batch is a batch frame and the ledger read
    * ([[graft.queries.DedupOps]] `readHashLedger`) is CONSTRUCTED fresh
    * per trigger from the committed segments: a takedown's tombstone
    * segment, or a refresh's appended one, is visible to the very next
    * batch once its commit marker lands.
    *
    * Staleness bound, documented and spec-gated: a takedown is honored
    * by the NEXT micro-batch — except for a hash that already entered
    * the in-stream dedup state before the takedown, whose re-arrivals
    * are suppressed as in-stream duplicates until the watermark passes
    * it (bound = max(1 trigger, watermark horizon), vs ST6's
    * restart-or-never). Stage order differs from ST6 (state first,
    * ledger second) but the OUTPUT is identical: a ledgered hash is
    * dropped by the batch join whether or not it also occupies state,
    * and an unledgered duplicate is dropped by state either way.
    *
    * Two costs of the reorder, stated plainly (r20 review): (1) the
    * dedup state now holds EVERY distinct arrival within the watermark
    * horizon, not just ledger-novel ones — at a high duplicate rate
    * that is a state-size regression vs ST6 by the duplicate fraction;
    * an ST16-style Bloom prefilter ahead of the state is the bound if
    * it bites. (2) the freshness contract re-reads the ledger EVERY
    * micro-batch (vs ST6's pinned broadcast built once at start) — but
    * the read is
    * PREFIX-PRUNED (r22, the d9 batch-path treatment): every segment is
    * parquet-partitioned by the hash's first hex char, the batch's
    * distinct prefixes (≤ 16 driver-side strings per trigger) land in
    * the scan's PartitionFilters, and only those slices are read and
    * broadcast — a targeted re-ingest covering p of the 16 prefixes
    * pays p/16 of the ledger's bytes and footers per trigger, not all
    * of them. Pruning cannot change the anti-join's result: a ledger
    * row whose prefix no batch hash shares can never match. The
    * residual scaling cost — a batch spanning all 16 prefixes still
    * re-broadcasts 1/1-of-ledger — is the price of the no-restart
    * freshness contract; bounding THAT needs an ST16-style Bloom
    * prefilter, which trades freshness (the Bloom is built once).
    *
    * @param docs streaming frame with `textCol` and an event-time col
    * @param ledgerPath d9/d16 hash-ledger path (re-read per trigger)
    * @param sink per-batch consumer of the novel rows (batchDF, batchId)
    */
  def incrementalDedupLive(docs: DataFrame, ledgerPath: String,
      textCol: String, tsCol: String, watermarkDelay: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // fresh committed segments per trigger (the takedown-pickup
        // contract), pruned to the batch's hash-prefix slices
        val ledger = graft.queries.DedupOps.prunedByPrefix(
          graft.queries.DedupOps.readHashLedger(batch.sparkSession,
            ledgerPath), batch)
          .select("content_hash")
        sink(batch.join(broadcast(ledger),
          Seq("content_hash"), "left_anti"), id)
        ()
      }

  /** [[nearDupMatches]]' takedown-LIVE face (r20) — the same
    * per-trigger-re-read treatment as [[incrementalDedupLive]], for
    * the BAND ledger: ST10 is stateless stream-side (per-row minhash +
    * one stream-static probe), so the WHOLE operator moves into
    * `foreachBatch`, where each micro-batch probes a freshly
    * constructed `readBandLedger` read — a band tombstone appended by
    * `removeFromBandLedger` mid-stream stops its doc matching on the
    * very next trigger, and a resurrection (refresh re-admitting a
    * tombstoned doc) resumes matching the same way; no restart, no
    * staleness beyond one trigger (no in-stream state exists to
    * suppress anything, unlike ST18's dedup-state caveat).
    *
    * @param docs streaming frame with `doc_id` and `textCol`
    * @param ledgerPath d13 band-ledger path (re-read per trigger
    *                   through the tombstone seam)
    * @param sink per-batch consumer of (i, j, jaccard) matches
    */
  def nearDupMatchesLive(docs: DataFrame, ledgerPath: String,
      textCol: String, t: Double)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(nearDupMatches(batch,
          graft.queries.DedupOps.readBandLedger(
            batch.sparkSession, ledgerPath), textCol, t), id)
        ()
      }

  // ---------------------------------------------------------------- ST9
  /** Streaming ANN over a PQ-coded static corpus (s5's streaming twin —
    * online retrieval): query vectors arrive on the stream, each
    * micro-batch builds their ADC lookup tables against the
    * driver-literal codebook (a few KB of model, not data), joins the
    * STATIC codes table (16× narrower than raw vectors — the side that
    * is 100 TB-scale and stays on disk) and folds per-pair scores in
    * the same fixed order as the batch operator, so results are
    * identical to batch s5 for the same queries (spec-asserted).
    * Per-query top-k aggregates in update mode; state is one bounded
    * heap per qid — O(queries seen), never O(corpus).
    *
    * @param queries  streaming (qid: long, qemb: array<float>)
    * @param codes    static (vec_id, codes: array<int>, vnorm) from
    *                 [[graft.operators.ProductQuantizer.encode]]
    * @param codebook driver codebook `cb(sub)(code)(j)`
    */
  def annScoreStream(queries: DataFrame, codes: DataFrame,
      codebook: Seq[Seq[Seq[Double]]], topK: Int): DataFrame = {
    val m = codebook.length
    val k = codebook.head.length
    val subDim = codebook.head.head.length
    val cbFlat = typedLit(codebook.flatten.flatten)
    // per-query flat M·K lookup table: one fixed-order subDim fold per
    // slot — interpreted HOF cost is paid per QUERY row only (the
    // stream side is small; the corpus side never computes it)
    // NB `/` is DOUBLE division in Spark SQL — the sub index needs a
    // floor division
    val dt = transform(sequence(lit(0), lit(m * k - 1)), slot =>
      aggregate(zip_with(
          slice(col("qemb"),
            floor(slot / lit(k)).cast("int") * subDim + lit(1),
            lit(subDim)),
          slice(cbFlat, slot * subDim + lit(1), lit(subDim)),
          (a, b) => a.cast("double") * b),
        lit(0d), (acc, x) => acc + x))
    val qs = queries.select(col("qid"), dt.as("dt"),
      graft.functions.VectorFunctions.norm(col("qemb")).as("qnorm"),
      lit(1).as("__all"))
    // stream-static equi-join on a constant key = the supported
    // stream-static inner join shape for "score every corpus row"
    qs.join(codes.withColumn("__all", lit(1)), "__all")
      .select(col("qid"), col("vec_id"),
        (aggregate(
            zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
              (c, s) => element_at(col("dt"), (s * k + c + 1).cast("int"))),
            lit(0d), (acc, x) => acc + x)
          / (col("vnorm") * col("qnorm"))).as("cosine"))
      .groupBy("qid")
      .agg(graft.functions.TopKAggregate
        .topKByScore(col("cosine"), col("vec_id"), topK).as("top"))
  }

  // --------------------------------------------------------------- ST10
  /** Streaming incremental NEAR-dup matching — d13's streaming twin:
    * each arriving document is checked for Jaccard ≥ t near-duplicates
    * against the standing corpus' persisted band-index ledger (d13's
    * schema: doc_id, sh, n, keys), emitting one row per (arriving doc,
    * matched prior doc). Everything stream-side is MAP-SIDE per row —
    * the per-row minhash formulation
    * (`HashFunctions.minhashSignature`, the same `xxhash64(i, h)`
    * permutation chain as the batch index, so signatures agree
    * bit-for-bit with d13's agg-built ones) needs no groupBy and
    * therefore NO STREAMING STATE; the only join is d13's own band
    * probe (`DedupOps.nearDupProbe` at threshold `t`), stream-static
    * per micro-batch (static side re-planned each trigger, so a
    * refreshed ledger is picked up live — the ST6 discipline).
    * Per-trigger cost is O(micro-batch); the corpus is
    * only ever touched through its index. The 16×4 banding matches
    * d13, so the match set coincides with the exact cross-set truth at
    * the documented ~2·10⁻⁴ per-pair miss.
    *
    * @param docs   streaming frame with `doc_id` and `textCol`
    * @param ledger STATIC band-index frame (d13's ledger schema) —
    *               pass `DedupOps.readBandLedger(s, path)` so
    *               outstanding takedown tombstones are anti-joined out
    *               (the r20 d13 takedown seam); a bare parquet read
    *               would keep matching tombstoned docs
    * @return streaming (i = arriving doc, j = prior doc, jaccard)
    */
  def nearDupMatches(
      docs: DataFrame,
      ledger: DataFrame,
      textCol: String,
      t: Double): DataFrame = {
    import graft.queries.DedupOps
    val batchIdx = DedupOps.shingleKeys(docs, textCol)
      .filter(col("n") > 0)
      .withColumn("keys", DedupOps.mhKeys(graft.functions.HashFunctions
        .minhashSignature(col("sh"), DedupOps.mhK)))
    DedupOps.nearDupProbe(batchIdx, ledger, t).select("i", "j", "jaccard")
  }

  // --------------------------------------------------------------- ST11
  /** Streaming ingest scrub — the t15 + t2 face of a live pipeline:
    * each arriving document is PII-redacted (emails/phones/IPs →
    * placeholder tokens, with match counts) and quality-scored — on
    * its REDACTED text, the order a production scrub runs (score what
    * you would train on). Both stages are the BATCH projections
    * themselves (TextOps.redactPiiProjection / qualityProjection,
    * shared code, not copies), which is the point: the scrub is pure
    * per-row regexp + arithmetic, so it needs no watermark, no state,
    * no shuffle — valid in append mode at any trigger, per-trigger
    * cost O(micro-batch). The spec holds each micro-batched output row
    * equal to the batch t15/t2 composition over the same documents.
    *
    * @param docs streaming frame with `doc_id` and `textCol`
    * @return streaming (doc_id, n_email, n_phone, n_ip, clean_text,
    *         n_words, n_stopwords, stopword_ratio, mean_word_len,
    *         quality_score, quality_bucket)
    */
  def scrubAndScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scrubbed = graft.queries.TextOps.redactPiiProjection(docs, textCol)
    // quality columns APPEND to the scrubbed projection (a join of the
    // two faces would be a stream-stream self-join — state for nothing)
    scrubbed.select(scrubbed.columns.map(col) ++
      graft.queries.TextOps.qualityColumns("clean_text"): _*)
  }

  // --------------------------------------------------------------- ST12
  /** Streaming incremental ANN ingest — s8's streaming twin: each
    * micro-batch of embedding rows lands in the PERSISTED IVF index
    * ledger through the SAME `refreshIvfLedger` protocol the batch op
    * runs (novel vec_ids assigned to the STORED centroids, written as
    * a cid-partitioned segment + slim id sidecar, committed by a
    * marker file written last). `foreachBatch` is the right face for a
    * ledger sink: the write is a side effect with its own commit
    * protocol, not a row-stream Spark can sink natively.
    *
    * EXACTLY-ONCE INGEST falls out of the s8 marker protocol rather
    * than needing streaming state: `foreachBatch` is at-least-once
    * across crashes, and a REPLAYED micro-batch re-derives novelty
    * against COMMITTED ids only — rows whose segment committed append
    * nothing (idempotent), rows whose segment tore mid-write sit in
    * marker-less dirs the replay's refresh deletes and re-derives.
    * Either way the ledger converges to exactly-once contents, and
    * because assignment against fixed centroids is deterministic, the
    * final ledger is row-for-row the one a single batch build would
    * have produced (spec-gated, incl. a mid-stream torn segment).
    *
    * Production shape: bootstrap the ledger from the standing corpus
    * FIRST (batch `refreshIvfLedger` — trains the quantizer), then
    * attach the stream; a cold-started stream would otherwise train
    * centroids on whatever the first micro-batch happens to hold.
    * Daily queries keep probing the ledger between triggers with s8's
    * pruned plan — readers only ever see marker-committed segments, so
    * an in-flight micro-batch is invisible to them.
    *
    * @param docs streaming frame with `vec_id` and `embedding`
    * @param path s8 ledger root (one per corpus, s8LedgerPath-keyed)
    * @return a started-query handle is the caller's via `.start()`
    */
  def ingestAnnStream(docs: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] = {
    // the production-shape contract above, ENFORCED: attaching a
    // stream to an un-bootstrapped ledger would silently train the
    // quantizer on whatever the first micro-batch happens to hold
    require(
      graft.queries.SimilarityOps
        .ledgerBootstrapped(docs.sparkSession, path),
      s"ANN ledger at $path has no committed segments — bootstrap it " +
        "from the standing corpus (refreshIvfLedger) before attaching " +
        "the stream; a cold-started stream would train centroids on " +
        "its first micro-batch")
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.queries.SimilarityOps.refreshIvfLedger(
          batch.sparkSession, path,
          batch.select(col("vec_id"), col("embedding")))
      }
  }

  // --------------------------------------------------------------- ST13
  /** Streaming quality/domain classification — t21's scoring face per
    * micro-batch: the NB model is trained ONCE on the static standing
    * corpus (the ST12 "bootstrap before the stream attaches" shape),
    * PINNED (`localCheckpoint` — foreachBatch re-plans per trigger and
    * must not re-run training each time), and every arriving
    * micro-batch is classified by the IDENTICAL batch scoring code
    * ([[graft.queries.TextOps.nbClassify]] — shared, not a copy) with
    * zero streaming state: the per-doc sums and the argmax are batch
    * aggs INSIDE the trigger, valid at any rate, per-trigger cost
    * O(micro-batch × in-vocab positions).
    *
    * Sink: one parquet dir per micro-batch id, written with OVERWRITE —
    * foreachBatch is at-least-once across crash/restart, and a
    * replayed batch id rewrites its own dir to identical contents
    * (deterministic classification against the pinned model), so the
    * sink converges to exactly-once contents the way ST12's ledger
    * does (spec-gated, incl. a same-id replay).
    *
    * @param docs  streaming (doc_id, source, text) rows
    * @param train STATIC training split (source, text)
    * @param outDir parquet sink root; micro-batch k lands under
    *               `outDir/batch=k`
    */
  def classifyStream(docs: DataFrame, train: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] = {
    val model = graft.queries.TextOps.nbTrain(train).pinned
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.queries.TextOps.nbClassify(batch, model, saltW = 0)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
  }

  // --------------------------------------------------------------- ST14
  /** Streaming kNN-GRAPH maintenance — s10's streaming twin, the same
    * shape as ST12 one level up: each micro-batch of embedding rows
    * updates the PERSISTED graph ledger through the SAME
    * `refreshKnnLedger` protocol the batch op runs — the batch's
    * vectors get their edges vs the whole standing index, the affected
    * standing vectors get their additions, everything lands as one
    * marker-committed segment. Exactly-once ingest falls out of the
    * marker protocol exactly as ST12's does (novelty against COMMITTED
    * ids; torn segments invisible and re-derived; deterministic
    * assignment/probing against the STORED quantizer makes replays
    * byte-stable), and queries keep reading the merged graph
    * (`s10Graph`) between triggers — readers only ever see committed
    * segments.
    *
    * Same production-shape contract as ST12, ENFORCED: the standing
    * corpus must bootstrap the ledger (train the quantizer, build
    * segment 0's graph) before the stream attaches.
    *
    * @param docs streaming frame with `vec_id` and `embedding`
    * @param path s10 ledger root (one per corpus, s10LedgerPath-keyed)
    */
  def ingestKnnGraphStream(docs: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] = {
    require(
      graft.queries.SimilarityOps
        .ledgerBootstrapped(docs.sparkSession, path),
      s"kNN-graph ledger at $path has no committed segments — " +
        "bootstrap it from the standing corpus (refreshKnnLedger) " +
        "before attaching the stream; a cold-started stream would " +
        "train the quantizer on its first micro-batch")
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.queries.SimilarityOps.refreshKnnLedger(
          batch.sparkSession, path,
          batch.select(col("vec_id"), col("embedding")))
      }
  }
}
