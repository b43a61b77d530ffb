package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One change-table record: the reference's level-5 stream shape
  * (`(id, tablename, tablekeyvalue, action, timestamp)` — see
  * `t/data/xaud.crs`), with the row image inlined as `payload`.
  */
case class ChangeRecord(key: Long, action: String, payload: Double, seq: Long)

/** Current state of one key after applying its change history. */
case class KeyState(key: Long, payload: Double, last_seq: Long, n_changes: Int)

/** Structured Streaming operators: the changeset-apply loop of the reference
  * run as an unbounded stream instead of dataset-at-a-time batches.
  *
  * `latestState` is the streaming twin of `Merge.applyActions`: a
  * `flatMapGroupsWithState` keeps the newest row image per key, applying
  * I/U upserts and D deletes in sequence order. The same function runs in
  * batch mode (Spark executes `flatMapGroupsWithState` over a bounded
  * Dataset with empty initial state), which is how the DuckDB oracle checks
  * it; the streaming path is spec-tested with a MemoryStream.
  *
  * Scale: state is partitioned by key across executors (RocksDB/HDFS state
  * store in production); each micro-batch shuffles only its delta on the
  * key — the same single-shuffle discipline as the batch apply.
  */
object ChangesetStream {

  /** Apply a change stream; emit the surviving state per key on update.
    *
    * Replay/late-arrival idempotency: records whose `seq` is not beyond the
    * state's `last_seq` are skipped, so an at-least-once source re-delivering
    * a micro-batch cannot re-apply stale changes. Caveat: a delete removes
    * the state (and with it `last_seq`) — a replay arriving *after* a delete
    * of the same key re-applies; keys that are deleted and replayed in the
    * same batch are still handled correctly because the watermark var below
    * survives the delete within the invocation.
    */
  def latestState(changes: Dataset[ChangeRecord]): Dataset[KeyState] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[KeyState, KeyState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, records: Iterator[ChangeRecord], state: GroupState[KeyState]) =>
          val ordered = records.toSeq.sortBy(_.seq)
          var cur = state.getOption
          var n = cur.map(_.n_changes).getOrElse(0)
          var lastSeq = cur.map(_.last_seq).getOrElse(Long.MinValue)
          ordered.foreach { r =>
            if (r.seq > lastSeq) {
              lastSeq = r.seq
              n += 1
              r.action match {
                case "D" => cur = None
                case _ => cur = Some(KeyState(key, r.payload, r.seq, n))
              }
            }
          }
          cur match {
            case Some(st) => state.update(st); Iterator(st)
            case None => state.remove(); Iterator.empty
          }
      }
  }
}

/** One event of a user's activity stream (timestamps pre-truncated to
  * seconds by the caller, matching the batch sessionizer).
  */
case class SessionEvent(user_id: Long, tss: java.sql.Timestamp, value: Double)

/** One (possibly still-open) session of a user. */
case class UserSession(user_id: Long, session_id: Long,
                       session_start: java.sql.Timestamp,
                       n_events: Long, sum_value: Double)

private[streaming] case class SessionState(
    session_id: Long, session_start: java.sql.Timestamp,
    n_events: Long, sum_str: String, last_secs: Long)

/** Stateful gap-based sessionization: the streaming twin of
  * `Queries.eventsSessionize` (same 30-minute gap rule, same output shape
  * — in batch mode the DuckDB oracle that checks the window-based batch
  * query checks this state-based path too). Per-key state carries the
  * open session across micro-batches; in Update mode each batch re-emits
  * the sessions it touched. The running sum is kept as an exact decimal
  * (each addend rounded to 10 decimal places, the `Exact.sqlSum` rule) so
  * the emitted double matches the oracle bit-for-bit regardless of
  * arrival order across batches.
  */
object StreamSessionize {

  def sessions(events: Dataset[SessionEvent],
               gapSecs: Long = 1800): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, records: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val evs = records.toArray.sortBy(_.tss.getTime)
          if (evs.isEmpty) Iterator.empty
          else {
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer[UserSession]()
            def emit(): Unit = if (st != null)
              out += UserSession(uid, st.session_id, st.session_start,
                st.n_events, BigDecimal(st.sum_str).doubleValue)
            evs.foreach { e =>
              val t = e.tss.getTime / 1000
              if (st == null || t - st.last_secs > gapSecs) {
                emit() // the previous session is final — a gap closed it
                st = SessionState(
                  if (st == null) 1L else st.session_id + 1,
                  e.tss, 0L, "0", t)
              }
              st = st.copy(
                n_events = st.n_events + 1,
                sum_str = (BigDecimal(st.sum_str) +
                  BigDecimal(java.lang.Double.toString(e.value))
                    .setScale(10, BigDecimal.RoundingMode.HALF_UP)).toString,
                last_secs = t)
            }
            emit() // current shape of the still-open session (Update mode)
            state.update(st)
            out.iterator
          }
      }
  }
}

/** Watermarked tumbling-window aggregation (the streaming twin of the batch
  * `events_window_agg`). The same plan runs bounded or unbounded; streaming
  * callers add `withWatermark` before the groupBy so late events beyond the
  * bound are dropped and state is reclaimed.
  */
object WindowCounts {

  /** Hourly tumbling counts per event type over (ts, event_type, value). */
  def counts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,10)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming form: 2-hour watermark, update-mode-compatible. */
  def streamingCounts(events: DataFrame): DataFrame =
    counts(events.withWatermark("ts", "2 hours"))
}

/** Streaming windowed top-k: the most frequent event types per hour. The
  * counting layer is an ordinary watermarked tumbling aggregation — fully
  * incremental, state bounded by the watermark. The RANK layer is not
  * incrementally maintainable in append mode (a late event can demote an
  * already-emitted rank), so it runs where ranking belongs in a streaming
  * architecture: over the maintained counts at read time (or per
  * micro-batch via foreachBatch) — the same split `stream_agg_maintain`
  * uses for CDC-maintained aggregates. Batch-gated on the identical plan.
  */
object StreamTopK {

  /** Hourly tumbling per-type counts over (ts, event_type, ...). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"))

  /** Streaming form of the counting layer: 2-hour watermark. */
  def streamingCounts(events: DataFrame): DataFrame =
    hourlyCounts(events.withWatermark("ts", "2 hours"))

  /** Rank layer: top-k event types within each window. */
  def topk(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start")).orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("win_start"), col("rank"), col("event_type"), col("n"))
  }
}

/** Streaming CDC → versioned store: every micro-batch of change records
  * becomes one REVISION of an SCD2 parquet store — the end-to-end shape of
  * a CDC-fed lakehouse table (the reference's dataset-apply loop, driven
  * by a stream instead of a file repository). Per batch: reconstruct the
  * open rows from the store, apply the batch's changes with the level-5
  * classifier, append the result as revision `r` via
  * [[graft.operators.Versioned.appendRevision]], and atomically swap the
  * store directory. All heavy work is DataFrame ops inside
  * `foreachBatch`; the store stays reconstructable at every batch
  * boundary (time travel over micro-batches).
  */
object CdcToVersioned {
  import graft.operators.Versioned
  import org.apache.spark.sql.SparkSession

  /** Apply one micro-batch of changes as revision `rev` of the store at
    * `path` (parquet; absent = empty store at rev 0). Returns the new
    * store. Batch-callable directly and from `run`'s foreachBatch.
    */
  def applyBatch(s: SparkSession, batch: DataFrame, path: String,
                 rev: Int): DataFrame = {
    import s.implicits._
    val store =
      if (graft.sources.ManifestStore.currentVersion(s, path).isDefined)
        graft.sources.ManifestStore.resolve(s, path)
      else Versioned.store(Nil,
        Seq.empty[(Long, Double, Int)].toDF("key", "payload", Versioned.Created), "key")
    val cur = Versioned.atRevision(store, rev - 1)
    // derive the post-batch snapshot: latest record per key wins, deletes
    // drop the key — then append it as the store's next revision
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("seq").desc)
    val latest = batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val snapshot = cur.join(latest.select("key"), Seq("key"), "left_anti")
      .unionByName(latest.filter(col("action") =!= "D")
        .select(col("key"), col("payload")))
    val next = Versioned.appendRevision(store, snapshot, rev, "key")
    // Object-store-safe commit: the new store version is written to its own
    // immutable directory and becomes visible only when the manifest pointer
    // lands ([[graft.sources.ManifestStore]]); a crash anywhere leaves the
    // previous version readable — there is no window with no store, and no
    // data-directory rename for object stores to copy-emulate.
    graft.sources.ManifestStore.publish(next, path)
    // bound storage: keep the new head + one rollback version per batch
    graft.sources.ManifestStore.vacuum(s, path, keep = 2)
    graft.sources.ManifestStore.resolve(s, path)
  }

  /** Streaming entry: one revision per micro-batch, starting at `firstRev`. */
  def run(changes: DataFrame, path: String, firstRev: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(firstRev)
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, batch, path,
          counter.getAndIncrement()): Unit
      }
      .outputMode("update")
      .start()
  }
}

/** Stream-stream interval join: attribute each purchase to the views of
  * the same user in the preceding hour — Spark's watermarked stream-stream
  * inner join with a time-range condition. Both sides' state is bounded by
  * the watermark + the interval (the state store evicts views older than
  * the watermark minus one hour), so the join runs indefinitely on
  * unbounded inputs. On bounded frames the identical join condition runs
  * as a plain batch equi-join on user plus the range filter — the gate
  * checks that path against the oracle, the spec drives two MemoryStreams.
  *
  * Scale: the shuffle key is the user id on both sides; the range
  * condition never becomes a cross join because the equi-key carries the
  * join. Skewed power-users are AQE's skew-join case, same as any key join.
  */
object IntervalJoin {

  /** (view, purchase) pairs of the same user with purchase within `range`
    * after the view. Columns must include user_id + a `tss` timestamp.
    */
  def attribute(views: DataFrame, purchases: DataFrame,
                range: String = "1 hour"): DataFrame = {
    val (v, p) =
      if (views.isStreaming)
        (views.withWatermark("tss", "2 hours").alias("v"),
          purchases.withWatermark("tss", "2 hours").alias("p"))
      else (views.alias("v"), purchases.alias("p"))
    v.join(p,
      col("v.user_id") === col("p.user_id") &&
        col("p.tss") >= col("v.tss") &&
        col("p.tss") <= col("v.tss") + expr(s"INTERVAL $range"))
  }
}

/** One hashed observation for the HLL register file: the bucket (low hash
  * bits) and the leading-zero rank of the hash suffix — computed upstream
  * by the same column expressions as the batch sketch
  * ([[graft.operators.Sketch.hllObs]]).
  */
case class HllObs(bucket: Long, rank: Long)

/** One maintained register: the running max rank for a bucket. */
case class HllRegister(bucket: Long, maxrank: Long)

/** Streaming HyperLogLog maintenance: the register file kept up to date
  * across micro-batches — the stateful twin of the batch `hll_registers`
  * sketch, closing the same batch/stream pair the aggregate
  * ([[CdcToVersioned]]/`stream_agg_maintain`) and top-k families have.
  *
  * State is ONE long per bucket (the register), keyed by bucket across the
  * state store; each micro-batch folds its observations into the running
  * max and re-emits the touched registers (Update mode). Register max is
  * commutative/associative/idempotent, so replays and out-of-order
  * arrivals cannot corrupt the estimate — the property that makes HLL the
  * standard streaming cardinality sketch. Querying at any time reads m=64
  * register rows; per-day register files merge by the same pairwise max.
  */
object StreamHll {

  def registers(obs: Dataset[HllObs]): Dataset[HllRegister] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[HllRegister, HllRegister](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[HllObs], state: GroupState[HllRegister]) =>
          var mx = state.getOption.map(_.maxrank).getOrElse(0L)
          rows.foreach { r => if (r.rank > mx) mx = r.rank }
          val next = HllRegister(bucket, mx)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One hashed observation for a grouped KMV sketch: the group key and the
  * value's [0,1) hash — computed upstream by the same column expressions
  * as the batch sketch ([[graft.operators.Sketch.kmvObs]]).
  */
case class KmvObs(lang: String, h: Double)

/** One maintained sketch: a group's current k smallest hashes, ascending. */
case class KmvState(lang: String, minima: Seq[Double])

/** Streaming KMV maintenance: each group's k-minimum-values set kept up to
  * date across micro-batches — the stateful twin of the batch
  * `kmv_by_group` sketch, completing the batch/stream pair for BOTH
  * round-6 cardinality sketches (HLL registers: [[StreamHll]]).
  *
  * State is the bounded ascending minima list (≤ k doubles per group);
  * each micro-batch unions its observations in, dedups, and re-takes the k
  * smallest — the same merge the batch sketch uses across partitions.
  * Take-k-smallest is commutative/associative/idempotent, so replays and
  * out-of-order arrivals cannot corrupt the sketch. Estimates read
  * (k−1)/h_k off the maintained state at any time without touching the
  * data again; per-group sketches merge into any rollup the same way.
  */
object StreamKmv {

  def minima(obs: Dataset[KmvObs], k: Int = 64): Dataset[KmvState] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.lang)
      .flatMapGroupsWithState[KmvState, KmvState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[KmvObs], state: GroupState[KmvState]) =>
          // bounded fold: a ≤k-element ordered set, O(log k) per row —
          // the batch iterator never materializes
          val set = scala.collection.mutable.TreeSet.empty[Double]
          state.getOption.foreach(s => set ++= s.minima)
          rows.foreach { r =>
            if (set.size < k) set += r.h
            else if (r.h < set.lastKey && !set.contains(r.h)) {
              set += r.h; set -= set.lastKey
            }
          }
          val next = KmvState(lang, set.toSeq)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One raw observation for a sharded quantile summary: the row's shard,
  * value and unique tiebreak key — computed upstream by the same column
  * expressions as the batch sketch
  * ([[graft.operators.Quantile.lineitemObs]]).
  */
case class QuantObs(shard: Long, v: Long, k: String)

/** One weighted summary point (value, tiebreak, weight). */
case class QuantPoint(v: Long, k: String, w: Long)

/** One maintained shard summary: its weighted points (ascending (v, k))
  * and the accumulated rank-error bound (Σ compaction strides).
  */
case class QuantSummary(shard: Long, points: Seq[QuantPoint], stride_sum: Long)

/** Streaming quantile-summary maintenance: each shard's bounded weighted
  * summary kept up to date across micro-batches — the stateful twin of the
  * batch `q_quantiles_sketch` construction, completing the stream side for
  * ALL the engine's mergeable sketches (HLL, KMV, Bloom, quantile).
  *
  * Each micro-batch folds its weight-1 observations into the shard's
  * sorted point list; past `samples` points the list COMPACTS by the same
  * rule as the batch construction — keep the point where the cumulative
  * weight crosses each multiple of stride = ⌈n/S⌉ (carrying the skipped
  * weight) plus the maximum with the remainder — so a single-batch run
  * reproduces [[graft.operators.Quantile.summarizeKeyed]]'s picks
  * bit-for-bit (what the shared DuckDB oracle checks), and every
  * compaction adds its stride to the summary's HONEST rank-error bound
  * (weight is conserved exactly; only rank resolution degrades). State is
  * ≤ S+1 points per shard however many rows stream past. Quantile
  * summaries are NOT replay-idempotent (weights would double-count) —
  * this maintainer assumes effectively-once input, e.g. downstream of
  * [[StreamDedup]].
  */
object StreamQuantile {

  def summaries(obs: Dataset[QuantObs], samples: Int = 64): Dataset[QuantSummary] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.shard)
      .flatMapGroupsWithState[QuantSummary, QuantSummary](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[QuantObs], state: GroupState[QuantSummary]) =>
          val prev = state.getOption
          val all = (prev.map(_.points).getOrElse(Seq.empty).iterator ++
            rows.map(r => QuantPoint(r.v, r.k, 1L)))
            .toIndexedSeq.sortBy(p => (p.v, p.k))
          val prevSum = prev.map(_.stride_sum).getOrElse(0L)
          val next =
            if (all.size <= samples) QuantSummary(shard, all, prevSum)
            else {
              val n = all.iterator.map(_.w).sum
              val stride = (n + samples - 1) / samples
              val kept = Vector.newBuilder[QuantPoint]
              var cw = 0L
              var lastKept = 0L
              var i = 0
              for (p <- all) {
                cw += p.w
                i += 1
                if (cw / stride > lastKept / stride || i == all.size) {
                  kept += QuantPoint(p.v, p.k, cw - lastKept)
                  lastKept = cw
                }
              }
              QuantSummary(shard, kept.result(), prevSum + stride)
            }
          state.update(next)
          Iterator(next)
      }
  }
}

/** One set-bit observation for a packed Bloom mask: the 32-bit word index
  * and the bit's mask within it — computed upstream by the same position
  * hashes as the batch filter ([[graft.operators.JoinShapes.bloomObs]]).
  */
case class BloomObs(w: Long, m: Long)

/** One maintained mask word: the running OR for a word index. */
case class BloomWord(w: Long, mask: Long)

/** Streaming Bloom-filter maintenance: the packed bitmask kept up to date
  * across micro-batches — the stateful twin of the batch `bloom_prune`
  * build. State is ONE long per touched 32-bit word; each micro-batch ORs
  * its observations in. OR is commutative/associative/idempotent, so
  * replays and out-of-order arrivals cannot corrupt the filter, and a
  * reader can snapshot the word table at any time to prune a join — keys
  * only ever ADD bits, so a snapshot is conservatively correct (zero
  * false negatives for every key seen before the snapshot).
  */
object StreamBloom {

  def mask(obs: Dataset[BloomObs]): Dataset[BloomWord] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.w)
      .flatMapGroupsWithState[BloomWord, BloomWord](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (w: Long, rows: Iterator[BloomObs], state: GroupState[BloomWord]) =>
          var mk = state.getOption.map(_.mask).getOrElse(0L)
          rows.foreach { r => mk |= r.m }
          val next = BloomWord(w, mk)
          state.update(next)
          Iterator(next)
      }
  }
}

/** Streaming exact-dedup: drop events whose id was already seen, with the
  * watermark bounding how long ids stay in the state store (the streaming
  * twin of `Dedup.dedupExact`'s content-hash grouping — at-least-once
  * sources become effectively-once downstream).
  */
object StreamDedup {
  /** On a stream: watermarked within-watermark dedup (bounded state). On a
    * bounded frame the same contract is plain `dropDuplicates` —
    * `dropDuplicatesWithinWatermark` itself refuses batch inputs.
    */
  def dedupe(events: DataFrame, idCols: Seq[String]): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)
}

/** One k-gram occurrence: the gram's md5, its document and 1-based token
  * position — computed upstream by the same column expressions as the
  * batch substring dedup ([[graft.operators.SubstringDedup]]).
  */
case class GramObs(g: String, doc_id: Long, p: Int)

/** One maintained gram state: the global first-occurrence key
  * (doc_id·10^6 + p) and the min/max document ids seen — `doc_lo ≠
  * doc_hi` is exactly "appeared in ≥ 2 distinct documents".
  */
case class GramState(g: String, min_okey: Long, doc_lo: Long, doc_hi: Long)

/** Streaming gram-registry maintenance for substring dedup: per gram, the
  * first-occurrence key and the cross-document flag kept up to date as
  * documents stream in — the stateful twin of
  * [[graft.operators.SubstringDedup]]'s batch grouping. State is three
  * longs per gram; min/max/min folds are commutative, associative and
  * idempotent, so replays and out-of-order document arrivals cannot
  * corrupt the registry. A snapshot at any time drives the SAME strip
  * transform the batch path runs: every occurrence whose key is not the
  * maintained minimum of a cross-document gram strips — new documents
  * dedup against the whole history without re-scanning it.
  */
object StreamGrams {

  def states(obs: Dataset[GramObs]): Dataset[GramState] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.g)
      .flatMapGroupsWithState[GramState, GramState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[GramObs], state: GroupState[GramState]) =>
          var mk = state.getOption.map(_.min_okey).getOrElse(Long.MaxValue)
          var lo = state.getOption.map(_.doc_lo).getOrElse(Long.MaxValue)
          var hi = state.getOption.map(_.doc_hi).getOrElse(Long.MinValue)
          rows.foreach { r =>
            val ok = r.doc_id * 1000000L + r.p
            if (ok < mk) mk = ok
            if (r.doc_id < lo) lo = r.doc_id
            if (r.doc_id > hi) hi = r.doc_id
          }
          val next = GramState(g, mk, lo, hi)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the heavy-hitter maintainers: an item's
  * occurrence count within one micro-batch of one shard — pre-aggregated
  * upstream over the same column expressions as the batch sketch
  * (`foreachBatch` in production, [[graft.operators.Sketch.hhPartials]]
  * in the gate), so the state store receives O(distinct items per batch)
  * rows, never one per occurrence.
  */
case class HhPart(shard: Long, bg: String, c: Long)

/** One kept item of a shard's summary. */
case class HhItem(bg: String, cnt: Long)

/** One maintained shard summary: its ≤ m kept items (count-descending)
  * and the accumulated error term (Σ over compactions of the largest
  * count cut — an upper bound on any item's lost mass in this shard).
  */
case class HhSummary(shard: Long, items: Seq[HhItem], err: Long)

/** Streaming heavy-hitter maintenance: each shard's Misra-Gries-family
  * top-m summary kept up to date across micro-batches — the stateful twin
  * of the batch `topk_sketch` construction, extending the batch/stream
  * sketch pairs (HLL, KMV, Bloom, quantile, gram registry) to frequent
  * items.
  *
  * Fed per-batch PARTIALS ([[HhPart]] — one (item, count) row per item
  * per micro-batch, pre-aggregated upstream by a vectorized
  * map-side-combined count: `foreachBatch` in production,
  * [[graft.operators.Sketch.hhPartials]] in the gate — the
  * [[StreamProfile]] lesson: mergeable state wants the micro-batch
  * pre-reduced, not one encoder-boxed row per OCCURRENCE shuffled into
  * the shard's state partition). The fold merges them into the kept
  * counts (an item absent from the kept list restarts at 0 — the
  * deliberate Misra-Gries undercount), re-sorts by (count desc, item) and
  * CUTS back to m; the cut's largest dropped count adds to the summary's
  * HONEST error term, so `kept ≤ true ≤ kept + err` holds for every item
  * across any number of batches (for a never-kept item the bracket is
  * [0, err]). A single-batch run reproduces the batch sketch bit-for-bit
  * (what the shared DuckDB oracle checks): one merge over the full counts,
  * one cut, err = the (m+1)-th count. State is ≤ m items + one long per
  * shard however many rows stream past. Counts are NOT replay-idempotent —
  * this maintainer assumes effectively-once input, e.g. downstream of
  * [[StreamDedup]].
  */
object StreamTopkSketch {

  def summaries(parts: Dataset[HhPart], m: Int = graft.operators.Sketch.HhM)
  : Dataset[HhSummary] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.shard)
      .flatMapGroupsWithState[HhSummary, HhSummary](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[HhPart], state: GroupState[HhSummary]) =>
          val prev = state.getOption
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          prev.foreach(_.items.foreach(i => counts(i.bg) = i.cnt))
          rows.foreach { r =>
            counts(r.bg) = counts.getOrElse(r.bg, 0L) + r.c
          }
          val sorted = counts.toIndexedSeq
            .map { case (bg, c) => HhItem(bg, c) }
            .sortBy(i => (-i.cnt, i.bg))
          val prevErr = prev.map(_.err).getOrElse(0L)
          val next =
            if (sorted.size <= m) HhSummary(shard, sorted, prevErr)
            else HhSummary(shard, sorted.take(m), prevErr + sorted(m).cnt)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One cell-assignment observation for the IVF census: the vector's
  * nearest-base-centroid cell and whether it arrived in an append batch —
  * computed upstream by the same assignment expressions as the batch
  * census ([[graft.operators.Similarity.ivfObs]]).
  */
case class IvfObs(cell: Long, is_app: Long)

/** One maintained cell census row: base and appended member counts. */
case class IvfCensus(cell: Long, n_base: Long, n_appended: Long)

/** Streaming IVF census maintenance: each cell's (base, appended) member
  * counts kept up to date as vectors stream in — the stateful layer a
  * served IVF index consults between retrains. [[graft.operators.
  * Similarity]]'s `ivf_append` drift audit and `ivf_split` compaction
  * both key off this census; maintaining it incrementally means the
  * retrain-scheduling and split decisions read O(cells) state instead of
  * re-assigning the corpus.
  *
  * State is two longs per cell; counter adds are commutative and
  * associative, so out-of-order arrivals cannot corrupt the census —
  * but counts are NOT replay-idempotent, so this maintainer assumes
  * effectively-once input (e.g. downstream of [[StreamDedup]]), same as
  * the quantile and heavy-hitter maintainers.
  */
object StreamIvf {

  def census(obs: Dataset[IvfObs]): Dataset[IvfCensus] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.cell)
      .flatMapGroupsWithState[IvfCensus, IvfCensus](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[IvfObs], state: GroupState[IvfCensus]) =>
          var nb = state.getOption.map(_.n_base).getOrElse(0L)
          var na = state.getOption.map(_.n_appended).getOrElse(0L)
          rows.foreach { r =>
            if (r.is_app == 0L) nb += 1L else na += 1L
          }
          val next = IvfCensus(cell, nb, na)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One kept item of a SpaceSaving-style summary: its count upper bound and
  * the error it inherited when it (re-)entered the kept set — per item,
  * `ub - err <= true count <= ub`.
  */
case class SsItem(bg: String, ub: Long, err: Long)

/** One maintained SpaceSaving shard summary: ≤ m kept items plus the
  * eviction floor — the largest upper bound ever cut from this shard, an
  * upper bound on the true count of ANY item currently absent from it.
  */
case class SsSummary(shard: Long, items: Seq[SsItem], floor: Long)

/** Count-inheriting (SpaceSaving-style) heavy-hitter maintenance — the
  * tighter-bracket sibling of [[StreamTopkSketch]] (Metwally et al.,
  * "Efficient Computation of Frequent and Top-k Elements in Data Streams",
  * ICDT 2005; mergeability per Agarwal et al., PODS 2012).
  *
  * Where the Misra-Gries maintainer restarts an evicted-then-returning item
  * at 0 and accrues every cut into one per-shard error SUM, this maintainer
  * keeps per-item error: an item entering the kept set INHERITS the shard's
  * current eviction floor (`ub = floor + batch count`, `err = floor` — the
  * most it could have accumulated while untracked), and the floor itself
  * advances by MAX (the largest upper bound ever evicted), not by sum. Both
  * invariants hold after every batch however items churn:
  *
  *  - kept item: `ub - err <= true <= ub` (err fixed at entry, batch counts
  *    are exact while kept);
  *  - absent item: `true <= floor` (it was either never seen, or left with
  *    `ub <= floor`).
  *
  * Across many compactions `floor = max(cuts)` stays far below Misra-Gries'
  * `err = Σ cuts`, so long-running summaries keep usable brackets (the spec
  * pins `floor <= MG err` on a shared stream). A single batch from empty
  * state reproduces the batch `topk_sketch` cut bit-for-bit with every
  * `err = 0` and `floor` = the (m+1)-th count — what the shared DuckDB
  * oracle checks. Fed per-batch PARTIALS ([[HhPart]], pre-aggregated
  * upstream) like its Misra-Gries sibling, so the shard's state partition
  * sees O(distinct items per batch) rows, never one per occurrence. State
  * is ≤ m (item, 2 longs) + one long per shard; like the other counting
  * maintainers it assumes effectively-once input.
  */
object StreamTopkSpace {

  def summaries(parts: Dataset[HhPart], m: Int = graft.operators.Sketch.HhM)
  : Dataset[SsSummary] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.shard)
      .flatMapGroupsWithState[SsSummary, SsSummary](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[HhPart], state: GroupState[SsSummary]) =>
          val prev = state.getOption
          val floor0 = prev.map(_.floor).getOrElse(0L)
          val batch = scala.collection.mutable.HashMap.empty[String, Long]
          rows.foreach(r => batch(r.bg) = batch.getOrElse(r.bg, 0L) + r.c)
          val merged =
            scala.collection.mutable.HashMap.empty[String, (Long, Long)]
          prev.foreach(_.items.foreach(i => merged(i.bg) = (i.ub, i.err)))
          batch.foreach { case (bg, c) =>
            merged(bg) = merged.get(bg) match {
              case Some((u, e)) => (u + c, e)
              case None         => (floor0 + c, floor0)
            }
          }
          val sorted = merged.toIndexedSeq
            .map { case (bg, (u, e)) => SsItem(bg, u, e) }
            .sortBy(i => (-i.ub, i.bg))
          val (kept, cut) = sorted.splitAt(m)
          val floor1 =
            if (cut.isEmpty) floor0 else math.max(floor0, cut.head.ub)
          val next = SsSummary(shard, kept, floor1)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the Count-Min maintainer: a flat cell id
  * (hash row · width + bucket, the same md5 bucket expression as the
  * batch matrix — [[graft.operators.Sketch.cmsBucket]]) and the number
  * of landings it received within one micro-batch — pre-aggregated
  * upstream, so the state store receives O(touched cells per batch)
  * rows, never one per landing (d rows per item occurrence).
  */
case class CmsPart(cell: Long, c: Long)

/** One maintained Count-Min cell: its flat id and counter. */
case class CmsCell(cell: Long, cnt: Long)

/** Streaming Count-Min maintenance: the d×w counter matrix kept up to date
  * as observations stream in — one long of state per touched cell, counter
  * adds commutative and associative so out-of-order arrival cannot corrupt
  * a cell. Fed per-batch PARTIALS ([[CmsPart]] — the [[StreamProfile]]
  * lesson: the micro-batch pre-counts its cell landings vectorized;
  * `foreachBatch` in production, a plain groupBy-count in the gate). A
  * single batch from empty state reproduces the batch matrix
  * exactly (the shared DuckDB oracle checks the point-query report over
  * it); like the other counting maintainers it assumes effectively-once
  * input. At 100 TB the matrix is the serving layer point-frequency reads
  * hit between batch rebuilds — d·w longs however many items streamed.
  */
object StreamCms {

  def cells(parts: Dataset[CmsPart]): Dataset[CmsCell] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CmsCell, CmsCell](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[CmsPart], state: GroupState[CmsCell]) =>
          var add = 0L
          rows.foreach(add += _.c)
          val next = CmsCell(cell,
            state.getOption.map(_.cnt).getOrElse(0L) + add)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch RAW bucket partial for the DSIR importance-model
  * maintainer: token count and target-token count of one hashed bucket in
  * one micro-batch — pre-aggregated upstream
  * ([[graft.operators.Filtering.dsirPartials]]); smoothing stays on the
  * read side so the folds are plain mergeable adds.
  */
case class DsirPart(f: Long, cnt: Long, tcnt: Long)

/** One maintained bucket count pair. */
case class DsirCount(f: Long, cnt: Long, tcnt: Long)

/** Streaming maintenance of the DSIR importance model's bucket counts
  * (target and raw token totals per hashed bucket) — the state layer that
  * keeps importance-resampling selection current as the corpus and the
  * quality seed stream in, instead of recounting both distributions per
  * run. Fed per-batch PARTIALS (the [[StreamProfile]] lesson: mergeable
  * state wants the micro-batch pre-aggregated, not rows×tokens of raw
  * observations through the state store); adds are commutative and
  * associative, effectively-once input assumed. A single batch from empty
  * state reproduces the batch bucket frame exactly — the gate feeds the
  * maintained counts through the read-time smoothing + fixed-point
  * log-ratio report and shares the batch oracle.
  */
object StreamDsir {

  def counts(parts: Dataset[DsirPart]): Dataset[DsirCount] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.f)
      .flatMapGroupsWithState[DsirCount, DsirCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (f: Long, rows: Iterator[DsirPart], state: GroupState[DsirCount]) =>
          var c = state.getOption.map(_.cnt).getOrElse(0L)
          var t = state.getOption.map(_.tcnt).getOrElse(0L)
          rows.foreach { p => c += p.cnt; t += p.tcnt }
          val next = DsirCount(f, c, t)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL bigram count for the LM-count maintainer — the
  * bigram's occurrence count within one micro-batch, pre-aggregated
  * upstream by a vectorized count over the same extraction expressions as
  * the batch LM (`foreachBatch` in production,
  * [[graft.operators.TrainPrep.lmPartials]] in the gate).
  */
case class LmPart(w1: String, w2: String, c: Long)

/** One maintained bigram count. */
case class LmCount(w1: String, w2: String, c12: Long)

/** Streaming bigram-LM count maintenance: the (w1, w2) counts behind the
  * corpus language model kept up to date as documents stream in — the
  * state layer that keeps perplexity scoring ([[graft.operators
  * .Filtering.docPpl]]) and the context report (`text_bigram_lm`) fresh
  * between batch retrains instead of re-scanning the corpus. Fed
  * per-batch PARTIALS ([[LmPart]] — the [[StreamProfile]] lesson:
  * mergeable counter state wants the micro-batch pre-reduced, not one
  * encoder-boxed row per bigram OCCURRENCE through the state store). One
  * long of state per distinct bigram; counter adds are commutative and
  * associative, so out-of-order arrival cannot corrupt a count (like the
  * other counting maintainers it assumes effectively-once input). A
  * single batch from empty state reproduces the batch count frame
  * exactly — the gate feeds the maintained counts through the SAME
  * report (and DuckDB oracle) as the batch gate.
  */
object StreamLm {

  def counts(parts: Dataset[LmPart]): Dataset[LmCount] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(o => (o.w1, o.w2))
      .flatMapGroupsWithState[LmCount, LmCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, String), rows: Iterator[LmPart],
         state: GroupState[LmCount]) =>
          var add = 0L
          rows.foreach(add += _.c)
          val next = LmCount(k._1, k._2,
            state.getOption.map(_.c12).getOrElse(0L) + add)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-shingle hash observation for the signature maintainer: the two
  * 32-bit md5 halves the Kirsch–Mitzenmacher construction combines —
  * computed upstream by the same expressions as the batch signature frame
  * ([[graft.operators.Dedup.minhashObs]]).
  */
case class MhObs(doc_id: Long, h1: Long, h2: Long)

/** One maintained document signature: the 16 running minima. */
case class MhSig(doc_id: Long, sigs: Seq[Long])

/** Streaming MinHash signature maintenance: every document's 16-hash
  * signature kept up to date as shingles stream in — the state layer that
  * keeps [[graft.operators.Dedup.dedupIncremental]]'s base index current
  * between batch runs. min-folds are commutative, associative and
  * idempotent, so unlike the counting maintainers this state is safe under
  * replay AND out-of-order delivery (an at-least-once source cannot
  * corrupt a minimum). State is 16 longs per document; a single batch from
  * empty state reproduces the batch signature frame bit-for-bit (what the
  * shared DuckDB oracle checks).
  */
object StreamMinhash {

  def signatures(obs: Dataset[MhObs],
                 n: Int = graft.operators.Dedup.numHashes)
  : Dataset[MhSig] = {
    import obs.sparkSession.implicits._
    val MaxH = 4294967296L
    obs
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[MhSig, MhSig](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (doc: Long, rows: Iterator[MhObs], state: GroupState[MhSig]) =>
          val sigs = state.getOption
            .map(_.sigs.toArray)
            .getOrElse(Array.fill(n)(Long.MaxValue))
          rows.foreach { r =>
            var i = 1
            while (i <= n) {
              val h = (r.h1 + i * r.h2) % MaxH
              if (h < sigs(i - 1)) sigs(i - 1) = h
              i += 1
            }
          }
          val next = MhSig(doc, sigs.toSeq)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL profile of a (shard, column): non-null count and
  * min/max in both comparison forms (`int`/`dec` compare on the `num`
  * pair, `str`/`ts` on the `str` pair), computed upstream by a plain
  * map-side-combined aggregation over the micro-batch (`foreachBatch` in
  * production, [[graft.operators.Quality.profilePartials]] in the gate).
  * The maintainer folds ONE row per (shard, column) per batch — feeding
  * it raw cell observations instead shuffled rows × columns
  * encoder-boxed objects through the state store (measured: 6.6M rows,
  * 15 s at sf0.1, vs ~350 partial rows).
  */
case class ProfPart(shard: Long, cname: String, kind: String,
                    n_nonnull: Long,
                    min_num: Option[Double], max_num: Option[Double],
                    min_str: Option[String], max_str: Option[String])

/** One maintained per-column profile: non-null count and the running
  * min/max in both comparison forms.
  */
case class ProfState(shard: Long, cname: String, kind: String,
                     n_nonnull: Long,
                     min_num: Option[Double], max_num: Option[Double],
                     min_str: Option[String], max_str: Option[String])

/** Streaming maintenance of the monotone/additive half of the table
  * profile ([[graft.operators.Quality.tableProfile]]): per column,
  * non-null count and typed min/max kept current as rows stream in — the
  * catalog statistics a 100-TB optimizer consults staying fresh under
  * CDC instead of being recollected by full ANALYZE scans. The input is
  * per-batch PARTIALS ([[ProfPart]]) — profile states are mergeable, so
  * the micro-batch pre-aggregates (vectorized, map-side-combined) and
  * the state store folds partial-per-key rows, never the raw cells.
  * min/max folds are idempotent (replay-safe); the count is not
  * (effectively-once input assumed, like the other counting
  * maintainers). Distinct counts are deliberately absent — that is
  * exactly what the mergeable sketch maintainers (HLL/KMV) are for.
  * State is O(1) per (column, shard) —
  * [[graft.operators.Quality.ProfShards]] shards per column fold in
  * parallel and merge at read time, so a table's rows never funnel
  * through one state partition per column.
  */
object StreamProfile {

  private def foldMin[T](a: Option[T], b: Option[T])
                        (implicit o: Ordering[T]): Option[T] =
    (a.toSeq ++ b.toSeq).reduceOption((x: T, y: T) => o.min(x, y))

  private def foldMax[T](a: Option[T], b: Option[T])
                        (implicit o: Ordering[T]): Option[T] =
    (a.toSeq ++ b.toSeq).reduceOption((x: T, y: T) => o.max(x, y))

  def states(parts: Dataset[ProfPart]): Dataset[ProfState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(p => (p.shard, p.cname, p.kind))
      .flatMapGroupsWithState[ProfState, ProfState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case ((shard, cname, kind), rows, state) =>
          var st = state.getOption.getOrElse(
            ProfState(shard, cname, kind, 0L, None, None, None, None))
          rows.foreach { p =>
            st = ProfState(shard, cname, kind, st.n_nonnull + p.n_nonnull,
              foldMin(st.min_num, p.min_num), foldMax(st.max_num, p.max_num),
              foldMin(st.min_str, p.min_str), foldMax(st.max_str, p.max_str))
          }
          state.update(st)
          Iterator(st)
      }
  }
}

/** One merged as-of observation: left (side 1, an event carrying its id)
  * or right (side 0, a payload row) — stacked upstream exactly like the
  * batch union-window recipe ([[graft.operators.AsOf.asofJoin]]).
  */
case class AsofObs(user_id: Long, t: java.sql.Timestamp, side: Int,
                   event_id: Option[Long], payload: Option[Long])

/** Per-key as-of state: the newest right row seen (epoch millis + its
  * payload — which may be legitimately null, hence the nested Option).
  */
case class AsofCarry(t: Long, payload: Option[Long])

/** One joined output row, schema-identical to the batch as-of gate. */
case class AsofOut(event_id: Long, user_id: Long,
                   tss: java.sql.Timestamp, asof_orderkey: Option[Long])

/** Streaming as-of (point-in-time) join — the feature-store serve path:
  * per key, the newest right row at-or-before each arriving left row. A
  * single batch over bounded input sorts each key's rows by (t, side)
  * with rights first at equal times and replays the exact batch as-of
  * semantics (the shared DuckDB ASOF JOIN oracle checks this). Across
  * micro-batches the state is ONE (t, payload) per key — the newest
  * right — so the join is exact whenever rows arrive time-ordered per
  * key (the post-watermark discipline); a left older than the carried
  * right emits NULL rather than a future payload (no look-ahead
  * leakage), which is the standard serve-time approximation — exact
  * late-left replay would require buffering right history, which is the
  * batch operator's job.
  */
object StreamAsof {

  def joined(obs: Dataset[AsofObs]): Dataset[AsofOut] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofCarry, AsofOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsofObs], state: GroupState[AsofCarry]) =>
          val sorted = rows.toSeq
            .sortBy(o => (o.t.getTime, o.side, o.event_id.getOrElse(0L)))
          var carry = state.getOption
          val out = Seq.newBuilder[AsofOut]
          sorted.foreach { o =>
            if (o.side == 0) {
              if (carry.forall(_.t <= o.t.getTime))
                carry = Some(AsofCarry(o.t.getTime, o.payload))
            } else {
              val c = carry.filter(_.t <= o.t.getTime)
              out += AsofOut(o.event_id.get, key, o.t, c.flatMap(_.payload))
            }
          }
          carry.foreach(state.update)
          out.result().iterator
      }
  }
}

/** One per-batch PARTIAL for the line-frequency maintainer: a line hash
  * with the micro-batch's distinct-document and occurrence counts —
  * pre-aggregated upstream ([[graft.operators.LineDedup.linePartials]]
  * in the gate; `foreachBatch` in production). Distinct-document adds
  * stay mergeable because DOCUMENTS ARE BATCH-ATOMIC: a document's
  * lines all arrive in the batch that carries the document, so
  * per-batch distinct counts sum to the corpus distinct count — the
  * same effectively-once input discipline the other counting
  * maintainers assume.
  */
case class LinePart(lh: String, nd: Long, no: Long)

/** One maintained line-frequency row. */
case class LineCount(lh: String, n_docs: Long, n_occ: Long)

/** Streaming maintenance of the line-level boilerplate census
  * ([[graft.operators.LineDedup]]): per line hash, running
  * distinct-document and occurrence counts — the state layer that keeps
  * the boilerplate flag set current as a crawl streams in, instead of
  * re-counting the corpus per batch. Fed per-batch partials from day
  * one (the [[StreamProfile]] lesson); adds are commutative and
  * associative, so out-of-order batch arrival cannot corrupt a line's
  * counters. A single batch from empty state reproduces the batch
  * census exactly — the gate filters the maintained state at the batch
  * [[graft.operators.LineDedup]] DfBar and shares `line_census`'s
  * DuckDB oracle. At 100 TB the state is one (hash, 2 longs) row per
  * DISTINCT line — boilerplate-skewed, far smaller than the corpus —
  * and the read side is the broadcast flag-set feed for the strip.
  */
object StreamLineCensus {

  def counts(parts: Dataset[LinePart]): Dataset[LineCount] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.lh)
      .flatMapGroupsWithState[LineCount, LineCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lh: String, rows: Iterator[LinePart], state: GroupState[LineCount]) =>
          var nd = state.getOption.map(_.n_docs).getOrElse(0L)
          var no = state.getOption.map(_.n_occ).getOrElse(0L)
          rows.foreach { p => nd += p.nd; no += p.no }
          val next = LineCount(lh, nd, no)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the canonical-URL registry: a canonical
  * URL with the batch's min doc_id, member count, and DISTINCT surface
  * forms — pre-aggregated upstream
  * ([[graft.operators.UrlOps.urlPartials]] in the gate; `foreachBatch`
  * in production).
  */
case class UrlPart(cu: String, min_doc: Long, nd: Long,
                   surfaces: Seq[String])

/** One maintained canonical-URL row: the registry entry plus the exact
  * count of surface-form observations dropped past the [[StreamUrlDedup
  * .SurfaceCap]]-smallest registry (0 until a key overflows).
  */
case class UrlState(cu: String, min_doc: Long, n_docs: Long,
                    surfaces: Seq[String], n_dropped: Long)

/** Streaming canonical-URL dedup registry ([[graft.operators.UrlOps]]):
  * per canonical URL, the crawl-order winner (running min doc_id),
  * member count, and a BOUNDED surface-form set — the state a crawler
  * consults to drop page aliases AT FETCH TIME instead of
  * re-deduplicating the corpus per batch. The set keeps the
  * [[SurfaceCap]] lexicographically-smallest distinct surfaces (the
  * KMV eviction discipline, [[StreamKmv]], applied to strings instead
  * of hashes — the kept set is a pure function of the observed values,
  * so out-of-order batch arrival cannot corrupt it) plus an EXACT
  * counter of observations dropped past the cap, so an adversarial
  * surface flood (arbitrary non-tracking query-param values all
  * canonicalizing to one URL) costs O([[SurfaceCap]]) state per key,
  * not O(flood). All folds are mergeable (min, add, bounded
  * ordered-set union); the per-batch merge is a TreeSet fold —
  * O(new surfaces · log cap), never a re-sort of the held set. A
  * single batch from empty state with every key under the cap
  * reproduces the batch dedup exactly (shares `dedup_url`'s DuckDB
  * oracle; the gate corpus plants ≤ 2 surfaces per canonical, far
  * under the cap, so no eviction fires on the gate path).
  */
object StreamUrlDedup {

  /** Max surface forms held per canonical URL. */
  val SurfaceCap = 16

  def states(parts: Dataset[UrlPart]): Dataset[UrlState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.cu)
      .flatMapGroupsWithState[UrlState, UrlState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cu: String, rows: Iterator[UrlPart], state: GroupState[UrlState]) =>
          var md = state.getOption.map(_.min_doc).getOrElse(Long.MaxValue)
          var nd = state.getOption.map(_.n_docs).getOrElse(0L)
          var dropped = state.getOption.map(_.n_dropped).getOrElse(0L)
          val set = scala.collection.mutable.TreeSet.empty[String]
          state.getOption.foreach(s => set ++= s.surfaces)
          rows.foreach { p =>
            md = math.min(md, p.min_doc)
            nd += p.nd
            p.surfaces.foreach { sf =>
              if (!set.contains(sf)) {
                if (set.size < SurfaceCap) set += sf
                else if (sf < set.last) { set += sf; set -= set.last; dropped += 1 }
                else dropped += 1
              }
            }
          }
          val next = UrlState(cu, md, nd, set.toSeq, dropped)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the quality-curve maintainer: one
  * threshold bucket's document/kept/token/quality-sum counters within
  * one micro-batch — pre-aggregated upstream
  * ([[graft.operators.TrainPrep.qualityPartials]] in the gate;
  * `foreachBatch` in production).
  */
case class QtPart(k: Int, n_docs: Long, n_docs_kept: Long,
                  n_tokens_kept: Long, sumq: Long)

/** One maintained threshold bucket. */
case class QtState(k: Int, n_docs: Long, n_docs_kept: Long,
                   n_tokens_kept: Long, sumq: Long)

/** Streaming maintenance of the quality-vs-quantity curve
  * ([[graft.operators.TrainPrep.qualityTradeoff]]): ten threshold
  * buckets of four counters each — the whole state is 10 rows however
  * much corpus streamed, kept current so the pipeline owner's
  * threshold decision reads O(1) state instead of re-scoring the
  * corpus. All four folds are plain adds (the fixed-point quality sum
  * included — the reason the mean stays integer-exact end to end);
  * effectively-once input assumed like the other counting maintainers.
  * A single batch from empty state reproduces the batch counters
  * exactly, so the gate shares `quality_tradeoff`'s DuckDB oracle.
  */
object StreamQualityCurve {

  def counters(parts: Dataset[QtPart]): Dataset[QtState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.k)
      .flatMapGroupsWithState[QtState, QtState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: Int, rows: Iterator[QtPart], state: GroupState[QtState]) =>
          var (nd, nk, nt, sq) = state.getOption
            .map(s => (s.n_docs, s.n_docs_kept, s.n_tokens_kept, s.sumq))
            .getOrElse((0L, 0L, 0L, 0L))
          rows.foreach { p =>
            nd += p.n_docs; nk += p.n_docs_kept
            nt += p.n_tokens_kept; sq += p.sumq
          }
          val next = QtState(k, nd, nk, nt, sq)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the drift maintainer: one quality-decile
  * bucket's reference/current counts within one micro-batch —
  * pre-aggregated upstream ([[graft.operators.Quality.driftCounts]] in
  * the gate; `foreachBatch` in production).
  */
case class DrPart(k: Long, n_ref: Long, n_cur: Long)

/** One maintained drift bucket. */
case class DrState(k: Long, n_ref: Long, n_cur: Long)

/** Streaming maintenance of the quality-drift monitor
  * ([[graft.operators.Quality.qualityDrift]]): ten quality-decile
  * buckets × two counters — 20 longs of state however much corpus
  * streamed — kept current so the drift alarm (the χ² report) is a
  * pure function of O(1) state after every ingest batch instead of a
  * two-window corpus re-scan. Both folds are plain adds;
  * effectively-once input assumed like the other counting
  * maintainers. A single batch from empty state reproduces the batch
  * counters exactly, so the gate shares `quality_drift`'s oracle.
  */
object StreamDrift {

  def counters(parts: Dataset[DrPart]): Dataset[DrState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.k)
      .flatMapGroupsWithState[DrState, DrState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[DrPart], state: GroupState[DrState]) =>
          var (nr, nc) = state.getOption
            .map(s => (s.n_ref, s.n_cur)).getOrElse((0L, 0L))
          rows.foreach { p => nr += p.n_ref; nc += p.n_cur }
          val next = DrState(k, nr, nc)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One distinct (gram, window) observation for the novelty maintainer
  * — pre-deduplicated per batch upstream
  * ([[graft.operators.CorpusFilters.noveltyObs]] in the gate).
  */
case class NvObs(g: String, w: Long)

/** Maintained per-gram novelty state: the first window the gram was
  * seen in (exact forever — a min never rolls) and a ROLLING 64-window
  * occupancy bitmap — bit i of `wmask` = "appeared in window
  * `base_w + i`", covering [base_w, base_w + 63]. O(1) per gram
  * regardless of occurrence count OR crawl-horizon length: when a
  * window beyond the horizon arrives, the mask shifts right and
  * `base_w` advances (oldest windows roll out), so a production crawl
  * that outlives 64 windows keeps exact recent-horizon occupancy
  * instead of failing. For ≤ 64 windows `base_w` stays 0 and the mask
  * is bit-identical to the fixed-horizon formulation (the batch-oracle
  * invariant).
  */
case class NvGramState(g: String, first_w: Long, base_w: Long, wmask: Long)

/** One per-batch PARTIAL of the per-window occurrence counters. Doc
  * counts add across batches because documents are batch-atomic (a
  * doc's grams all arrive in one batch), the `stream_line_maintain`
  * argument.
  */
case class NvPart(w: Long, n_docs: Long, n_occ: Long)

/** One maintained window-counter row. */
case class NvWinState(w: Long, n_docs: Long, n_occ: Long)

/** Streaming maintenance of the corpus novelty curve
  * ([[graft.operators.CorpusFilters.corpusNovelty]]) — the natural
  * STREAMING framing of the census, because in production each crawl
  * batch IS a window: per gram, (first_w, window-bitmask) via a
  * min/bit-or fold (both commutative AND idempotent — replays cannot
  * corrupt the state); per window, plain-add occurrence counters. The
  * next-crawl ROI decision then reads the maintained state instead of
  * re-scanning every crawl so far. A single batch from empty state
  * reproduces the batch census exactly, so the gate shares
  * `corpus_novelty`'s DuckDB oracle.
  */
object StreamNovelty {

  def gramStates(obs: Dataset[NvObs]): Dataset[NvGramState] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.g)
      .flatMapGroupsWithState[NvGramState, NvGramState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[NvObs], state: GroupState[NvGramState]) =>
          var (fw, base, mask) = state.getOption
            .map(s => (s.first_w, s.base_w, s.wmask))
            .getOrElse((Long.MaxValue, 0L, 0L))
          rows.foreach { o =>
            require(o.w >= 0, s"negative window id ${o.w}")
            if (o.w < fw) fw = o.w
            if (o.w > base + 63) {
              // roll the horizon forward: oldest windows shift out.
              // Java's >>> uses shift mod 64, so a jump past the whole
              // mask must clear explicitly instead of aliasing.
              val shift = o.w - 63 - base
              mask = if (shift >= 64) 0L else mask >>> shift
              base += shift
            }
            // an observation for an already-rolled-out window is a no-op
            // — exactly what a replay of an old batch must be. The fold
            // stays order-independent: the batch's max window fixes the
            // final base, and every bit below it rolls out no matter the
            // arrival order.
            if (o.w >= base) mask |= (1L << (o.w - base))
          }
          val next = NvGramState(g, fw, base, mask)
          state.update(next)
          Iterator(next)
      }
  }

  def winCounters(parts: Dataset[NvPart]): Dataset[NvWinState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.w)
      .flatMapGroupsWithState[NvWinState, NvWinState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (w: Long, rows: Iterator[NvPart], state: GroupState[NvWinState]) =>
          var (nd, no) = state.getOption
            .map(s => (s.n_docs, s.n_occ)).getOrElse((0L, 0L))
          rows.foreach { p => nd += p.n_docs; no += p.n_occ }
          val next = NvWinState(w, nd, no)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One per-batch PARTIAL for the epoch-planner census: one source's
  * document and token counts within one micro-batch — pre-aggregated
  * upstream ([[graft.operators.TrainPrep.epochCensus]] shape).
  */
case class EpPart(source: String, n_docs: Long, n_tokens: Long)

/** One maintained source-census row. */
case class EpState(source: String, n_docs: Long, n_tokens: Long)

/** Streaming maintenance of the per-source census behind the UniMax
  * epoch planner ([[graft.operators.TrainPrep.corpusEpochs]]): state is
  * one (n_docs, n_tokens) pair per SOURCE — a config-sized set however
  * much corpus streamed — kept current so re-planning the token budget
  * after every ingest batch reads S rows of state instead of
  * re-counting the corpus. Both folds are plain adds; effectively-once
  * input assumed. A single batch from empty state reproduces the batch
  * census exactly, and the closed-form waterfilling report is a pure
  * function of the census, so the gate shares `corpus_epochs`' oracle.
  */
object StreamEpochCensus {

  def census(parts: Dataset[EpPart]): Dataset[EpState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.source)
      .flatMapGroupsWithState[EpState, EpState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[EpPart], state: GroupState[EpState]) =>
          var nd = state.getOption.map(_.n_docs).getOrElse(0L)
          var nt = state.getOption.map(_.n_tokens).getOrElse(0L)
          rows.foreach { p => nd += p.n_docs; nt += p.n_tokens }
          val next = EpState(src, nd, nt)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One micro-batch content-hash-index partial: per content hash, the
  * min doc id and member count observed this batch (pre-reduced
  * upstream — one row per distinct hash per batch, the [[LinePart]]
  * shape keyed by content hash instead of line hash).
  */
case class HashPart(h: String, keep_doc: Long, n_docs: Long)

/** One maintained content-hash-index entry: the exact-dedup state a
  * production store persists per distinct content — the kept (min) doc
  * id and how many arrivals collapsed onto it.
  */
case class HashState(h: String, keep_doc: Long, n_docs: Long)

/** Streaming content-hash-index maintenance — the exact-dedup state the
  * incremental pipeline reads (`pipeline_incr_state`): per distinct
  * content hash, min-doc + count fold into one state row. Min and sum
  * are commutative/associative, so arrival order and batch boundaries
  * cannot change the converged state (the batch `dedup_exact` keep rule
  * is `min(doc_id) per hash` — identical by construction). State is one
  * row per DISTINCT content, the dedup store's own cardinality.
  *
  * Reference analog: the Level-0 store's primary-key table that
  * `bde_ApplyLevel5Update` probes arriving rows against
  * (`sql/02-bde_control_functions.sql.in:1576`) — maintained by the
  * loader, read (never re-derived) by the incremental apply.
  */
object StreamHashIndex {

  def states(parts: Dataset[HashPart]): Dataset[HashState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.h)
      .flatMapGroupsWithState[HashState, HashState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[HashPart], state: GroupState[HashState]) =>
          var keep = state.getOption.map(_.keep_doc).getOrElse(Long.MaxValue)
          var nd = state.getOption.map(_.n_docs).getOrElse(0L)
          rows.foreach { p =>
            if (p.keep_doc < keep) keep = p.keep_doc
            nd += p.n_docs
          }
          val next = HashState(h, keep, nd)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One micro-batch pack high-water-mark partial: tokens/docs entering a
  * (split:lang) stratum this batch.
  */
case class HwmPart(strat: String, n_docs: Long, n_tokens: Long)

/** One maintained per-stratum high-water mark — the cumulative token
  * offset the pack/shard delta continues from.
  */
case class HwmState(strat: String, n_docs: Long, n_tokens: Long)

/** Streaming pack high-water-mark maintenance — the per-stratum
  * cumulative token offsets (`pipeline_e2e_incr`'s `base_off` frame and
  * the global shard total) kept as additive counters, the [[StreamEpochCensus]]
  * shape keyed by pack stratum. Adds are commutative/associative;
  * state is O(strata).
  */
object StreamHighWater {

  def states(parts: Dataset[HwmPart]): Dataset[HwmState] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(_.strat)
      .flatMapGroupsWithState[HwmState, HwmState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[HwmPart], state: GroupState[HwmState]) =>
          var nd = state.getOption.map(_.n_docs).getOrElse(0L)
          var nt = state.getOption.map(_.n_tokens).getOrElse(0L)
          rows.foreach { p => nd += p.n_docs; nt += p.n_tokens }
          val next = HwmState(k, nd, nt)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One verified near-dup pair arriving on the stream, pre-routed to a
  * connectivity state shard (shard = min endpoint mod
  * [[graft.operators.Clustering.CcShards]] — ANY edge partition is
  * valid, see [[StreamCluster]]).
  */
case class EdgeObs(shard: Long, a: Long, b: Long)

/** One spanning-forest edge of a shard's maintained union-find. */
case class FEdge(a: Long, b: Long)

/** One shard's maintained connectivity state: the spanning forest of
  * every pair routed to it, plus the monotone observation counter
  * (`n_seen` orders state versions for multi-batch readers; duplicate
  * deliveries advance it without changing the forest).
  */
case class ForestState(shard: Long, n_seen: Long, fedges: Seq[FEdge])

/** Streaming connected-components maintenance — the incremental twin of
  * the batch `dedup_clusters` propagation: verified near-dup pairs
  * arrive in micro-batches and each state shard folds them into a
  * union-find whose SPANNING FOREST is the persisted state.
  *
  * Why a forest per shard is enough: the components of a union of edge
  * sets equal the components of the union of each set's spanning
  * forest (a forest preserves exactly the connectivity of its edge
  * set), so edges may be routed to shards ARBITRARILY and a read-time
  * merge pass ([[graft.operators.Clustering.clustersFromForest]] — the
  * same frontier propagation as the batch gate) recovers the global
  * min-id labels. This is the standard distributed-CC decomposition,
  * here split batch-side (bounded per-shard fold) / read-side (merge).
  *
  * Idempotence/commutativity: union-find over an edge SET is
  * insensitive to duplicate and out-of-order arrivals — a replayed
  * pair unions two already-connected nodes (no-op), so at-least-once
  * delivery cannot corrupt the state (the spec pins this).
  *
  * Scale (100 TB): state is the duplicate-subset node set, sharded —
  * per-group state stays bounded by the shard's incident nodes, NOT by
  * corpus size or by edge count (the forest compresses any number of
  * parallel edges to ≤ nodes−1 entries); the daily production
  * operation prices one micro-batch's pairs, never the
  * re-propagation of the full pair graph the batch gate would re-run.
  */
object StreamCluster {

  def forests(obs: Dataset[EdgeObs]): Dataset[ForestState] = {
    import obs.sparkSession.implicits._
    obs
      .groupByKey(_.shard)
      .flatMapGroupsWithState[ForestState, ForestState](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[EdgeObs], state: GroupState[ForestState]) =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x // path compression
            while (parent.getOrElse(c, c) != c) {
              val nx = parent(c); parent(c) = r; c = nx
            }
            r
          }
          def union(a: Long, b: Long): Unit = {
            parent.getOrElseUpdate(a, a)
            parent.getOrElseUpdate(b, b)
            val (ra, rb) = (find(a), find(b))
            // min-root union keeps roots at component minima, matching
            // the batch labels' min-id orientation shard-locally
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
          var seen = state.getOption.map(_.n_seen).getOrElse(0L)
          state.getOption.foreach(_.fedges.foreach(e => union(e.a, e.b)))
          rows.foreach { o => union(o.a, o.b); seen += 1 }
          // re-emit the compressed forest: one (node, root) edge per
          // non-root node — deterministic (sorted) for stable state
          val fedges = parent.keys.toSeq.sorted.flatMap { nd =>
            val r = find(nd)
            if (r != nd) Some(FEdge(nd, r)) else None
          }
          val next = ForestState(shard, seen, fedges)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One micro-batch trigram-count partial (the [[LmPart]] pattern one
  * order up): pre-reduced upstream so the state store sees one row per
  * distinct trigram per batch, not one per occurrence.
  */
case class KnPart(w1: String, w2: String, w3: String, c: Long)

/** One micro-batch 5-gram-count partial ([[KnPart]] two orders up). */
case class Kn5Part(w1: String, w2: String, w3: String, w4: String,
                   w5: String, c: Long)

/** One maintained 5-gram count. */
case class Kn5Count(w1: String, w2: String, w3: String, w4: String,
                    w5: String, c: Long)

/** Streaming 5-gram-LM count maintenance — [[StreamKn]] two orders up,
  * for the CCNet-order filter (`doc_ppl_kn5`). Identical argument: the
  * 5-gram KN model's every lower-order statistic (the A/B/H continuation
  * tables down to N1+(··)) derives from the one 5-gram type table, so
  * one long of state per distinct 5-gram maintains the whole model; the
  * read layer re-derives and shares the batch gate's report and oracle.
  */
object StreamKn5 {

  def counts(parts: Dataset[Kn5Part]): Dataset[Kn5Count] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(o => (o.w1, o.w2, o.w3, o.w4, o.w5))
      .flatMapGroupsWithState[Kn5Count, Kn5Count](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, String, String, String, String),
         rows: Iterator[Kn5Part], state: GroupState[Kn5Count]) =>
          var add = 0L
          rows.foreach(add += _.c)
          val next = Kn5Count(k._1, k._2, k._3, k._4, k._5,
            state.getOption.map(_.c).getOrElse(0L) + add)
          state.update(next)
          Iterator(next)
      }
  }
}

/** One maintained trigram count. */
case class KnCount(w1: String, w2: String, w3: String, c123: Long)

/** Streaming trigram-LM count maintenance — [[StreamLm]] extended one
  * order: the (w1, w2, w3) counts behind the Kneser-Ney filter
  * ([[graft.operators.Filtering]]'s doc_ppl_kn) kept up to date as
  * documents stream in. The KN model's EVERY lower-order statistic
  * (continuation counts, context totals, the global N1+(··)) derives
  * from this one type/count table, so maintaining it maintains the
  * whole model — the read layer re-derives them and shares the batch
  * gate's report and oracle. Counter adds are commutative/associative
  * (effectively-once input assumed, as for the other counting
  * maintainers); state is one long per distinct trigram.
  */
object StreamKn {

  def counts(parts: Dataset[KnPart]): Dataset[KnCount] = {
    import parts.sparkSession.implicits._
    parts
      .groupByKey(o => (o.w1, o.w2, o.w3))
      .flatMapGroupsWithState[KnCount, KnCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: (String, String, String), rows: Iterator[KnPart],
         state: GroupState[KnCount]) =>
          var add = 0L
          rows.foreach(add += _.c)
          val next = KnCount(k._1, k._2, k._3,
            state.getOption.map(_.c123).getOrElse(0L) + add)
          state.update(next)
          Iterator(next)
      }
  }
}
