package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2 #34–#35) — the live
  * counterpart of pyspec's scan monitoring: windowed detector-count
  * aggregation with late-data watermarks, scan-boundary detection
  * (sessionization) and the per-key stream monitors.
  *
  * These transforms are source-agnostic: the same code runs over a
  * MemoryStream in tests, a Kafka topic, or a file drop-box, because
  * they only describe the logical streaming plan.
  *
  * Per-key contract, owned by one core (`Keyed`):
  *  - Reading order: a key's rows of one micro-batch are folded in
  *    (event time, operator tie-break) order, so a result does not
  *    depend on arrival order or on how rows split into batches.
  *  - [[IdleEvict]]: with a policy the input is watermarked by
  *    `watermarkDelay`, and a key's state is removed once the
  *    watermark passes the latest event time of its last batch +
  *    `idleMs`; the key restarts from its initial state if it returns.
  *    The timeout is always armed strictly above the current
  *    watermark. `None` keeps the state for the life of the query.
  *  - Gap sessions (`sessionize`, `fitPeaksStream`) close after
  *    `gapMs` of event-time inactivity; a session the watermark closes
  *    emits its row on the timeout (emit-on-timeout).
  * The gap sessions, `nearDupStream` and the per-reading monitors are
  * `step` functions on the core; `qteStream` and `benfordStream` fold
  * a whole batch and use only its watermark, timeout and eviction
  * parts. The heavy-hitter, HHI and itemset operators bound state by
  * sketch or window instead.
  */
object StreamingOps {

  /** Dead-key eviction policy for the per-key monitor operators
    * (CUSUM, Kalman, z-score, Page–Hinkley, decay features, CEP
    * pattern, attribution, Benford). Each of those keeps O(1) state
    * PER KEY, but the key domain (users / scans / entities) is
    * open-ended over a long-lived stream: a key that stops arriving
    * ("dead") would otherwise hold its few longs of state forever.
    * With a policy set, the operator watermarks its input by
    * `watermarkDelay` (rows later than that out-of-order are dropped
    * — the standard stateful-streaming contract) and evicts a key's
    * state once the event-time watermark passes its last reading +
    * `idleMs`; the key restarts from scratch if it ever returns.
    * `None` (the default) keeps the r9 NoTimeout behavior for
    * bounded key domains the CALLER owns (e.g. a fixed instrument
    * fleet) and for exact batch==stream replay parity.
    */
  final case class IdleEvict(watermarkDelay: String, idleMs: Long) {
    require(idleMs > 0, s"idleMs not positive: $idleMs")
  }

  /** The per-key state core: watermark, timeout mode, reading order,
    * state update and eviction for every keyed monitor (see the
    * contract in the object header). A monitor is a `step`.
    */
  private object Keyed {

    /** When a key's state ends: `watermark` (if set) is applied to the
      * input's `ts` column, and the state expires once the watermark
      * passes the key's last event time + `horizonMs`. */
    final case class Expiry(watermark: Option[String], horizonMs: Long)

    /** A gap session's end: its last event time (the timeout clock —
      * not the batch's latest reading, since an out-of-order batch can
      * end before the open session does) and the row it emits when
      * the watermark closes it. */
    final case class Session[K, S, O](lastMs: S => Long, close: (K, S) => O)

    def idle(e: Option[IdleEvict]): Option[Expiry] =
      e.map(p => Expiry(Some(p.watermarkDelay), p.idleMs))

    def watermarked[E](in: Dataset[E], e: Option[Expiry]): Dataset[E] =
      e.flatMap(_.watermark).fold(in)(in.withWatermark("ts", _))

    def timeoutOf(e: Option[Expiry]): GroupStateTimeout =
      if (e.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    /** Arm the key's timeout at (last event time + horizon), clamped
      * strictly above the current watermark (required by the
      * EventTimeTimeout contract when late keys straggle in). */
    def armEviction(state: GroupState[_], e: Option[Expiry], lastEventMs: Long): Unit =
      e.foreach { p =>
        state.setTimeoutTimestamp(
          math.max(lastEventMs + p.horizonMs, state.getCurrentWatermarkMs + 1L))
      }

    /** Group `in` by `key` and fold each key's batch, sorted by
      * (`ts`, `tie`), through `step`: it gets the key's state (None
      * for a fresh key) and one row, and returns the new state and at
      * most one output row. A key whose state is still None stores
      * nothing. On expiry the state is removed and a `session` emits
      * its closing row.
      */
    def apply[E, K: Encoder, S: Encoder, O: Encoder, T: Ordering](
        in: Dataset[E], mode: OutputMode, expiry: Option[Expiry])(
        key: E => K, ts: E => Timestamp, tie: E => T)(
        step: (K, Option[S], E) => (Option[S], Option[O]),
        session: Option[Session[K, S, O]] = None): Dataset[O] =
      watermarked(in, expiry).groupByKey(key)
        .flatMapGroupsWithState[S, O](mode, timeoutOf(expiry)) {
          (k: K, rows: Iterator[E], state: GroupState[S]) =>
            if (state.hasTimedOut) {
              val last = state.get
              state.remove()
              session.map(_.close(k, last)).iterator
            } else {
              val sorted = rows.toSeq.sortBy(e => (ts(e).getTime, tie(e)))
              var st = state.getOption
              val out = sorted.flatMap { e =>
                val (next, o) = step(k, st, e)
                st = next
                o
              }
              st.foreach { s =>
                state.update(s)
                armEviction(state, expiry,
                  session.fold(ts(sorted.last).getTime)(_.lastMs(s)))
              }
              out.iterator
            }
        }
  }

  /** Event-time windowed aggregation with a watermark: per (window,
    * key) event count and total value, emitted once finalized (Append
    * semantics downstream).
    */
  def windowedAgg(events: DataFrame, timeCol: String, keyCol: String, valueCol: String,
                  windowDur: String, watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"), col("total"))

  /** Streaming exact dedup by content digest: keeps the first
    * arrival of each key and drops re-deliveries while their
    * event time is within the watermark horizon — the streaming
    * counterpart of the batch `Relational.dedupExact` for a
    * continuously-ingested corpus. State is one (digest) entry per
    * distinct document inside the horizon; the watermark evicts it,
    * so executor memory is bounded by the dedup window, not the
    * stream length.
    */
  def dedupStream(events: DataFrame, timeCol: String, contentCol: String,
                  watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .withColumn("_digest", md5(col(contentCol).cast("binary")))
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Stream-stream inner equi-join bounded by an event-time interval
    * (right events within `[left.ts − boundSeconds, left.ts]`) — the
    * live enrichment shape (readings ⋈ recent commands). Both inputs
    * must carry watermarks; the interval bound lets the engine evict
    * join state once the watermark passes, so state stays
    * O(in-flight window), not O(stream).
    *
    * The right side's columns are expected pre-renamed so only the
    * equi-key collides (`rightKey`).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   boundSeconds: Long,
                   joinType: String = "inner"): DataFrame =
    left.join(right, expr(
      s"""$leftKey = $rightKey AND
         |$rightTime >= $leftTime - INTERVAL $boundSeconds SECONDS AND
         |$rightTime <= $leftTime""".stripMargin), joinType)

  /** Streaming as-of enrichment (the live counterpart of
    * [[graft.operators.AsOfJoin.backward]]): each left event is
    * paired with the MOST RECENT right event of its key within
    * `boundSeconds` look-back — not just any in-window match. Built
    * from two chained stateful operators (supported since multiple
    * stateful ops landed in Spark's streaming engine): the interval
    * join produces every in-bound candidate, and a watermarked
    * `max_by` aggregate keyed by the left event keeps the latest
    * right row, emitting once the watermark closes the event.
    * State in both stages is watermark-evicted: O(in-flight window).
    *
    * `leftCols` are carried through (must functionally depend on the
    * left event identity `leftId`); the right payload arrives as
    * `asof_<payload>` with its event time as `asof_time`.
    *
    * Like the batch counterpart, every left event is KEPT: the
    * interval join is left-outer (legal for stream-stream joins when
    * both sides are watermarked, which this op requires anyway), so a
    * left event with no in-bound right match still emits — with null
    * `asof_*` columns — once the watermark closes it.
    */
  def asOfStream(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTime: String, rightTime: String,
                 leftId: String, payload: String,
                 boundSeconds: Long): DataFrame = {
    val joined = intervalJoin(left, right, leftKey, rightKey,
      leftTime, rightTime, boundSeconds, joinType = "leftOuter")
    joined
      .groupBy(col(leftId), col(leftKey), col(leftTime))
      .agg(
        max_by(col(payload), col(rightTime)).as(s"asof_$payload"),
        max(col(rightTime)).as("asof_time"))
  }

  /** Incremental 3-D gridder (streaming counterpart of
    * `Binning.grid3d`): points fold into per-(window, cell) partial
    * statistics as they arrive, finalized when the watermark passes
    * the window — the live build-up of a reciprocal-space map while
    * the scan is still running. The shuffle keys are (window, cell),
    * exactly the batch gridder's distribution plus time, so a
    * billion-point stream reduces map-side the same way.
    */
  def grid3dStream(points: DataFrame, timeCol: String,
                   x: Column, y: Column, z: Column, w: Column,
                   sx: Double, sy: Double, sz: Double,
                   windowDur: String, watermarkDelay: String): DataFrame =
    points.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur),
        floor(x / sx).cast("long").as("gx"),
        floor(y / sy).cast("long").as("gy"),
        floor(z / sz).cast("long").as("gz"))
      .agg(count(lit(1)).as("n"), sum(w).as("w_sum"))
      .select(col("window.start").as("win_start"),
        col("gx"), col("gy"), col("gz"), col("n"),
        col("w_sum"), (col("w_sum") / col("n")).as("w_mean"))

  /** Streaming decontamination monitor: flags incoming documents that
    * share any word k-gram with the held-out evaluation set, with the
    * count of distinct shared shingles — the live counterpart of
    * [[graft.operators.Dedup.contamination]], sharing its shingle
    * derivation so batch and stream flag identically.
    *
    * Plan: stream-STATIC join — the (tiny, by definition) eval
    * shingle-key set is a static broadcast side, so the document
    * stream never shuffles for the join; the per-doc distinct count
    * is a watermarked windowed aggregate (append mode). Stateless
    * but for the window aggregate: memory O(in-flight window).
    */
  def contaminationStream(docs: DataFrame, evalDf: DataFrame,
                          timeCol: String, idCol: String, textCol: String,
                          evalText: Column, k: Int,
                          windowDur: String, watermarkDelay: String): DataFrame = {
    val evKeys = evalDf
      .select(explode(graft.expressions.TextExpressions.shingleKeysFast(evalText, k)).as("h"))
      .distinct()
    docs.withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol), col(idCol).as("doc_id"),
        explode(graft.expressions.TextExpressions.shingleKeysFast(col(textCol), k)).as("h"))
      .join(broadcast(evKeys), Seq("h"))
      // shingleKeysFast emits DISTINCT keys per doc, so a plain count
      // IS the distinct shared-shingle count (streaming forbids
      // count_distinct; no dedup state needed here)
      .groupBy(window(col(timeCol), windowDur), col("doc_id"))
      .agg(count(col("h")).as("n_shared"))
      .select(col("window.start").as("win_start"), col("doc_id"), col("n_shared"))
  }

  final case class BandDoc(band: String, docId: Long, ts: Timestamp)
  final case class BandFirst(firstId: Long)
  final case class BandHit(docId: Long, dupOf: Long, band: String)

  /** Streaming near-duplicate suppression: a document sharing any
    * MinHash LSH band with an earlier in-horizon document is flagged
    * against that band's first arrival — the live counterpart of
    * [[graft.operators.Dedup.minhashPairs]], sharing its signature
    * and band-key derivation so batch and stream bucket identically.
    *
    * Plan: per-row native signature → explode band keys (bands× fan
    * out of fixed-width keys, never payloads) → the keyed-state core,
    * keyed by band, holding ONE doc id per band (reading order
    * (ts, docId)). State is evicted `ttlMs` past the latest event time
    * of a band's last batch once the watermark passes — memory is
    * O(distinct bands in horizon), not O(stream).
    * A doc hitting b bands of an earlier doc emits b hits; consumers
    * dedup (docId, dupOf) downstream if they need pair-distinct
    * output (kept in the operator's output so the band that matched
    * is observable).
    */
  def nearDupStream(docs: DataFrame, timeCol: String, idCol: String, textCol: String,
                    k: Int, numPerms: Int, bands: Int,
                    watermarkDelay: String, ttlMs: Long): Dataset[BandHit] = {
    require(ttlMs > 0, s"ttlMs not positive: $ttlMs")
    import docs.sparkSession.implicits._
    val sig = graft.expressions.TextExpressions.minHashSig(col(textCol), k, numPerms)
    val banded = docs.withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol).as("eventTs"), col(idCol).as("docId"), sig.as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("eventTs"), col("docId"),
        explode(graft.operators.Dedup.bandKeys(col("sig"), numPerms, bands)).as("bd"))
      .select(concat_ws(":", col("bd.band"), col("bd.bh")).as("band"),
        col("docId"), col("eventTs").as("ts"))
      .as[BandDoc]
    // the watermark sits on the document stream (above), so documents
    // too short to have a signature still advance it
    Keyed(banded, OutputMode.Append(), Some(Keyed.Expiry(None, ttlMs)))(
        _.band, _.ts, _.docId) {
      (band: String, first: Option[BandFirst], d: BandDoc) =>
        first match {
          case None => (Some(BandFirst(d.docId)), None)
          case Some(f) if f.firstId != d.docId => (first, Some(BandHit(d.docId, f.firstId, band)))
          case _ => (first, None)
        }
    }
  }

  final case class ScanPoint(user: Long, ts: Timestamp, x: Double, y: Double)
  final case class ScanFitState(xs: List[Double], ys: List[Double], last: Long)
  final case class ScanFit(user: Long, n: Long, bg: Double, height: Double,
                           com: Double, sigma: Double, converged: Boolean)

  /** Live peak monitoring: the streaming marriage of scan
    * sessionization and pyspec's lineshape fitting. Points of a scan
    * accumulate per key; the scan closes after `gapMs` of event-time
    * inactivity (observed in-stream, or via timeout once the
    * watermark passes), and the closed scan is fitted with the SAME
    * Levenberg–Marquardt kernel as the batch operator
    * ([[graft.operators.GaussFit.fitArrays]]) — batch and live fits
    * agree by construction.
    *
    * State is O(points-per-scan) per in-flight key — the same bound
    * as the batch `mapGroups` fit — and is freed the moment the scan
    * closes. The input must already carry a watermark on `ts`.
    */
  def fitPeaksStream(ds: Dataset[ScanPoint], gapMs: Long): Dataset[ScanFit] = {
    require(gapMs > 0, s"gapMs not positive: $gapMs")
    import ds.sparkSession.implicits._
    def fitOf(user: Long, st: ScanFitState): ScanFit = {
      val f = graft.operators.GaussFit.fitArrays(
        user, st.xs.reverse.toArray, st.ys.reverse.toArray)
      ScanFit(user, f.n, f.bg, f.height, f.com, f.sigma, f.converged)
    }
    Keyed(ds, OutputMode.Append(), Some(Keyed.Expiry(None, gapMs)))(
        _.user, _.ts, e => (e.x, e.y))(
      (user: Long, cur: Option[ScanFitState], e: ScanPoint) => {
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.last > gapMs =>
            (Some(ScanFitState(List(e.x), List(e.y), t)), Some(fitOf(user, st)))
          case Some(st) =>
            (Some(ScanFitState(e.x :: st.xs, e.y :: st.ys, math.max(st.last, t))), None)
          case None =>
            (Some(ScanFitState(List(e.x), List(e.y), t)), None)
        }
      },
      Some(Keyed.Session((st: ScanFitState) => st.last, fitOf)))
  }

  final case class Evt(user: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class SessionOut(user: Long, startMs: Long, endMs: Long, n: Long, total: Double)

  /** Event-time sessionization: a session closes after `gapMs` of
    * inactivity (either observed in-stream or via event-time timeout
    * once the watermark passes last + gap). Emits CLOSED sessions
    * only — Append output, bounded state.
    *
    * The input must already carry a watermark on `ts`.
    */
  def sessionize(ds: Dataset[Evt], gapMs: Long): Dataset[SessionOut] = {
    require(gapMs > 0, s"gapMs not positive: $gapMs")
    import ds.sparkSession.implicits._
    def out(user: Long, s: SessionState) = SessionOut(user, s.start, s.last, s.n, s.total)
    Keyed(ds, OutputMode.Append(), Some(Keyed.Expiry(None, gapMs)))(
        _.user, _.ts, _.value)(
      (user: Long, cur: Option[SessionState], e: Evt) => {
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last > gapMs =>
            (Some(SessionState(t, t, 1, e.value)), Some(out(user, s)))
          case Some(s) =>
            // out-of-order but within-watermark events may extend
            // the session backwards as well as forwards
            (Some(SessionState(math.min(s.start, t), math.max(s.last, t),
              s.n + 1, s.total + e.value)), None)
          case None =>
            (Some(SessionState(t, t, 1, e.value)), None)
        }
      },
      Some(Keyed.Session((s: SessionState) => s.last, out)))
  }

  /** Live quality filtering: score each arriving document with a
    * TRAINED [[graft.operators.QualityClassifier]] model and keep
    * those above `thresholdMicro`. The model is inlined as a literal
    * weight array inside a pure column expression
    * ([[graft.operators.QualityClassifier.scoreExpr]] — the native
    * bigram-bucket kernel under an `aggregate`), so this is a
    * STATELESS map over the stream — no state store, no
    * stream-static join, batch==stream scores by construction.
    */
  def qualityScoreStream(docs: DataFrame, textCol: String,
                         w: Array[Long], buckets: Int,
                         thresholdMicro: Long): DataFrame =
    docs
      .withColumn("score_micro",
        graft.operators.QualityClassifier.scoreExpr(col(textCol), w, buckets))
      .filter(col("score_micro") >= thresholdMicro)

  /** Streaming Moore–Lewis data-selection filter (#336) — the live
    * counterpart of the batch `q_moore_lewis` gate (#316): each
    * arriving document is scored with the cross-entropy difference
    * Σ(ln P_in − ln P_gen) against two batch-trained topV-capped
    * unigram models inlined as map LITERALS
    * ([[graft.operators.Curation.mlScoreExpr]]), and kept when the
    * score clears `minScoreMicro`. Stateless by construction — no
    * state store, no watermark, no shuffle; the model rides the plan
    * exactly like the streaming quality filter (#97), so
    * batch==stream scores are identical bit-for-bit (pinned in
    * StreamingSpec). Retrain-and-restart is the model-update path,
    * same as every literal-model streaming op here.
    */
  def mooreLewisStream(docs: DataFrame, textCol: String,
                       inModel: Map[String, Long], oovIn: Long,
                       genModel: Map[String, Long], oovGen: Long,
                       minScoreMicro: Long): DataFrame =
    docs
      .withColumn("ml_micro", graft.operators.Curation.mlScoreExpr(
        col(textCol), inModel, oovIn, genModel, oovGen))
      .filter(col("ml_micro") > minScoreMicro)

  final case class HhTerm(grp: Int, term: String, ts: Timestamp)
  final case class HhState(counters: Map[String, Long], n: Long)
  final case class HhCandidate(grp: Int, term: String, lower_bound: Long, n_group: Long)

  /** Streaming rolling distinct actives — the live counterpart of the
    * batch `q_rolling_actives` gate: per sliding event-time window,
    * the EXACT count of distinct active users, as two chained
    * stateful operators (Spark supports stateful chaining on a shared
    * watermark): a per-(window, user) first-arrival dedup, then a
    * window count. State is one row per (window, user) inside the
    * watermark horizon and one running count per open window — both
    * evicted when the watermark passes the window end, so executor
    * memory is bounded by horizon × active users, not stream length.
    * No approximate sketch needed: the dedup stage IS what makes the
    * count exact without count(DISTINCT) (unsupported in streaming).
    */
  def rollingActivesStream(events: DataFrame, timeCol: String, userCol: String,
                           windowDur: String, slideDur: String,
                           watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .select(window(col(timeCol), windowDur, slideDur).as("win"), col(userCol))
      .dropDuplicates("win", userCol)
      .groupBy(col("win"))
      .agg(count(lit(1)).as("active"))
      .select(col("win.start").as("win_start"), col("active"))

  /** Streaming sample-ratio-mismatch monitor — the live counterpart
    * of the batch `q_srm` gate (#301): per tumbling window, distinct
    * users per assignment arm (user_id mod 2) and the exact-integer
    * χ²₁ = (n₀−n₁)²·1e6 // (n₀+n₁) against the 3.841459 critical
    * micro literal. A broken assignment/logging pipeline flips
    * `srm_detected` within one window of the skew starting — BEFORE
    * any downstream metric test reads the experiment. Same shape as
    * [[rollingActivesStream]]: watermarked windowed dropDuplicates
    * bounds the distinct-user state to the watermark horizon; the χ²
    * closed form is the batch gate's formula verbatim, so batch
    * parity is exact (pinned in StreamingSpec).
    */
  def srmStream(events: DataFrame, timeCol: String, userCol: String,
                windowDur: String, watermarkDelay: String): DataFrame = {
    val chi2 = graft.operators.Exact.floorDivBig(
      (col("n0") - col("n1")).cast("decimal(38,0)") * (col("n0") - col("n1")) * lit(1000000L),
      (col("n0") + col("n1")).cast("decimal(38,0)"))
    events.withWatermark(timeCol, watermarkDelay)
      .select(window(col(timeCol), windowDur).as("win"), col(userCol).as("_u"))
      .dropDuplicates("win", "_u")
      .groupBy(col("win"))
      .agg(count(when(pmod(col("_u"), lit(2L)) === 0, 1)).as("n0"),
        count(when(pmod(col("_u"), lit(2L)) === 1, 1)).as("n1"))
      .select(col("win.start").as("win_start"),
        col("n0").cast("long").as("n_arm0"), col("n1").cast("long").as("n_arm1"),
        when(col("n0") + col("n1") > 0, chi2.cast("long"))
          .otherwise(lit(null).cast("long")).as("chi2_micro"),
        when(col("n0") + col("n1") > 0, chi2 > 3841459L)
          .otherwise(lit(null).cast("boolean")).as("srm_detected"))
  }

  final case class ZPoint(user: Long, ts: java.sql.Timestamp, x: Long)
  final case class ZState(ring: Seq[Long])
  final case class ZFlag(user: Long, ts: java.sql.Timestamp, x: Long,
                         n_win: Int, flagged: Boolean)

  /** Streaming rolling z-score monitor — the live counterpart of the
    * batch `q_rolling_zscore` gate: each reading is tested against
    * the trailing `window` values of ITS OWN scan with the same
    * all-integer criterion (n·x − S)² > 9·(nQ − S²) (|z| > 3, no
    * sqrt, no float state). State per scan is a bounded ring of the
    * last `window` integer readings — O(window) regardless of stream
    * length (the ring bounds PER-KEY state; the optional
    * [[IdleEvict]] policy bounds the KEY COUNT by evicting scans
    * that stopped reporting); within-batch order is pinned by
    * (ts, x) like every stateful operator here. Emits every reading
    * with its flag (Update mode).
    */
  def zscoreStream(points: Dataset[ZPoint], window: Int,
                   idleEvict: Option[IdleEvict] = None): Dataset[ZFlag] = {
    require(window >= 1, s"window not positive: $window")
    import points.sparkSession.implicits._
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.user, _.ts, _.x) {
      (user: Long, prev: Option[ZState], p: ZPoint) =>
        val ring = prev.map(_.ring.toVector).getOrElse(Vector.empty)
        val n = ring.length.toLong
        val s = ring.sum
        val q = ring.map(v => v * v).sum
        val dev = n * p.x - s
        val flagged = n >= 4 && dev * dev > 9L * (n * q - s * s)
        (Some(ZState((ring :+ p.x).takeRight(window))),
          Some(ZFlag(user, p.ts, p.x, n.toInt, flagged)))
    }
  }

  /** Streaming heavy hitters — the live counterpart of
    * [[graft.operators.HeavyHitters]] ("what is trending in the
    * ingest firehose right now"). Terms hash-route to `groups`
    * disjoint key groups; each group folds its share of the stream
    * through the SAME bounded Misra–Gries sketch as the batch
    * operator and re-emits its full candidate set whenever it
    * changes (Update-mode sink). A term's entire stream history
    * lands in exactly one group, so the batch superset guarantee
    * carries over per group: any term with total count >
    * n_group/(s+1) is present in the emitted candidates. Downstream
    * either monitors lower bounds directly or runs the batch exact
    * recount over candidates.
    *
    * State per group is O(sketchSize) regardless of stream length —
    * the sketch IS the eviction policy, so no watermark is needed;
    * within-batch insertion order is made deterministic by (ts, term)
    * like every stateful operator here.
    */
  def heavyHittersStream(terms: DataFrame, timeCol: String, termCol: String,
                         groups: Int, sketchSize: Int): Dataset[HhCandidate] = {
    import terms.sparkSession.implicits._
    import graft.operators.HeavyHitters.MgSketch
    terms
      .select(pmod(hash(col(termCol)), lit(groups)).cast("int").as("grp"),
        col(termCol).as("term"), col(timeCol).cast("timestamp").as("ts"))
      .as[HhTerm]
      .groupByKey(_.grp)
      .flatMapGroupsWithState[HhState, HhCandidate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: Int, rows: Iterator[HhTerm], state: GroupState[HhState]) =>
          val mg = new MgSketch(sketchSize)
          val prior = state.getOption.getOrElse(HhState(Map.empty, 0L))
          prior.counters.foreach { case (t, c) => mg.load(t, c) }
          mg.n = prior.n
          rows.toSeq.sortBy(r => (r.ts.getTime, r.term))
            .foreach(r => mg.add(r.term))
          val snap = mg.snapshot().toSeq
          state.update(HhState(snap.toMap, mg.n))
          snap.sortBy(_._1)
            .map { case (t, lb) => HhCandidate(grp, t, lb, mg.n) }.iterator
      }
  }

  final case class HhiDoc(ts: Timestamp, source: String)
  final case class HhiOut(win_start: Long, n_sources: Int, n_docs: Long,
                          hhi_ppm2: Long, top1_ppm: Long)

  /** Streaming source-concentration monitor (#374) — the live
    * counterpart of the HHI audit (#371): per tumbling window, the
    * Herfindahl index of the incoming doc mix and the top-source
    * share, updated every micro-batch (Update mode) so a crawl
    * suddenly dominated by one feed is visible while it happens, not
    * at the nightly mix audit. State per window = one count per
    * source — bounded by the SOURCE DOMAIN (not docs), the same
    * bound the batch gate rides. Shares are exact ppm floor
    * divisions; HHI the exact Σshare².
    */
  def hhiStream(docs: Dataset[HhiDoc], windowSec: Long,
                watermarkDelay: String = "10 minutes"): Dataset[HhiOut] = {
    import docs.sparkSession.implicits._
    // event-time timeout evicts a window's count map once the
    // watermark passes its end — without it the state grows as
    // windows × sources over the stream's lifetime (r8 advisory)
    docs.withWatermark("ts", watermarkDelay)
      .groupByKey(d => d.ts.getTime / 1000L / windowSec * windowSec)
      .flatMapGroupsWithState[Map[String, Long], HhiOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (win: Long, rows: Iterator[HhiDoc], state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var m = state.getOption.getOrElse(Map.empty[String, Long])
            rows.foreach { d => m = m.updated(d.source, m.getOrElse(d.source, 0L) + 1L) }
            state.update(m)
            // timeout once the watermark clears the window end (must
            // stay strictly above the current watermark to be legal)
            state.setTimeoutTimestamp(math.max(
              (win + windowSec) * 1000L, state.getCurrentWatermarkMs + 1000L))
            val n = m.values.sum
            val shares = m.values.map(c => c * 1000000L / n)
            Iterator.single(HhiOut(win, m.size, n,
              shares.map(s => s * s).sum, if (shares.isEmpty) 0L else shares.max))
          }
      }
  }

  /** Streaming VaR-exception (Kupiec) monitor (#363) — the live
    * counterpart of the batch POF backtest (#360): against a
    * batch-calibrated VaR threshold (a LITERAL, like every deployed
    * risk/alert limit), each event-time window reports its exception
    * count, rate, and the one-window Kupiec LR term — the running
    * evidence that the threshold is mis-calibrated, long before the
    * quarterly backtest would say so. Stateless windowed conditional
    * aggregate (two counters per window); the LR closed form is the
    * batch gate's formula per window, with x=0/x=N terms zeroed the
    * same way.
    */
  def varExceptionStream(values: DataFrame, timeCol: String, valueCol: String,
                         varThreshold: Long, pExpected: Double,
                         windowDur: String, watermarkDelay: String): DataFrame = {
    val agg = values.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(lit(1)).as("n"),
        count(when(col(valueCol) > varThreshold, 1)).as("x"))
    val rate = col("x").cast("double") / col("n")
    agg.select(col("window.start").as("win_start"), col("n"), col("x"),
      graft.operators.Binning.floorDivCol(col("x") * lit(1000000L), col("n"))
        .as("exception_rate_ppm"),
      round(lit(2.0) * (
        when(col("x") === 0, lit(0.0)).otherwise(col("x") * log(rate)) +
        when(col("x") === col("n"), lit(0.0))
          .otherwise((col("n") - col("x")) * log(lit(1.0) - rate)) -
        col("x") * log(lit(pExpected)) -
        (col("n") - col("x")) * log(lit(1.0 - pExpected))), 4).as("lr_pof"))
  }

  /** Streaming uplift monitor (#358) — the live counterpart of the
    * Qini gate (#346): per tumbling event-time window, the
    * treatment−control conversion-rate delta in exact ppm, with arms
    * derived from assignment parity (the same user_id%2 derivation
    * as the batch A/B gates #230/#296/#346). One stateful windowed
    * aggregate (four conditional counters per window — O(1) state
    * per open window, watermark-finalized); the uplift is an exact
    * integer floor-division delta, so a flat-lining experiment is
    * visible within one window of it happening. Arms with no traffic
    * in a window emit NULL rather than a fake zero.
    */
  def upliftStream(events: DataFrame, timeCol: String, userCol: String,
                   typeCol: String, convType: String,
                   windowDur: String, watermarkDelay: String): DataFrame = {
    val arm = pmod(col(userCol), lit(2L))
    val agg = events.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(when(arm === 1, 1)).as("n_t"),
        count(when(arm === 1 && col(typeCol) === convType, 1)).as("x_t"),
        count(when(arm === 0, 1)).as("n_c"),
        count(when(arm === 0 && col(typeCol) === convType, 1)).as("x_c"))
    agg.select(col("window.start").as("win_start"),
      col("n_t"), col("x_t"), col("n_c"), col("x_c"),
      when(col("n_t") > 0 && col("n_c") > 0,
        graft.operators.Binning.floorDivCol(col("x_t") * lit(1000000L), col("n_t")) -
          graft.operators.Binning.floorDivCol(col("x_c") * lit(1000000L), col("n_c")))
        .as("uplift_ppm"))
  }

  /** Streaming vocabulary-novelty monitor (#348) — the live proxy of
    * the batch Chao1/coverage gate (#331): per event-time window, how
    * many NEVER-BEFORE-SEEN words arrived? A collapsing novel-token
    * rate means the crawl is saturating its source (diminishing
    * vocabulary returns); a spike means a new domain/language entered
    * the feed. Exact, not sketched: the token stream dedups on the
    * word itself via `dropDuplicatesWithinWatermark`, so each word's
    * FIRST arrival survives and every repeat within the watermark
    * horizon is dropped — state is one entry per distinct word inside
    * the horizon (watermark-evicted, bounded by horizon vocabulary,
    * not stream length), then a windowed count finalizes on the same
    * watermark.
    */
  def novelTokenStream(docs: DataFrame, timeCol: String, textCol: String,
                       windowDur: String, watermarkDelay: String): DataFrame =
    docs.withWatermark(timeCol, watermarkDelay)
      .select(col(timeCol),
        explode(graft.operators.TextOps.tokens(col(textCol))).as("word"))
      .dropDuplicatesWithinWatermark("word")
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(lit(1)).as("n_novel"))
      .select(col("window.start").as("win_start"), col("n_novel"))

  final case class PhPoint(key: Long, ts: Timestamp, x: Long)
  final case class PhState(n: Long, s: Long, mMicro: Long, minMicro: Long)
  final case class PhOut(key: Long, ts: Timestamp, x: Long,
                         ph_micro: Long, alarmed: Boolean)

  /** Streaming Page–Hinkley drift monitor (#332) — the classic
    * mean-INCREASE change detector (Page 1954 / Hinkley 1971; the
    * standard drift test in the stream-mining literature next to the
    * target-based CUSUM monitor [[cusumStream]], which needs the
    * reference level picked in advance — PH self-references the
    * running mean, so it needs NO target):
    *
    *   m_t = Σᵢ (xᵢ − x̄ᵢ − δ),  PH_t = m_t − min_{i≤t} m_i,
    *   alarm when PH_t > λ.
    *
    * State per key is FOUR longs (count, sum, cumulative deviation,
    * running min) — O(1) at any stream length. Each increment's
    * running-mean term is micro-floored from the exact integer
    * rational x̄ᵢ = s/n (floor division — deterministic on any
    * partitioning/replay; within-batch order pinned by (ts, x)).
    * Emits every reading with its PH value and alarm flag (Update
    * mode); the alarm latches via the emitted flag only — state keeps
    * accumulating so downstream can see recovery.
    */
  def pageHinkleyStream(points: Dataset[PhPoint], deltaMicro: Long,
                        lambdaMicro: Long,
                        idleEvict: Option[IdleEvict] = None): Dataset[PhOut] = {
    import points.sparkSession.implicits._
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.key, _.ts, _.x) {
      (key: Long, prev: Option[PhState], p: PhPoint) =>
        val st = prev.getOrElse(PhState(0L, 0L, 0L, 0L))
        val n = st.n + 1
        val s = st.s + p.x
        // increment = x − s/n − δ in micro units, floor division on
        // the exact rational (x·n − s)·1e6 / n; n grows without
        // bound so the ×1e6 product is formed in BigInt (the
        // decayStream convention) — long math overflows once
        // n·|deviation| exceeds ~9.2e12
        val num = (BigInt(p.x) * n - s) * 1000000L
        val den = BigInt(n)
        val (q0, r0) = num /% den
        val inc = (if (r0.signum < 0) q0 - 1 else q0).toLong - deltaMicro
        val m = st.mMicro + inc
        val mn = math.min(st.minMicro, m)
        val ph = m - mn
        (Some(PhState(n, s, m, mn)), Some(PhOut(key, p.ts, p.x, ph, ph > lambdaMicro)))
    }
  }

  final case class DecayPoint(key: Long, ts: Timestamp, v: Long)
  final case class DecayState(lastSec: Long, nMicro: Long, sumMicro: Long)
  final case class DecayOut(key: Long, ts: Timestamp,
                            decayed_n_micro: Long, decayed_sum_micro: Long)

  /** Streaming exponential-decay features (#326) — the live
    * counterpart of the batch `q_decay_features` gate (the
    * feature-store "decayed count / decayed sum as of now" per key).
    * State per key is THREE longs (last event second + two decayed
    * totals) — O(1) at any stream length, no watermark, no window
    * buffer: on each event the prior totals decay by the elapsed
    * time through the SAME integer shift + 64-bucket literal-table
    * arithmetic as the batch gate (no libm), then the event adds at
    * weight 1e6. With events exactly k half-lives apart the
    * incremental decay telescopes exactly ((x>>1)>>1 == x>>2), so
    * stream == batch bit-for-bit; at arbitrary spacings each stored
    * total loses < 1 micro-unit per decay step to flooring (bounded
    * drift, pinned in StreamingSpec). Emits the running decayed
    * totals on every event (Update mode); within-batch order pinned
    * by (ts, v).
    */
  def decayStream(points: Dataset[DecayPoint], halflifeSec: Long,
                  idleEvict: Option[IdleEvict] = None): Dataset[DecayOut] = {
    require(halflifeSec > 0, s"halflifeSec not positive: $halflifeSec")
    import points.sparkSession.implicits._
    val tab = graft.queries.AnalysisQueries.decayTabMicro.toArray
    val h = halflifeSec
    def decay(total: Long, dt: Long): Long = {
      if (total == 0L || dt <= 0L) return total
      val k = dt / h
      if (k > 62L) return 0L
      val b = ((64L * (dt % h)) / h).toInt
      (((BigInt(total) * tab(b)) >> k.toInt) / 1000000L).toLong
    }
    // a decayed key's state is also VALUE-dead after enough idle
    // half-lives (totals decay to 0), so eviction loses nothing
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.key, _.ts, _.v) {
      (key: Long, prev: Option[DecayState], p: DecayPoint) =>
        val st = prev.getOrElse(DecayState(Long.MinValue, 0L, 0L))
        val sec = p.ts.getTime / 1000L
        val dt = if (st.lastSec == Long.MinValue) 0L else sec - st.lastSec
        val n2 = decay(st.nMicro, dt) + 1000000L
        val s2 = decay(st.sumMicro, dt) + p.v * 1000000L
        (Some(DecayState(sec, n2, s2)), Some(DecayOut(key, p.ts, n2, s2)))
    }
  }

  /** Streaming frequent-itemset monitor (#321) — the live counterpart
    * of the batch association-rule surface (#258 pairs / #310
    * 3-itemsets): "which item combinations are trending in the order
    * firehose right now". Input rows carry a COMPLETE basket
    * (ts, items[]) — the realistic transaction-event payload — so
    * pair formation is a STATELESS bounded per-row fan-out (distinct
    * items, u < v — the batch pair stage's shape, fan-out bounded by
    * basket size², never vocab²), and the only stateful operator is
    * the same hash-routed Misra–Gries sketch as
    * [[heavyHittersStream]]. Routing is BY PAIR, so a pair's entire
    * stream history lands in exactly one group and the per-group
    * superset guarantee carries over verbatim: any pair with total
    * count > n_group/(s+1) is present in the emitted candidates.
    * State is O(groups·sketchSize) at any stream length — the sketch
    * IS the eviction policy, no watermark needed.
    */
  def itemsetStream(baskets: DataFrame, timeCol: String, itemsCol: String,
                    groups: Int, sketchSize: Int): Dataset[HhCandidate] = {
    val pairs = baskets
      .select(col(timeCol).as("ts"), array_distinct(col(itemsCol)).as("it"))
      .select(col("ts"), explode(col("it")).as("u"), col("it"))
      .select(col("ts"), col("u"), explode(col("it")).as("v"))
      .filter(col("u") < col("v"))
      .select(col("ts"), concat(col("u"), lit("|"), col("v")).as("pair"))
    heavyHittersStream(pairs, "ts", "pair", groups, sketchSize)
  }

  /** Streaming OHLC bars — the live counterpart of the batch
    * `q_ohlc` gate: per (window, key) open/high/low/close where
    * open/close are struct-ordered min/max BY (event time, tie, value)
    * exactly as in batch, finalized once the watermark passes
    * (Append semantics). One stateful windowed aggregate, state =
    * one 4-value row per open window per key.
    */
  def ohlcStream(events: DataFrame, timeCol: String, keyCol: String,
                 tieCol: String, valueCol: String,
                 windowDur: String, watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(struct(col(timeCol), col(tieCol), col(valueCol)))
          .getField(valueCol).as("open"),
        max(col(valueCol)).as("high"), min(col(valueCol)).as("low"),
        max(struct(col(timeCol), col(tieCol), col(valueCol)))
          .getField(valueCol).as("close"))
      .select(col("window.start").as("win_start"), col(keyCol),
        col("n"), col("open"), col("high"), col("low"), col("close"))

  /** Streaming latency-quantile monitor: per-window p50/p90/p99 via
    * the mergeable Greenwald–Khanna sketch (`percentile_approx`) —
    * the live counterpart of the batch `q_quantile_sketch` scale
    * path, and the standard observability shape (dashboard
    * percentiles over a tumbling window). Sketches merge map-side;
    * state per open window is one bounded sketch per key, evicted by
    * the watermark.
    */
  def quantileStream(events: DataFrame, timeCol: String, keyCol: String,
                     valueCol: String, windowDur: String,
                     watermarkDelay: String): DataFrame =
    events.withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col(valueCol),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("p"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"),
        element_at(col("p"), 1).as("p50"),
        element_at(col("p"), 2).as("p90"),
        element_at(col("p"), 3).as("p99"))

  final case class CuPoint(user: Long, ts: java.sql.Timestamp, x: Long)
  final case class CuState(p: Long, minP: Long)
  final case class CuFlag(user: Long, ts: java.sql.Timestamp, x: Long,
                          cusum: Long, alarm: Boolean)

  /** Streaming CUSUM monitor — the live counterpart of the batch
    * `q_cusum` gate ([[graft.operators.WindowOps.cusum]]): each scan
    * carries the one-sided chart S_t = max(0, S_{t−1} + (x − target))
    * through the SAME closed form (running sum minus its running
    * minimum), so batch and stream agree reading-for-reading. State
    * per scan is two longs — O(1) regardless of stream length, no
    * ring; within-batch order is pinned by (ts, x) like every
    * stateful operator here. Emits every reading with its chart
    * value and alarm flag (Update mode). Dead keys evict via the
    * optional [[IdleEvict]] policy (None = caller-owned key-domain
    * bound).
    */
  def cusumStream(points: Dataset[CuPoint], target: Long,
                  threshold: Long,
                  idleEvict: Option[IdleEvict] = None): Dataset[CuFlag] = {
    import points.sparkSession.implicits._
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.user, _.ts, _.x) {
      (user: Long, prev: Option[CuState], p: CuPoint) =>
        val st = prev.getOrElse(CuState(0L, 0L))
        val pNew = st.p + (p.x - target)
        val minP = math.min(st.minP, pNew)
        val s = pNew - math.min(0L, minP)
        (Some(CuState(pNew, minP)), Some(CuFlag(user, p.ts, p.x, s, s > threshold)))
    }
  }

  final case class HlPoint(user: Long, ts: java.sql.Timestamp, x: Long)
  final case class HlState(nSeen: Long, res: Seq[(Long, Long, Long, Long)])
  final case class HlOut(user: Long, ts: java.sql.Timestamp, nSeen: Long,
                         nRes: Long, hl2Cents: Long, hlCents: Long)

  /** Streaming Hodges–Lehmann sketch (#432) — the live counterpart of
    * the batch `q_hodges_lehmann` gate: per key, a robust location
    * estimate (lower median of pairwise Walsh means) maintained over
    * a BOUNDED deterministic reservoir. The reservoir keeps the
    * `cap` readings with the LOWEST portable md5 priorities
    * (ties → (ts, x)), so the retained sample — and therefore the
    * estimate — is a pure function of the readings seen, independent
    * of micro-batch boundaries or arrival order (bottom-k by a fixed
    * priority is merge-associative; pinned in StreamingSpec). Each
    * emission recomputes the ≤cap(cap+1)/2 doubled Walsh sums
    * exactly (no halving until the final floor — the batch gate's
    * discipline). State is O(cap) longs per key; dead keys evict via
    * the optional [[IdleEvict]] policy.
    */
  def hlStream(points: Dataset[HlPoint], cap: Int = 32,
               idleEvict: Option[IdleEvict] = None): Dataset[HlOut] = {
    require(cap >= 1 && cap <= 512, s"cap out of range: $cap")
    import points.sparkSession.implicits._
    def prio(user: Long, tsMs: Long, x: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"hl:$user:$tsMs:$x".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16)
    }
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.user, _.ts, _.x) {
      (user: Long, prev: Option[HlState], p: HlPoint) =>
        val st = prev.getOrElse(HlState(0L, Seq.empty))
        val t = p.ts.getTime
        val entry = (prio(user, t, p.x), t, p.x, p.x)
        val merged = (st.res :+ entry)
          .sortBy(e => (e._1, e._2, e._3)).take(cap)
        val vals = merged.map(_._4).sorted
        val m = vals.length
        val walsh = (for {
          i <- 0 until m; j <- i until m
        } yield vals(i) + vals(j)).sorted
        val hl2 = walsh((walsh.length + 1) / 2 - 1)
        (Some(HlState(st.nSeen + 1, merged)),
          Some(HlOut(user, p.ts, st.nSeen + 1, m.toLong, hl2, math.floorDiv(hl2, 2L))))
    }
  }

  final case class QtePoint(user: Long, ts: java.sql.Timestamp, cents: Long)
  /** [[qteStream]] pre-reduce record: a surviving reservoir candidate
    * plus, on ONE carrier record per partition, the count of
    * same-partition points the pre-reduce dropped per arm (so the
    * global state's nSeen totals stay exact without shipping the
    * dropped points) and the partition's true max raw event time
    * (so idle eviction arms from the real batch horizon even when
    * the newest points lose the reservoir lottery). The carrier is
    * the MAX-ts survivor: under a watermark, flatMapGroupsWithState
    * drops late input rows before the state function, and the max-ts
    * survivor is the last row that could be declared late — if even
    * it is late, every survivor is, and the batch contributes nothing
    * either way. */
  final case class QtePre(user: Long, ts: java.sql.Timestamp, cents: Long,
                          dropT: Long, dropC: Long, maxTsMs: Long)
  final case class QteState(nT: Long, nC: Long,
                            resT: Seq[(Long, Long, Long)],
                            resC: Seq[(Long, Long, Long)])
  final case class QteOut(ts: java.sql.Timestamp,
                          nSeenTreated: Long, nSeenControl: Long,
                          nResTreated: Long, nResControl: Long,
                          qte25Cents: Long, qte50Cents: Long, qte75Cents: Long)

  /** Streaming quantile-treatment-effect monitor (#439) — the live
    * counterpart of the batch `q_qte` gate: per incoming spend
    * reading, maintain one BOUNDED deterministic reservoir per arm
    * (arm = user mod 2; the `cap` readings with the lowest portable
    * md5 priorities, ties → (ts, cents) — bottom-k by a fixed
    * priority is merge-associative, so the retained samples are
    * independent of micro-batch boundaries, the [[hlStream]]
    * discipline) and emit the 25/50/75% treated−control differences
    * with the batch gate's exact ceil-rank quantile rule
    * (rk = (n·q + 99) div 100). Emissions start once BOTH arms hold
    * data. The state is a single global key (the estimand is
    * inherently cross-arm) of O(cap) longs, and the data plane is
    * guarded by a PER-PARTITION PRE-REDUCE (r12): bottom-k by a fixed
    * priority is merge-associative, so each source partition first
    * reduces to ≤cap candidates per arm (plus two drop counters) —
    * one streaming pass over the partition with a size-capped heap
    * per arm, O(cap) memory, the partition itself never buffered —
    * and only partitions×(2·cap) rows ever reach the single stateful
    * task, whatever the raw micro-batch volume. WITHOUT a watermark
    * (idleEvict = None — the exactness path) the FINAL reservoir,
    * counts and estimate are bit-identical to the unreduced loop at
    * any split (a dropped point is beaten by ≥cap same-partition
    * entries, so it can never enter the global bottom-cap); under
    * cap-per-partition batches nothing is dropped and the per-point
    * emission cadence is bit-identical too, while over-cap batches
    * emit once per SURVIVING candidate (the monitor samples — the
    * interleaved emissions a raw-point loop would add carry no final
    * information). WITH idleEvict set, the pre-reduce runs BEFORE
    * the watermark filter, so the bit-identical claim is scoped to
    * on-time data: a watermark-LATE point that loses its partition
    * heap is still folded into nT/nC through an on-time carrier's
    * drop counters (the raw loop would have dropped it pre-state),
    * and conversely a late carrier takes its batch's drop counters
    * down with it — both are the standard best-effort-counting
    * semantics of late data under eviction, chosen over buffering
    * the partition to re-segregate late rows (which would defeat the
    * O(cap) pre-reduce). Dead streams evict via [[IdleEvict]].
    */
  def qteStream(points: Dataset[QtePoint], cap: Int = 64,
                idleEvict: Option[IdleEvict] = None): Dataset[QteOut] = {
    require(cap >= 1 && cap <= 512, s"cap out of range: $cap")
    import points.sparkSession.implicits._
    def prio(user: Long, tsMs: Long, c: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"qte:$user:$tsMs:$c".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def quant(vals: Seq[Long], q: Long): Long = {
      val rk = (vals.length * q + 99) / 100
      vals((rk - 1).toInt)
    }
    def entryOf(p: QtePoint): (Long, Long, Long) =
      (prio(p.user, p.ts.getTime, p.cents), p.ts.getTime, p.cents)
    // per-partition pre-reduce in O(cap) MEMORY, single streaming
    // pass: one size-capped max-heap per arm keeps the cap SMALLEST
    // entries (duplicate points carry duplicate heap records, exactly
    // as the stateful loop would insert them); evicted/rejected
    // points only bump the arm's seen counter — the partition is
    // never buffered
    val pre = points.mapPartitions { it =>
      val ord = Ordering.by[((Long, Long, Long), QtePoint), (Long, Long, Long)](_._1)
      val heaps = Array.fill(2)(
        scala.collection.mutable.PriorityQueue.empty[((Long, Long, Long), QtePoint)](ord))
      val seen = new Array[Long](2)
      var maxTs = Long.MinValue
      it.foreach { p =>
        val arm = if (p.user % 2 == 1) 1 else 0
        seen(arm) += 1
        maxTs = math.max(maxTs, p.ts.getTime)
        val rec = (entryOf(p), p)
        val h = heaps(arm)
        if (h.size < cap) h.enqueue(rec)
        else if (ord.lt(rec, h.head)) { h.dequeue(); h.enqueue(rec) }
      }
      if (seen(0) + seen(1) == 0) Iterator.empty
      else {
        val dropT = seen(1) - heaps(1).size
        val dropC = seen(0) - heaps(0).size
        val survivors = (heaps(1) ++ heaps(0)).map(_._2)
        // carrier = max-ts survivor (see QtePre doc)
        val carrier = survivors.maxBy(p => (p.ts.getTime, p.cents, p.user))
        var carried = false
        survivors.iterator.map { p =>
          val isCarrier = !carried && (p eq carrier)
          if (isCarrier) carried = true
          QtePre(p.user, p.ts, p.cents,
            if (isCarrier) dropT else 0L, if (isCarrier) dropC else 0L,
            if (isCarrier) maxTs else Long.MinValue)
        }
      }
    }
    // the pre-reduce folds a batch's drop counts in before its points
    // and arms eviction from the carrier's raw max event time, so this
    // monitor keeps its own fold and uses only the core's policy parts
    val expiry = Keyed.idle(idleEvict)
    Keyed.watermarked(pre, expiry)
      .groupByKey(_ => 0L)
      .flatMapGroupsWithState[QteState, QteOut](
        OutputMode.Update(), Keyed.timeoutOf(expiry)) {
        (_: Long, rows: Iterator[QtePre], state: GroupState[QteState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(QteState(0L, 0L, Seq.empty, Seq.empty))
            val prs = rows.toSeq
            // fold the batch's pre-reduce drop counts in up front so
            // nSeen totals stay exact (zero when under cap/partition)
            st = st.copy(nT = st.nT + prs.map(_.dropT).sum,
              nC = st.nC + prs.map(_.dropC).sum)
            val pts = prs.map(r => QtePoint(r.user, r.ts, r.cents))
              .sortBy(p => (p.ts.getTime, p.cents, p.user))
            val out = pts.flatMap { p =>
              val t = p.ts.getTime
              val entry = (prio(p.user, t, p.cents), t, p.cents)
              if (p.user % 2 == 1)
                st = st.copy(nT = st.nT + 1,
                  resT = (st.resT :+ entry).sortBy(identity).take(cap))
              else
                st = st.copy(nC = st.nC + 1,
                  resC = (st.resC :+ entry).sortBy(identity).take(cap))
              if (st.resT.isEmpty || st.resC.isEmpty) None
              else {
                val tv = st.resT.map(_._3).sorted
                val cv = st.resC.map(_._3).sorted
                Some(QteOut(p.ts, st.nT, st.nC, tv.length.toLong, cv.length.toLong,
                  quant(tv, 25) - quant(cv, 25),
                  quant(tv, 50) - quant(cv, 50),
                  quant(tv, 75) - quant(cv, 75)))
              }
            }
            state.update(st)
            // arm from the batch's true max raw event time (the
            // carrier's maxTsMs), not the max SURVIVOR ts — the
            // newest points may have lost the reservoir lottery
            Keyed.armEviction(state, expiry,
              math.max(pts.last.ts.getTime, prs.map(_.maxTsMs).max))
            out.iterator
          }
      }
  }

  /** Streaming distribution-drift monitor: per event-time window,
    * the Jensen–Shannon divergence of the window's hashed-token
    * distribution against a FIXED reference distribution (trained
    * offline — e.g. the accepted corpus slice) — the live "has the
    * feed's language shifted" alarm next to the quality filter.
    * Tokens hash into `buckets` (bounded state per window regardless
    * of vocabulary); the reference rides as `buckets` inlined
    * literal probabilities in ppm; JSD is a stateless final
    * projection over the windowed counts. Watermarked windowed
    * aggregate — Append mode, O(buckets) per open window.
    *
    * @param refPpm reference probability per bucket in ppm (length =
    *               buckets; zeros allowed — smoothing: both sides
    *               get +1 on counts)
    * @return (win_start, n_tokens, jsd_milli) — finalized windows
    */
  def driftStream(docs: DataFrame, timeCol: String, textCol: String,
                  buckets: Int, refPpm: Array[Long],
                  windowDur: String, watermark: String): DataFrame = {
    require(refPpm.length == buckets, s"refPpm ${refPpm.length} != buckets $buckets")
    val tok = docs
      .withWatermark(timeCol, watermark)
      .select(col(timeCol),
        explode(graft.operators.TextOps.tokens(col(textCol))).as("w"))
      .select(col(timeCol),
        pmod(graft.operators.TextOps.baseHash(col("w")), lit(buckets.toLong)).as("b"))
    val counts = tok
      .groupBy(window(col(timeCol), windowDur))
      .agg(count(lit(1)).as("n"),
        (0 until buckets).map(i =>
          count(when(col("b") === i, 1)).as(s"c$i")): _*)
    // JSD over smoothed distributions, stateless per finalized window.
    // BOTH sides get the SAME +1-per-bucket Laplace smoothing at the
    // window's sample size — p_i = (c_i + 1)/(n + B), q_i =
    // (ref_i·n + 1)/(n + B) — so a window drawn exactly from the
    // reference scores ~0 instead of paying a smoothing-asymmetry
    // floor, and log args never hit zero.
    val refTotal = math.max(1.0, refPpm.sum.toDouble)
    def pTerm(i: Int): Column = (col(s"c$i") + lit(1.0)) / (col("n") + lit(buckets))
    def qTerm(i: Int): Column =
      (lit(refPpm(i) / refTotal) * col("n") + lit(1.0)) / (col("n") + lit(buckets))
    val jsd = (0 until buckets).map { i =>
      val p = pTerm(i)
      val q = qTerm(i)
      val m = (p + q) / lit(2.0)
      (p * log(p / m) + q * log(q / m)) / lit(2.0)
    }.reduce(_ + _)
    counts.select(col("window.start").as("win_start"), col("n").as("n_tokens"),
      round(jsd * lit(1000.0), 3).as("jsd_milli"))
  }

  final case class CepEvt(user: Long, ts: java.sql.Timestamp, etype: String)
  final case class CepState(lastAUs: Long)
  final case class CepMatch(user: Long, tsA: java.sql.Timestamp,
                            tsB: java.sql.Timestamp, gapUs: Long)

  /** Streaming sequence-pattern detector (CEP-lite): emit a match
    * whenever a `typeB` event follows a `typeA` event of the SAME
    * user within `withinUs` — the FlinkCEP/MATCH_RECOGNIZE "A then B
    * within T" shape as a stateful stream. State per user is ONE
    * timestamp (the latest A — later As supersede earlier ones, the
    * standard skip-till-next-match policy), O(1) regardless of
    * stream length; within-batch order pinned by (ts, etype) like
    * every stateful operator here. A matched B does NOT consume the
    * A (an A can anchor several Bs inside the window — documented
    * choice, pinned in StreamingSpec).
    */
  def patternStream(evts: Dataset[CepEvt], typeA: String, typeB: String,
                    withinUs: Long,
                    idleEvict: Option[IdleEvict] = None): Dataset[CepMatch] = {
    require(withinUs > 0, s"window not positive: $withinUs")
    import evts.sparkSession.implicits._
    // an idle key's anchor A is only matchable within withinUs
    // anyway, so any idleMs ≥ withinUs/1000 evicts losslessly
    Keyed(evts, OutputMode.Append(), Keyed.idle(idleEvict))(_.user, _.ts, _.etype) {
      (user: Long, prev: Option[CepState], e: CepEvt) =>
        val st = prev.getOrElse(CepState(Long.MinValue))
        val us = e.ts.getTime * 1000L
        val hit =
          if (e.etype == typeB && st.lastAUs != Long.MinValue &&
              us - st.lastAUs <= withinUs && us >= st.lastAUs)
            Some(CepMatch(user, new java.sql.Timestamp(st.lastAUs / 1000L),
              e.ts, us - st.lastAUs))
          else None
        (Some(if (e.etype == typeA) CepState(us) else st), hit)
    }
  }

  final case class KPoint(user: Long, ts: java.sql.Timestamp, y: Double)
  final case class KState(l: Double, p: Double, seen: Boolean)
  final case class KEst(user: Long, ts: java.sql.Timestamp, y: Double,
                        level: Double, gain: Double)

  /** Streaming local-level Kalman monitor — the live counterpart of
    * the `q_kalman` gate ([[graft.operators.WindowOps.kalman]]):
    * identical predict/gain/update recursion, so batch and stream
    * agree reading-for-reading (asserted in StreamingSpec across
    * micro-batch splits). State per scan is (level, variance) — two
    * doubles, O(1) regardless of stream length; within-batch order
    * pinned by (ts, y) like every stateful operator here.
    */
  def kalmanStream(points: Dataset[KPoint], q: Double, r: Double,
                   idleEvict: Option[IdleEvict] = None): Dataset[KEst] = {
    require(q >= 0 && r > 0, s"bad noise parameters: q=$q r=$r")
    import points.sparkSession.implicits._
    Keyed(points, OutputMode.Update(), Keyed.idle(idleEvict))(_.user, _.ts, _.y) {
      (user: Long, prev: Option[KState], pt: KPoint) =>
        val (st, k) = prev match {
          case Some(s) if s.seen =>
            val pPred = s.p + q
            val gain = pPred / (pPred + r)
            (KState(s.l + gain * (pt.y - s.l), (1 - gain) * pPred, seen = true), gain)
          case _ => (KState(pt.y, r, seen = true), 1.0)
        }
        (Some(st), Some(KEst(user, pt.ts, pt.y, st.l, k)))
    }
  }

  final case class TouchEvt(user: Long, ts: java.sql.Timestamp, eventId: Long,
                            eventType: String, cents: Long)
  final case class TouchState(tsUs: Long, eventId: Long, eventType: String)
  final case class Credit(user: Long, ts: java.sql.Timestamp, purchaseId: Long,
                          touchType: String, cents: Long)

  /** Streaming last-touch attribution — the live counterpart of the
    * `q_attribution` gate (#215): every arriving 'purchase' is
    * credited to the user's latest PRECEDING non-purchase event
    * within `lookbackUs`, else 'none'. State per user is ONE
    * (ts, id, type) triple — the latest touch — O(1) regardless of
    * stream length (the batch window's UNBOUNDED PRECEDING frame
    * collapses to a single carried value exactly because only the
    * max survives). Within-batch order pinned by (ts, eventId) like
    * every stateful operator here; batch==stream parity asserted in
    * StreamingSpec across micro-batch splits.
    */
  def attributionStream(evts: Dataset[TouchEvt], lookbackUs: Long,
                        idleEvict: Option[IdleEvict] = None): Dataset[Credit] = {
    import evts.sparkSession.implicits._
    // an idle key's carried touch can only credit a purchase
    // within lookbackUs, so idleMs ≥ lookbackUs/1000 is lossless;
    // a purchase-only user keeps no state at all
    Keyed(evts, OutputMode.Update(), Keyed.idle(idleEvict))(_.user, _.ts, _.eventId) {
      (user: Long, st: Option[TouchState], e: TouchEvt) =>
        val tsUs = e.ts.getTime * 1000L
        if (e.eventType != "purchase") {
          // later (ts, id) always wins — the running max's carry
          val later = st.forall(s => tsUs > s.tsUs ||
            (tsUs == s.tsUs && e.eventId > s.eventId))
          (if (later) Some(TouchState(tsUs, e.eventId, e.eventType)) else st, None)
        } else {
          val touch = st.filter(_.tsUs >= tsUs - lookbackUs).fold("none")(_.eventType)
          (st, Some(Credit(user, e.ts, e.eventId, touch, e.cents)))
        }
    }
  }

  final case class BenfordPoint(ts: Timestamp, key: Long, v: Long)
  final case class BenfordOut(key: Long, n: Long, l1_ppm: Long,
                              max_dev_ppm: Long, top_digit: Int)

  /** Streaming Benford first-digit monitor (#417) — the live
    * fabricated-data / unit-mixup screen: per key, running counts of
    * the leading digit of every positive reading vs Benford's law
    * shares log₁₀(1+1/d) (Newcomb 1881; Benford 1938 — the standard
    * forensic-accounting and data-glitch signal: organically-grown
    * magnitudes follow it, fabricated or truncated feeds don't).
    * State per key is NINE longs — O(1) at any stream length, no
    * watermark needed. The expected shares are driver-precomputed
    * micro literals; deviations are exact integer ppm floors, so
    * stream == batch replay bit-for-bit. Emits the L1 distance, the
    * worst single-digit deviation and the modal digit per update.
    */
  def benfordStream(points: Dataset[BenfordPoint],
                    idleEvict: Option[IdleEvict] = None): Dataset[BenfordOut] = {
    import points.sparkSession.implicits._
    val expected = (1 to 9).map(dd =>
      math.floor(math.log10(1.0 + 1.0 / dd) * 1e6).toLong).toArray
    // emits once per batch (not per reading), so it keeps its own fold
    // and uses only the core's policy parts
    val expiry = Keyed.idle(idleEvict)
    Keyed.watermarked(points, expiry)
      .groupByKey(_.key)
      .flatMapGroupsWithState[Seq[Long], BenfordOut](
        OutputMode.Update(), Keyed.timeoutOf(expiry)) {
        (key: Long, rows: Iterator[BenfordPoint], state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else benfordUpdate(key, rows, state, expected, expiry)
      }
  }

  private def benfordUpdate(key: Long, rows: Iterator[BenfordPoint],
                            state: GroupState[Seq[Long]], expected: Array[Long],
                            expiry: Option[Keyed.Expiry]): Iterator[BenfordOut] = {
    val counts = state.getOption.map(_.toArray).getOrElse(new Array[Long](9))
    var lastMs = Long.MinValue
    rows.foreach { p =>
      if (p.ts.getTime > lastMs) lastMs = p.ts.getTime
      var v = p.v
      if (v > 0) { while (v >= 10) v /= 10; counts(v.toInt - 1) += 1 }
    }
    state.update(counts.toSeq)
    Keyed.armEviction(state, expiry, lastMs)
    val n = counts.sum
    if (n == 0) Iterator.empty
    else {
      var l1 = 0L
      var mx = 0L
      var top = 1
      var i = 0
      while (i < 9) {
        val dev = math.abs(counts(i) * 1000000L / n - expected(i))
        l1 += dev
        if (dev > mx) mx = dev
        if (counts(i) > counts(top - 1)) top = i + 1
        i += 1
      }
      Iterator.single(BenfordOut(key, n, l1, mx, top))
    }
  }

  final case class ChurnEvent(ts: Timestamp, user: Long, spend: Long)
  final case class ChurnState(day: Long, users: Map[Long, Long], prevTop: Seq[Long])
  final case class ChurnOut(day: Long, n_top: Long, rbo_ppm: Long)

  /** Streaming daily top-k rank-churn monitor (#389) — the live
    * counterpart of the batch consecutive-day RBO gate (#364): as
    * each event-time day closes (first event of the NEXT day), emit
    * the rank-biased overlap (p = 0.9, Webber 2010) between the
    * completed day's top-k spender board and the previous day's —
    * the "did the leaderboard churn overnight?" alert while the day
    * is still fresh. Per-term integer floors a·9^(d−1)·1e6 //
    * (10^d·d) match the batch gate exactly (pinned in
    * StreamingSpec). State = one day's spend map + the previous
    * top-k ids; the map is capped at `candidateCap` by pruning the
    * smallest accumulators (space-saving style — the same
    * candidate-bound convention as the dedup `maxBandDf` caps), so
    * state is O(cap), never O(users). The single reduce key IS the
    * k-row board; at scale the per-(day,user) sums belong upstream
    * (a windowed pre-aggregate), with only board-scale updates
    * crossing into this operator.
    */
  def rankChurnStream(events: Dataset[ChurnEvent], k: Int = 10,
                      candidateCap: Int = 1024): Dataset[ChurnOut] = {
    import events.sparkSession.implicits._
    // per-term numerators a·9^(d−1)·1e6 overflow a long past k = 13
    // (14·9¹³·1e6 ≈ 3.6e19), so the weight tables stay BigInt and each
    // term floors exactly before the (small) long accumulation
    require(k >= 1 && k <= 18, s"k out of range: $k")
    val w9 = Array.tabulate(k)(d => BigInt(9).pow(d) * 1000000L)
    val dn = Array.tabulate(k)(d => BigInt(10).pow(d + 1) * (d + 1))
    def topOf(m: Map[Long, Long]): Seq[Long] =
      m.toSeq.sortBy { case (u, sp) => (-sp, u) }.take(k).map(_._1)
    def rboPpm(cur: Seq[Long], prev: Seq[Long]): Long = {
      var acc = 0L
      var d = 1
      while (d <= k) {
        val a = cur.take(d).toSet.intersect(prev.take(d).toSet).size.toLong
        acc += ((a * w9(d - 1)) / dn(d - 1)).toLong // positive → / floors
        d += 1
      }
      acc
    }
    Keyed(events, OutputMode.Update(), None)(_ => 0L, _.ts, _.user) {
      (_: Long, prev: Option[ChurnState], e: ChurnEvent) =>
        val st = prev.getOrElse(ChurnState(Long.MinValue, Map.empty, Seq.empty))
        val day = e.ts.getTime / 1000L / 86400L
        // the first event of a later day closes the current one
        val (cur, closed) =
          if (st.day == Long.MinValue || day <= st.day) (st, None)
          else {
            val top = topOf(st.users)
            (ChurnState(st.day, Map.empty, if (top.nonEmpty) top else st.prevTop),
              if (st.prevTop.nonEmpty && top.nonEmpty)
                Some(ChurnOut(st.day, top.size.toLong, rboPpm(top, st.prevTop)))
              else None)
          }
        val m = cur.users.updated(e.user, cur.users.getOrElse(e.user, 0L) + e.spend)
        (Some(ChurnState(math.max(day, st.day),
          if (m.size <= candidateCap) m
          else m.toSeq.sortBy { case (u, sp) => (-sp, u) }.take(candidateCap).toMap,
          cur.prevTop)), closed)
    }
  }
}
