package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the reference's ingestion is a daily
  * batch re-pull (no true streaming — SURVEY §2.10), so this module is
  * the engine's forward-looking stream path: the same event-schema used
  * by the batch q30 windowed aggregation, expressed as an incremental
  * query with watermarks, plus custom sessionization state.
  *
  * Scale design: event-time windows + watermark bound state; the
  * grouped aggregation is the same partial/final hash agg as batch, so
  * a 1000-executor cluster shuffles only per-window partials.
  * `Trigger.AvailableNow` gives the reference's "daily batch" cadence
  * with streaming exactly-once bookkeeping.
  */
object StreamingOps {

  /** Hourly tumbling-window counts/sums per event type with a 1-hour
    * watermark — the streaming twin of CoreQueries.q30.
    */
  def hourlyEventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  final case class SessionState(nEvents: Long, sumValue: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, sum_value: Double, closed: Boolean)

  /** Per-user sessionization with a processing-time gap timeout —
    * the custom-state path (mapGroupsWithState) for semantics windows
    * can't express. Emits a running session summary per trigger; closes
    * the session after `gapMs` of silence.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(userId, s.nEvents, s.sumValue, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val (n, sum, last) = batch.foldLeft((prev.nEvents, prev.sumValue, prev.lastTs)) {
              case ((cn, cs, cl), e) => (cn + 1, cs + e.value, math.max(cl, e.ts.getTime))
            }
            state.update(SessionState(n, sum, last))
            state.setTimeoutDuration(gapMs)
            SessionOut(userId, n, sum, closed = false)
          }
      }
  }

  final case class TEvent(user_id: Long, event_id: Long,
                          ts: java.sql.Timestamp, event_type: String)
  final case class TransPair(user_id: Long, from_type: String, to_type: String)
  final case class LastEvt(sec: Long, eid: Long, typ: String)

  /** Streaming twin of q208's journey transition pairs: per-user state
    * carries the LAST event seen, and every arriving event emits one
    * (from → to) pair — an incremental Markov-structure feed whose
    * grouped counts equal the batch lag-window exactly.
    *
    * Exactness discipline (the stream≡batch parity pin): events are
    * sorted by (event time, event_id) WITHIN each micro-batch's group
    * iterator (Spark guarantees no order), and the carried state ends
    * each batch at the group's latest event — so as long as the file
    * source feeds batches in non-decreasing event-time order (one
    * landing file per interval, the production layout), the emitted
    * multiset of pairs is identical to the batch `lag` window. State
    * is O(1) per user — this scales to any stream length.
    */
  def transitionPairs(events: Dataset[TEvent]): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvt, TransPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TEvent], state: GroupState[LastEvt]) =>
          // floor-to-second + event_id: the SAME total order as the
          // batch lag window (q208), so sub-second timestamp jitter
          // cannot flip tie order between the two paths
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[TransPair]
          sorted.foreach { e =>
            last.foreach(l => out += TransPair(uid, l.typ, e.event_type))
            last = Some(LastEvt(e.ts.getTime / 1000, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class DailyPoint(key: String, day: java.sql.Date, y: Long)
  final case class CusumState(hi: Long, lo: Long)
  final case class CusumOut(key: String, day: java.sql.Date, y: Long, dev: Long,
                            cusum_hi: Long, cusum_lo: Long,
                            alarm_hi: Boolean, alarm_lo: Boolean)

  /** Streaming twin of q212's two-sided CUSUM changepoint detector:
    * per-key O(1) state (the two CUSUM accumulators) advanced by the
    * LITERAL recurrence hi=max(0,hi+dev−slack) as daily points arrive
    * — where the batch query uses the window closed form, the stream
    * IS the recurrence, and the two provably agree (EventQueriesSpec
    * pins closed-form ≡ recurrence; StreamingSpec pins stream ≡
    * batch).
    *
    * `refStats` maps each monitored key to its reference (n, S) —
    * series length and total from a trusted window, computed offline
    * by the batch job exactly as driftMonitor takes its boundaries:
    * a LIVE detector cannot know the final-series mean the batch
    * query centers on, so the reference is pinned configuration, and
    * feeding the batch job's own (n, S) reproduces its output
    * bit-for-bit. Keys without an entry are ignored. Points sort by
    * day within each micro-batch group; parity holds under
    * day-ordered file arrival (one landing file per interval).
    */
  def cusumMonitor(points: Dataset[DailyPoint],
                   refStats: Map[String, (Long, Long)]): Dataset[CusumOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[DailyPoint], state: GroupState[CusumState]) =>
          refStats.get(key) match {
            case None => Iterator.empty
            case Some((n, s)) =>
              val slack = s / 4
              var st = state.getOption.getOrElse(CusumState(0L, 0L))
              val out = Seq.newBuilder[CusumOut]
              it.toSeq.sortBy(_.day.toString).foreach { p =>
                val dev = n * p.y - s
                val hi = math.max(0L, st.hi + dev - slack)
                val lo = math.max(0L, st.lo - dev - slack)
                st = CusumState(hi, lo)
                out += CusumOut(key, p.day, p.y, dev, hi, lo, hi > s, lo > s)
              }
              state.update(st)
              out.result().iterator
          }
      }
  }

  final case class HoltState(lv: Long, tr: Long, i: Int)
  final case class HoltOut(key: String, day: java.sql.Date, y: Long,
                           level_micro: Long, trend_micro: Long, err_micro: Long)

  /** Streaming twin of q201's Holt double-exponential smoother: per-key
    * O(1) state (level, trend as 1e6-scaled longs) advanced by the
    * LITERAL integer recurrence (α=0.5 β=0.3 with the sign-symmetric
    * round-half-away division) as daily points arrive — the batch
    * query folds the identical recurrence over each key's sorted daily
    * array, so under date-ordered arrival stream ≡ batch bit-for-bit
    * (StreamingSpec pins every row of every key).
    */
  def holtMonitor(points: Dataset[DailyPoint]): Dataset[HoltOut] = {
    import points.sparkSession.implicits._
    def rdiv10(x: Long): Long =
      if (x < 0) -((-x + 5) / 10) else (x + 5) / 10
    points.groupByKey(_.key)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[DailyPoint], state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0L, 0))
          val out = Seq.newBuilder[HoltOut]
          it.toSeq.sortBy(_.day.toString).foreach { p =>
            if (st.i == 0) {
              st = HoltState(p.y * 1000000L, 0L, 1)
              out += HoltOut(key, p.day, p.y, st.lv, st.tr, 0L)
            } else {
              val err = p.y * 1000000L - (st.lv + st.tr)
              val nlv = rdiv10(5 * p.y * 1000000L + 5 * (st.lv + st.tr))
              val ntr = rdiv10(3 * (nlv - st.lv) + 7 * st.tr)
              out += HoltOut(key, p.day, p.y, nlv, ntr, err)
              st = HoltState(nlv, ntr, st.i + 1)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CrostonState(z: Long, g: Long, k: Int, day: String)
  final case class CrostonOut(key: String, day: java.sql.Date, n_demands: Int,
                              size_micro: Long, interval_micro: Long)

  /** Streaming twin of q286's Croston intermittent-demand smoother:
    * per-key O(1) state — the two EWMA accumulators (demand size,
    * inter-demand interval) as 1e6-scaled longs plus the previous
    * demand day — advanced by the LITERAL integer recurrence
    * (α=0.2: s' = ⌊(2x·10⁶ + 8s + 5)/10⌋) as demand events arrive.
    * The batch query folds the same recurrence over each part's
    * sorted demand array, so under date-ordered arrival the stream's
    * last emission per key equals the batch row bit-for-bit
    * (StreamingSpec pins it). Emits every update (a live forecast
    * revises on each demand), so monitoring reads the latest row.
    */
  def crostonMonitor(points: Dataset[DailyPoint]): Dataset[CrostonOut] = {
    import points.sparkSession.implicits._
    def rdiv10(x: Long): Long = (x + 5) / 10
    points.groupByKey(_.key)
      .flatMapGroupsWithState[CrostonState, CrostonOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[DailyPoint], state: GroupState[CrostonState]) =>
          var st = state.getOption.getOrElse(CrostonState(0L, 0L, 0, ""))
          val out = Seq.newBuilder[CrostonOut]
          it.toSeq.sortBy(_.day.toString).foreach { p =>
            val dd = if (st.k == 0) 0L
              else java.time.temporal.ChronoUnit.DAYS.between(
                java.time.LocalDate.parse(st.day), p.day.toLocalDate)
            st = st.k match {
              case 0 => CrostonState(p.y * 1000000L, 0L, 1, p.day.toString)
              case 1 => CrostonState(rdiv10(2 * p.y * 1000000L + 8 * st.z),
                dd * 1000000L, 2, p.day.toString)
              case k => CrostonState(rdiv10(2 * p.y * 1000000L + 8 * st.z),
                rdiv10(2 * dd * 1000000L + 8 * st.g), k + 1, p.day.toString)
            }
            out += CrostonOut(key, p.day, st.k, st.z, st.g)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class MedOut(key: String, day: java.sql.Date, y: Long, med7: Long)

  /** Streaming twin of q229's rolling 7-day median: per-key state
    * holds the last 7 (day, y) points; each arrival that completes a
    * centered window emits the median for the MIDDLE day — a centered
    * statistic necessarily trails the stream head by 3 days, which is
    * exactly the lag monitoring dashboards accept for robust
    * baselines. The median of 7 is the 4th order statistic, computed
    * on the same integers as batch, so stream ≡ batch exactly under
    * date-ordered arrival. State is O(7) per key.
    */
  def rollingMedian(points: Dataset[DailyPoint]): Dataset[MedOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState[List[(String, Long)], MedOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[DailyPoint], state: GroupState[List[(String, Long)]]) =>
          var window = state.getOption.getOrElse(Nil) // oldest-first, ≤7
          val out = Seq.newBuilder[MedOut]
          it.toSeq.sortBy(_.day.toString).foreach { p =>
            window = (window :+ (p.day.toString, p.y)).takeRight(7)
            if (window.length == 7) {
              val (midDay, midY) = window(3)
              out += MedOut(key, java.sql.Date.valueOf(midDay), midY,
                window.map(_._2).sorted.apply(3))
            }
          }
          state.update(window)
          out.result().iterator
      }
  }

  final case class PackDoc(shard: Long, doc_id: Long, t: Long)
  final case class PackState(bins: Long, fill: Long, waste: Long, leaked: Long)
  final case class PackOut(shard: Long, doc_id: Long, bin_index: Long,
                           offset: Long, waste_closed: Long, leaked_pairs: Long)

  /** Streaming twin of the q341/q348 arrival-order whole-doc packer:
    * the shape a streaming ingestion packer actually runs — documents
    * arrive per shard, each is placed greedily into the open ctx=128
    * bin (or opens a new one), and the emission is the per-doc
    * PLACEMENT (bin index, token offset) plus the running padding
    * bill (closed bins only — the open bin's tail is not yet waste)
    * and the running cross-document attention-leak pairs (q348's
    * `t·fill` on every fit). State is O(1) per shard: (bins, fill,
    * waste, leaked) — four longs, identical to the batch folds'
    * accumulator, so under doc_id-ordered arrival the final state
    * per shard equals q341's (bins, waste − tail) and q348's leaked
    * bit-for-bit, across any micro-batch partitioning of the input
    * (StreamingSpec pins both plus every per-doc placement).
    */
  def streamingPacker(docs: Dataset[PackDoc], ctx: Long = 128L): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[PackDoc], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(0L, 0L, 0L, 0L))
          val out = Seq.newBuilder[PackOut]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            st =
              if (st.bins == 0L) PackState(1L, d.t, 0L, 0L)
              else if (st.fill + d.t <= ctx)
                PackState(st.bins, st.fill + d.t, st.waste,
                  st.leaked + d.t * st.fill)
              else PackState(st.bins + 1L, d.t, st.waste + ctx - st.fill,
                st.leaked)
            out += PackOut(shard, d.doc_id, st.bins, st.fill - d.t,
              st.waste, st.leaked)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** File-source stream over a directory of parquet events with the
    * given schema — at scale this is the bridge from a landing zone
    * (object store prefix) into the incremental queries above.
    */
  def eventStream(spark: SparkSession, dir: String,
                  schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming twin of q115's count-min sketch: the d×w counter table
    * maintained as a streaming aggregation over (row, bucket) pairs
    * from the same affine hash family.
    *
    * CMS counters are pure additive aggregates — order-independent
    * and mergeable — so after ANY sequence of micro-batches the
    * streaming table equals the batch sketch over the same rows
    * EXACTLY (StreamingSpec pins it, split across triggers). That is
    * the property that makes CMS the right streaming frequency
    * summary: state is bounded at d·w counters no matter how wide
    * the vocabulary grows, and a cluster merges per-partition
    * sketches like any partial aggregate.
    *
    * `hashes` must carry a `uh` int64 column (token hashes from
    * `graft_shingle_hash_list`, or any keyed stream).
    */
  def cmsSketch(hashes: DataFrame, d: Int, w: Int): DataFrame = {
    val coeffs = graft.operators.Dedup.minhashCoeffs(d)
    hashes.select(explode(array(coeffs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("row"),
          pmod(lit(a) * col("uh") + lit(b), lit(graft.operators.Dedup.MinhashP))
            .mod(w).as("bucket"))
      }: _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  final case class FunnelHit(user_id: Long, stage_idx: Int)
  final case class FunnelState(t0: Long, t1: Long, t2: Long) // -1 = unreached

  /** Streaming twin of q266's timed funnel (view → click → purchase,
    * each step within `stepSec` of the previous): per-user O(1) state
    * holds the three stage timestamps; a stage fires the moment its
    * first qualifying event arrives, exactly the "min qualifying
    * time" the batch query computes — so under time-ordered arrival
    * the emitted stage counts equal batch q266 across ANY micro-batch
    * split (StreamingSpec pins it). This is the live-funnel shape:
    * the batch query re-scans history, the stream answers the same
    * question per event with state the size of the funnel.
    */
  def timedFunnel(events: Dataset[Event], stepSec: Long): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelHit]
          // same-second tie order: a click in the same second as the
          // first view QUALIFIES in the batch semantics (sec >= t0), so
          // stages must advance in funnel order within a tied second
          val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          it.toSeq.sortBy(e =>
            (e.ts.getTime / 1000, stageRank.getOrElse(e.event_type, 3))).foreach { e =>
            val sec = e.ts.getTime / 1000
            e.event_type match {
              case "view" if st.t0 < 0 =>
                st = st.copy(t0 = sec); out += FunnelHit(uid, 1)
              case "click" if st.t0 >= 0 && st.t1 < 0 &&
                sec >= st.t0 && sec <= st.t0 + stepSec =>
                st = st.copy(t1 = sec); out += FunnelHit(uid, 2)
              case "purchase" if st.t1 >= 0 && st.t2 < 0 &&
                sec >= st.t1 && sec <= st.t1 + stepSec =>
                st = st.copy(t2 = sec); out += FunnelHit(uid, 3)
              case _ =>
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming exact dedup: keep the first arrival of each key, with
    * state bounded by the event-time watermark (duplicates are only
    * expected within the lateness window — e.g. re-delivered feed rows
    * or at-least-once upstream producers). The streaming twin of the
    * batch keep-first dedup / PK upsert (K4): state is a hash map keyed
    * by `idCols` sharded across executors, evicted as the watermark
    * passes — bounded regardless of stream length.
    */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String],
                           tsCol: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static dimension enrichment: the streaming twin of the J2
    * broadcast dimension lookup. The static side re-broadcasts per
    * micro-batch, so dimension updates between triggers are picked up;
    * the stream side never shuffles for the join.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Keep-latest streaming upsert sink: maintain a parquet snapshot
    * that always holds ONE row per key — the newest by `orderCol` —
    * as micro-batches arrive. Each batch merges with the current
    * snapshot through the same keep-first reduction as the batch CDC
    * apply (q132), writes to a temp location, and swaps — a
    * continuously-maintained MERGE INTO target. `orderCol` must be
    * strictly monotone per key (a version/event-time) for the survivor
    * to be well-defined. At scale the swap step is what a table format
    * (Delta/Iceberg) replaces with an atomic commit; the merge shape —
    * one shuffle on the key per batch, state IS the snapshot — is
    * unchanged. Caller starts/awaits the returned writer.
    *
    * Crash safety: the swap is delete(cur) → rename(tmp, cur), and a
    * crash between the two leaves only the tmp dir. [[upsertBatch]]
    * therefore RECOVERS before reading: a missing snapshot with a
    * COMPLETED tmp sitting next to it is renamed into place. A tmp is
    * only trusted when it carries the `_SUCCESS` marker Spark writes as
    * the job-commit step — a crash mid-write of the very first
    * micro-batch (no snapshot yet) leaves a marker-less partial tmp,
    * which is deleted, not promoted; the replayed batch then rebuilds
    * from empty, which is exactly that batch's correct input state.
    */
  def streamUpsert(stream: DataFrame, keys: Seq[String], orderCol: String,
                   path: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch.toDF(), keys, orderCol, path)
      }

  /** One micro-batch of [[streamUpsert]]: recover a half-completed swap,
    * merge the batch into the snapshot, write-and-swap. Exposed so the
    * crash-recovery path is directly testable.
    */
  def upsertBatch(batch: DataFrame, keys: Seq[String], orderCol: String,
                  path: String): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val cur = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val fs = cur.getFileSystem(hconf)
    if (!fs.exists(cur) && fs.exists(tmp)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) fs.rename(tmp, cur)
      else fs.delete(tmp, true)
    }
    val existing =
      if (fs.exists(cur)) spark.read.schema(batch.schema).parquet(path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val merged = graft.operators.Relational.dedupKeepFirst(
      existing.unionByName(batch), keys, Seq(col(orderCol).desc))
    merged.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(cur, true)
    fs.rename(tmp, cur)
    ()
  }

  /** Stream-static temporal (SCD2) lookup: each streaming row joined
    * to the dimension VERSION current at its event time — the dim
    * carries [fromCol, toCol) validity intervals (toCol NULL = open,
    * the q95 SCD2 build's output shape). This is the correct streaming
    * twin of a batch as-of join when the dimension is slowly changing:
    * `enrichWithDim` would stamp every event with TODAY's version,
    * silently rewriting history on replay. The static side
    * re-broadcasts per micro-batch (new dim versions picked up between
    * triggers) and the join keeps no state — the interval predicate is
    * evaluated map-side against the broadcast table, so the stream
    * side neither shuffles nor watermarks for this join.
    */
  def enrichAsOf(stream: DataFrame, dim: DataFrame, key: String,
                 tsCol: String, fromCol: String, toCol: String): DataFrame = {
    val s = stream.alias("s")
    val d = dim.alias("d")
    s.join(broadcast(d),
      expr(s"s.$key = d.$key AND s.$tsCol >= d.$fromCol " +
        s"AND (d.$toCol IS NULL OR s.$tsCol < d.$toCol)"), "left")
  }

  /** Stream-stream interval join: rows of `left` matched to same-key
    * rows of `right` whose event time falls in [left.ts, left.ts +
    * maxDelay]. BOTH sides carry watermarks and the join condition
    * bounds the time range — that pair is what lets Spark evict join
    * state as the watermark advances; without it stream-stream join
    * state grows without bound. State is sharded by the equi-key like
    * any hash join, so a 1000-executor cluster holds only its key
    * range's recent rows.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   maxDelay: String, lateness: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness).alias("l")
    val r = right.withWatermark(rightTs, lateness).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.$rightTs >= l.$leftTs " +
        s"AND r.$rightTs <= l.$leftTs + interval $maxDelay"))
  }

  final case class BandRow(band_hash: Long, doc_id: Long)
  final case class NearDupCand(doc_id: Long, matches_doc: Long, band_hash: Long)

  /** Streaming near-duplicate candidate detection — the incremental
    * twin of the batch MinHash-LSH dedup (q36/q49): every arriving
    * document's LSH band hashes (same compiled kernels as batch, so
    * stream and batch agree on bucketing) are checked against
    * per-bucket state holding the first document ever seen there; a
    * collision emits a candidate pair for downstream exact-Jaccard
    * verification. This is how a continuously-fed corpus rejects
    * near-dups at ingest instead of re-running corpus-wide dedup.
    *
    * Scale: state is one long per occupied band bucket, sharded by
    * bucket hash across executors like any grouped state. With a
    * long-running processing-time trigger, pass `stateTtlMs > 0` to
    * bound state to the dedup horizon (beyond it, the batch q81-style
    * store takes over); leave it 0 for bounded runs — a pending
    * processing-time timeout keeps a Trigger.AvailableNow query alive
    * waiting to service it, so the TTL is strictly a continuous-mode
    * knob. Within a micro-batch, rows sort by doc_id so the anchor
    * choice is deterministic under replay.
    */
  def streamingNearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 n: Int = 2, k: Int = 12, rowsPerBand: Int = 2,
                                 stateTtlMs: Long = 0L): Dataset[NearDupCand] = {
    val s = docs.sparkSession
    import s.implicits._
    val bands = docs.select(
        explode(call_function("graft_minhash_bands",
          call_function("graft_shingle_hashes", col(textCol), lit(n)),
          lit(k), lit(rowsPerBand))).as("band_hash"),
        col(idCol).cast("long").as("doc_id"))
      .as[BandRow]
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands.groupByKey(_.band_hash)
      .flatMapGroupsWithState[Long, NearDupCand](OutputMode.Append, timeoutConf) {
        (bandHash: Long, rows: Iterator[BandRow], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.map(_.doc_id).toArray.sorted
            var anchor = state.getOption.getOrElse(Long.MinValue)
            val out = Seq.newBuilder[NearDupCand]
            for (id <- sorted) {
              if (anchor == Long.MinValue) anchor = id
              else if (id != anchor) out += NearDupCand(id, anchor, bandHash)
            }
            if (anchor != Long.MinValue) state.update(anchor)
            if (stateTtlMs > 0) state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
      }
  }

  final case class FpRow(fp: Long, doc_id: Long)
  final case class WinnowCand(doc_id: Long, matches_doc: Long, fp: Long)
  /** Bucket membership (sorted, bounded) + the overflow latch. */
  final case class FpBucket(members: List[Long], overflowed: Boolean)

  /** Streaming winnowing near-dup candidates — the incremental twin of
    * the batch [[graft.operators.Dedup.winnowPairs]] (q384), and the
    * run-localized sibling of [[streamingNearDupCandidates]]: each
    * arriving document's winnowing fingerprints (computed per-row with
    * the SAME kernel + window-minimum arithmetic as batch — array ops,
    * no window function, so it runs on an unbounded stream) are checked
    * against per-fingerprint state holding ALL previous members (not
    * just an anchor — winnowing pairs are per shared RUN, so every
    * member pair matters), emitting (new, existing) candidates as docs
    * arrive. Distinct streamed pairs over any micro-batch split equal
    * the batch winnowPairs(minShared = 1) pair set exactly while no
    * bucket exceeds `maxBucket` (StreamingSpec pins it).
    *
    * Append-mode cap semantics, stated honestly: batch DROPS an
    * over-cap bucket whole; a stream cannot retract, so a bucket
    * crossing the cap LATCHES overflowed — it emits nothing further,
    * but pairs emitted before the crossing stand. At 100 TB the cap
    * exists to bound state and skew (a fingerprint in thousands of
    * docs is boilerplate), and the latch bounds each bucket's state at
    * maxBucket longs, sharded by fingerprint like any grouped state.
    */
  def streamingWinnowCandidates(docs: DataFrame, idCol: String, textCol: String,
                                k: Int, w: Int,
                                maxBucket: Int = 500): Dataset[WinnowCand] = {
    val s = docs.sparkSession
    import s.implicits._
    // per-ROW fingerprints ≡ Dedup.winnowFromGrams: window minima over
    // the gram list (slice + array_min), distinct; short docs (< w
    // grams) keep their global minimum — the batch pos=0 fallback
    val gs = call_function("graft_shingle_hash_list", col(textCol), lit(k))
    val fps = when(size(gs) < w, array(array_min(gs)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(gs) - w),
        i => array_min(slice(gs, i + 1, lit(w))))))
    val rows = docs.select(explode(fps).as("fp"),
        col(idCol).cast("long").as("doc_id"))
      .as[FpRow]
    rows.groupByKey(_.fp)
      .flatMapGroupsWithState[FpBucket, WinnowCand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: Long, it: Iterator[FpRow], state: GroupState[FpBucket]) =>
          var st = state.getOption.getOrElse(FpBucket(Nil, overflowed = false))
          val out = Seq.newBuilder[WinnowCand]
          // sort within the micro-batch so replay is deterministic
          for (id <- it.map(_.doc_id).toArray.sorted if !st.overflowed) {
            if (!st.members.contains(id)) {
              // the member that CROSSES the cap proves the bucket is
              // boilerplate: latch first, emit nothing for it — only
              // pairs among the first maxBucket members ever stand
              if (st.members.length >= maxBucket) st = FpBucket(Nil, overflowed = true)
              else {
                st.members.foreach(m =>
                  out += WinnowCand(math.max(id, m), math.min(id, m), fp))
                st = FpBucket(id :: st.members, overflowed = false)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming distribution-drift monitor — the continuous twin of the
    * batch PSI report (q111). Each event-time window's values bucket
    * against FIXED reference boundaries (computed offline from a
    * trusted cohort, passed as literals — at 100 TB the reference
    * quantiles come from the batch q109/q111 job); the output is one
    * row per (window, bucket) with the observed share and its
    * Laplace-smoothed PSI term against the reference share. A sink
    * alerting on `sum(psi_term) > 0.2` per window is the standard
    * quarantine trigger for a poisoned ingest batch.
    *
    * Scale: one watermarked windowed aggregation — state is
    * (windows × buckets), bounded by the watermark horizon, sharded
    * like any streaming agg. Bucket assignment is stateless per-row
    * math against broadcast-literal boundaries.
    */
  def driftMonitor(events: DataFrame, valueCol: String, tsCol: String,
                   boundaries: Seq[Double], refShare: Seq[Double],
                   windowDur: String, lateness: String): DataFrame = {
    require(refShare.length == boundaries.length + 1,
      s"need ${boundaries.length + 1} reference shares, got ${refShare.length}")
    val bucket = boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(valueCol) > lit(b), 1).otherwise(0)
    }
    val refArr = array(refShare.map(lit): _*)
    val nBuckets = refShare.length
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur).as("win"), bucket.as("bucket"))
      .count()
      .select(col("win.start").as("window_start"), col("bucket"), col("count"),
        // per-window totals aren't available inside one streaming agg
        // (no second stateful stage in append mode); emit the smoothed
        // count and let the reader normalize — or run in complete mode
        // over bounded windows as the spec does and post-aggregate.
        element_at(refArr, col("bucket") + 1).as("ref_share"))
      .withColumn("n_buckets", lit(nBuckets))
  }

  /** Batch-side PSI over a driftMonitor output (post-aggregation a
    * memory/console sink can run per trigger): normalizes counts per
    * window and emits the per-bucket smoothed PSI term.
    *
    * Smoothing is SYMMETRIC, like q111's add-one on both cohorts: the
    * reference share is re-smoothed against the same window total
    * ((ref·tot + 1) / (tot + k)), so a zero reference bucket yields a
    * finite psi_term instead of Infinity from the raw ln(p/0). A
    * ref_share that already carries mass is essentially unchanged
    * (0.25 at tot=400, k=4 smooths to 101/404 = 0.25 exactly).
    */
  def psiOf(monitored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("window_start")
    monitored
      .withColumn("_tot", sum("count").over(w))
      .withColumn("obs_share",
        (col("count") + 1).cast("double") / (col("_tot") + col("n_buckets")))
      .withColumn("_ref_sm",
        (col("ref_share") * col("_tot") + 1) / (col("_tot") + col("n_buckets")))
      .withColumn("psi_term",
        round((col("obs_share") - col("_ref_sm"))
          * log(col("obs_share") / col("_ref_sm")), 9))
      .select(col("window_start"), col("bucket"), col("count"),
        col("obs_share"), col("ref_share"), col("psi_term"))
  }

  /** Streaming twin of q375's HyperLogLog registers: the sketch a
    * continuously-ingesting fleet keeps for "distinct users/keys so
    * far" without ever storing a key set. Registers are a
    * groupBy(group, register).max — max is order-independent,
    * idempotent under replay, and mergeable, so after ANY micro-batch
    * split the streaming register table equals the batch sketch over
    * the same rows EXACTLY (StreamingSpec pins it across triggers),
    * and state is bounded at m registers per group FOREVER no matter
    * how many distinct keys arrive — the property that makes HLL the
    * right streaming cardinality summary where q390-style exact dedup
    * state would grow without bound. Same md5-family hash family as
    * q375 (m=4096) and q214 (m=64): the hash is a 60-bit md5 prefix,
    * so ρ's zero-w ceiling is 61 − log₂m — derived here, not
    * hardcoded, and m must be a power of two or j = h % m would bias.
    *
    * `keyed` must carry a string group column `g` and a key column
    * `k`.
    */
  def hllRegisters(keyed: DataFrame, m: Int): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    val bits = java.lang.Integer.numberOfTrailingZeros(m)
    val rhoMax = 61 - bits // w has 60 - log2(m) bits; rho(w=0) = width + 1
    keyed
      .selectExpr("g",
        "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h")
      .selectExpr("g", s"h % $m AS j", s"h div $m AS w")
      .selectExpr("g", "j",
        s"CASE WHEN w = 0 THEN $rhoMax ELSE $rhoMax - length(bin(w)) END AS rho")
      .groupBy("g", "j").agg(max("rho").as("m_j"))
  }

  /** Run a streaming DataFrame to completion over the currently
    * available data (the reference's daily-batch cadence) into an
    * in-memory table; returns the result.
    */
  def runAvailableNow(df: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}
