package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing
import graft.functions.ScalarFunctions.dsum
import graft.operators.{AsOfJoin, Relational, TextAnalysis}
import graft.queries.Q.duckHash64

/** Event-stream and corpus-statistics operators a large-scale pipeline
  * needs beyond the reference surface: point-in-time (as-of) joins,
  * batch sessionization, deterministic stratified sampling, TF-IDF.
  *
  * Time determinism policy: timestamps cross the Spark↔DuckDB oracle
  * boundary as INTEGER epoch values (unix_micros ↔ epoch_us, or
  * floor-div seconds) — parquet stores ns, Spark truncates to µs, and
  * integer arithmetic is the representation both engines agree on
  * bit-for-bit.
  */
object EventQueries {

  /** q54 — backward as-of join: each error event picks the same user's
    * most recent purchase at-or-before it (point-in-time lookup).
    * Purchases are pre-deduped to one per (user, ts) — max event id —
    * so the winner is deterministic in both engines. One shuffle on
    * user_id (union + running window), no range join.
    */
  val q54 = Q("q54_asof_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val err = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val pur = Relational.dedupKeepFirst(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"), col("value").as("p_value")),
        Seq("user_id", "p_ts"), Seq(col("p_id").desc))
      AsOfJoin.asofBackward(err, pur, Seq("user_id"), "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("e_us"),
          col("p_id"),
          unix_micros(col("p_ts")).as("p_us"),
          col("p_value"))
        .withColumn("gap_us", col("e_us") - col("p_us"))
        .orderBy("event_id")
    },
    Some("""
      WITH err AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      pur AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase'
        QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS e_us,
             p.p_id, epoch_us(p.p_ts) AS p_us, p.p_value,
             epoch_us(e.ts) - epoch_us(p.p_ts) AS gap_us
      FROM err e ASOF LEFT JOIN pur p
        ON e.user_id = p.user_id AND e.ts >= p.p_ts
      ORDER BY event_id"""))

  /** q55 — batch sessionization: gap > 30 min starts a new session per
    * user (the batch twin of streaming mapGroupsWithState). Running
    * sum over a per-user window, then one aggregation — both stages
    * share the user_id shuffle. Gaps compare on floor-to-second epoch
    * longs so the boundary test is integer-exact across engines.
    */
  val q55 = Q("q55_sessionize",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_gap", col("_sec") - lag(col("_sec"), 1).over(wu))
        .withColumn("_new", when(col("_gap").isNull || col("_gap") > 1800, 1L).otherwise(0L))
        .withColumn("session_idx", sum(col("_new")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(
          min(col("_sec")).as("start_sec"),
          max(col("_sec")).as("end_sec"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("user_id", "session_idx")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, value, epoch_us(ts) // 1000000 AS sec
        FROM events),
      g AS (
        SELECT user_id, event_id, value, sec,
               CASE WHEN sec - lag(sec) OVER w IS NULL
                         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      sess AS (
        SELECT user_id, value, sec,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             min(sec) AS start_sec, max(sec) AS end_sec,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""))

  /** q56 — deterministic stratified sampling: per-stratum rates applied
    * via the portable md5 hash of the row id, so the sample is exactly
    * reproducible in any engine (and stable under re-partitioning /
    * re-runs — unlike rand()-based sampling). Map-only: no shuffle, the
    * filter pushes the scan down to the sampled fraction of rows.
    */
  val q56 = Q("q56_stratified_sample",
    (s, dir) => {
      val rate = when(col("event_type") === "click", 5)
        .when(col("event_type") === "view", 10)
        .when(col("event_type") === "error", 20)
        .otherwise(50) // purchase, signup
      Tables.load(s, dir, "events")
        .withColumn("_bucket",
          pmod(Hashing.hash64(concat(lit("smp|"), col("event_id").cast("string"))), lit(100)))
        .filter(col("_bucket") < rate)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
    Some(s"""
      SELECT event_id, user_id, event_type, value
      FROM events
      WHERE ${duckHash64("concat('smp|', CAST(event_id AS VARCHAR))")} % 100 <
            CASE event_type WHEN 'click' THEN 5 WHEN 'view' THEN 10
                            WHEN 'error' THEN 20 ELSE 50 END
      ORDER BY event_id"""))

  /** q57 — corpus TF-IDF: top-20 terms by total tf·idf. Two linear
    * shuffles (doc-term counts, then per-term stats); the corpus size
    * joins in as a broadcast one-row frame; top-k compiles to
    * TakeOrderedAndProject. idf inputs are integers, so the only
    * floating step is ln + one multiply, rounded to 4dp for the oracle.
    */
  val q57 = Q("q57_tfidf",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val stats = tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      val n = docs.agg(count(lit(1)).as("_n"))
      stats.crossJoin(broadcast(n))
        .select(col("term"), col("df"), col("total_tf"),
          round(col("total_tf") * log(col("_n").cast("double") / col("df")), 4).as("tfidf"))
        .orderBy(col("tfidf").desc, col("term").asc)
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
                FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents)
      SELECT term, df, total_tf,
             round(total_tf * ln(CAST(n AS DOUBLE) / df), 4) AS tfidf
      FROM stats, n
      ORDER BY tfidf DESC, term ASC LIMIT 20"""))

  /** q59 — PII / boilerplate scrubbing: redact emails and URLs, count
    * redactions. Dirty inputs are synthesized deterministically from
    * the corpus (q31's pattern — the synthetic docs contain no PII),
    * patterns stay in the Java∩RE2 regex subset so both engines match
    * identically. Map-only: per-row regex, no shuffle; the heavy text
    * column leaves the query as an md5 witness, not the scrubbed body.
    */
  val q59 = Q("q59_pii_scrub",
    (s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val urlRe = "https?://[^\\s]+"
      val dirty = Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" contact alice.smith@example.com or bob@mail.example.org"))
            .when(pmod(col("doc_id"), lit(11)) === 0,
              lit(" see https://example.com/data?id=1 now"))
            .otherwise(lit(""))).as("text"))
      dirty.select(
          col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).as("n_emails"),
          regexp_count(col("text"), lit(urlRe)).as("n_urls"),
          md5(regexp_replace(regexp_replace(col("text"), urlRe, "<URL>"),
            emailRe, "<EMAIL>")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH dirty AS (
        SELECT doc_id, text ||
               CASE WHEN doc_id % 7 = 0
                      THEN ' contact alice.smith@example.com or bob@mail.example.org'
                    WHEN doc_id % 11 = 0
                      THEN ' see https://example.com/data?id=1 now'
                    ELSE '' END AS text
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
             md5(regexp_replace(
               regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrubbed_md5
      FROM dirty ORDER BY doc_id"""))

  /** q60 — fixed-width histogram of a numeric column: bucket index from
    * one global (min, max) pass (broadcast one-row frame), then a
    * 20-ary groupBy — two scans, one tiny shuffle. Bucket arithmetic is
    * the same IEEE ops in both engines, so edges land identically;
    * the max value clamps into the last bucket.
    */
  val q60 = Q("q60_histogram",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val stats = li.agg(min(col("x")).as("_lo"), max(col("x")).as("_hi"))
      li.crossJoin(broadcast(stats))
        .select(least(floor((col("x") - col("_lo")) / ((col("_hi") - col("_lo")) / 20.0)),
          lit(19.0)).cast("long").as("bucket"),
          col("x"), col("_lo"), col("_hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(first(col("_lo") + col("bucket") * (col("_hi") - col("_lo")) / 20.0), 6).as("bucket_lo"))
        .orderBy("bucket")
    },
    Some("""
      WITH s AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
      b AS (SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT) AS bucket,
                   lo, hi
            FROM lineitem, s)
      SELECT bucket, count(*) AS n,
             round(any_value(lo + bucket * (hi - lo) / 20.0), 6) AS bucket_lo
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** q72 — RANGE-frame window (value-based, not row-based): per event,
    * the count and cent-sum of the same user's events in the trailing
    * hour. The frame bound is a VALUE offset on the epoch-second sort
    * key, so ties (same user, same second) are frame peers regardless
    * of row order — that peer semantics is what makes the result
    * deterministic where a ROWS frame would depend on tie order.
    * One shuffle on user_id; per-partition sliding-window evaluation.
    * Sums are exact integer cents, so no accumulation-order issues.
    */
  val q72 = Q("q72_range_frame",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("_sec"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("_sec"),
          round(col("value") * 100).cast("long").as("_cents"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("cents_1h", sum(col("_cents")).over(w))
        .select("event_id", "user_id", "_sec", "n_1h", "cents_1h")
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, _sec,
             count(*) OVER w AS n_1h,
             CAST(sum(_cents) OVER w AS BIGINT) AS cents_1h
      FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS _sec,
                   CAST(round(value * 100) AS BIGINT) AS _cents
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY _sec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** q118 — cumulative-distinct growth curve: per day, the new users
    * (first ever seen that day), the active users, and the running
    * total of distinct users to date. The naive form — COUNT(DISTINCT)
    * over an ever-growing frame — rescans all history per day; the
    * scale shape used here is first-seen reduction (one shuffle on
    * user), a per-day rollup, and a running sum over the DAY table —
    * the window is calendar-sized, thousands of rows at any corpus
    * size, so the global ordering it needs is free.
    */
  val q118 = Q("q118_cumulative_distinct",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val newPerDay = e.groupBy("user_id").agg(min("day").as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val actives = e.distinct()
        .groupBy("day").agg(count(lit(1)).as("active_users"))
      actives.join(newPerDay, Seq("day"), "left")
        .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"),
          col("active_users"))
        .withColumn("cum_users",
          sum("new_users").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    },
    Some("""
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      np AS (SELECT day, count(*) AS new_users FROM
               (SELECT user_id, min(day) AS day FROM e GROUP BY 1)
             GROUP BY day),
      act AS (SELECT day, count(*) AS active_users FROM
                (SELECT DISTINCT user_id, day FROM e) GROUP BY day)
      SELECT act.day, coalesce(np.new_users, 0) AS new_users, act.active_users,
             CAST(sum(coalesce(np.new_users, 0)) OVER (
               ORDER BY act.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_users
      FROM act LEFT JOIN np ON act.day = np.day
      ORDER BY act.day"""))

  // --------------------------------------------------------------- q201

  /** Round-to-nearest division by 10 on scaled longs, sign-symmetric —
    * written out as a CASE so the Spark lambda and the DuckDB CTE
    * evaluate the IDENTICAL integer expression (Spark `div` truncates,
    * DuckDB `//` floors; they differ on negatives, so all divisions
    * here run on non-negative operands only).
    */
  private def rdiv10(x: String, idiv: String): String =
    s"(CASE WHEN ($x) < 0 THEN -(((-($x)) + 5) $idiv 10) ELSE (($x) + 5) $idiv 10 END)"

  /** q201 — Holt double-exponential smoothing (level + linear trend,
    * α=0.5 β=0.3) over the daily event count of each event_type: the
    * standard pipeline-monitoring forecaster (is today's ingest volume
    * where the trend says it should be?). Output per day: the smoothed
    * level, trend, and one-step-ahead forecast error, all in exact
    * micro-units.
    *
    * Determinism: the recurrence runs on 1e6-scaled longs with an
    * explicit sign-symmetric round-half-away division after each
    * update, so every (level, trend) state is an INTEGER both engines
    * compute bit-for-bit — no accumulated float drift, the property
    * that lets the oracle replay the whole recursion.
    *
    * Scale: smoothing is inherently sequential ALONG a series, so the
    * parallel axis is ACROSS series — one groupBy(key, day) rollup
    * (map-side partials), then one fold per key over its sorted daily
    * array via the codegen'd `aggregate` HOF. State is O(series
    * length) per key — bounded (daily grain: 365/year) no matter how
    * many raw events feed each day; a 100 TB deployment has millions
    * of keys, not long series, and each fold is one task-local pass.
    */
  val q201 = Q("q201_holt_smoothing",
    (s, dir) => {
      val d = rdiv10(_: String, "DIV")
      val nlv = d("5 * e.y * 1000000 + 5 * (acc.lv + acc.tr)")
      val ntr = d(s"3 * ($nlv - acc.lv) + 7 * acc.tr")
      val holt = s"""
        aggregate(
          ys,
          named_struct(
            'lv', CAST(0 AS BIGINT), 'tr', CAST(0 AS BIGINT), 'i', 0,
            'out', CAST(array() AS ARRAY<STRUCT<day: DATE, y: BIGINT,
                                                lv: BIGINT, tr: BIGINT, err: BIGINT>>)),
          (acc, e) -> CASE WHEN acc.i = 0 THEN named_struct(
              'lv', e.y * CAST(1000000 AS BIGINT), 'tr', CAST(0 AS BIGINT), 'i', 1,
              'out', array(named_struct('day', e.day, 'y', e.y,
                'lv', e.y * CAST(1000000 AS BIGINT), 'tr', CAST(0 AS BIGINT),
                'err', CAST(0 AS BIGINT))))
            ELSE named_struct(
              'lv', $nlv, 'tr', $ntr, 'i', acc.i + 1,
              'out', concat(acc.out, array(named_struct('day', e.day, 'y', e.y,
                'lv', $nlv, 'tr', $ntr,
                'err', e.y * 1000000 - (acc.lv + acc.tr)))))
            END,
          acc -> acc.out)"""
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("ys"))
        .select(col("event_type"), explode(expr(holt)).as("r"))
        .select(col("event_type"), col("r.day").as("day"), col("r.y").as("y"),
          col("r.lv").as("level_micro"), col("r.tr").as("trend_micro"),
          col("r.err").as("err_micro"))
        .orderBy("event_type", "day")
    },
    Some {
      val d = rdiv10(_: String, "//")
      val nlv = d("5 * x.y * 1000000 + 5 * (h.lv + h.tr)")
      val ntr = d(s"3 * ($nlv - h.lv) + 7 * h.tr")
      s"""
      WITH RECURSIVE
      daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS y
                FROM events GROUP BY 1, 2),
      ix AS (SELECT event_type, day, y,
                    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
             FROM daily),
      h(event_type, i, day, y, lv, tr, err) AS (
        SELECT event_type, i, day, y, y * 1000000,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM ix WHERE i = 1
        UNION ALL
        SELECT x.event_type, x.i, x.day, x.y,
               $nlv, $ntr,
               x.y * 1000000 - (h.lv + h.tr)
        FROM h JOIN ix x ON x.event_type = h.event_type AND x.i = h.i + 1)
      SELECT event_type, day, y, lv AS level_micro, tr AS trend_micro,
             err AS err_micro
      FROM h ORDER BY event_type, day"""
    })

  // --------------------------------------------------------------- q205

  /** q205 — peak concurrent sessions per day by sweep-line: q55's
    * 30-minute-gap sessions become (+1 at start, −1 at end) deltas;
    * a running sum ordered by (time, starts-before-ends) is the live
    * concurrency, and its per-day max + first time it is reached is
    * the answer. This is the scale-safe REPLACEMENT for counting
    * overlaps with an interval self-join (q102's shape): the sweep is
    * O(n log n) — sort + prefix sum — where the self-join is O(n²) on
    * dense days.
    *
    * Scale/determinism: sessions split at midnight so the sweep
    * window partitions BY DAY (bounded, never corpus-global); within
    * equal timestamps +1 sorts before −1, and although ties among
    * equal deltas order arbitrarily, the running sum's per-group value
    * MULTISET is order-independent, so the max and its first time are
    * exact — the oracle replays the identical window.
    */
  val q205 = Q("q205_peak_concurrency",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val sess = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts").cast("long").as("_sec"))
        .withColumn("_gap", col("_sec") - lag(col("_sec"), 1).over(wu))
        .withColumn("_new", when(col("_gap").isNull || col("_gap") > 1800, 1L).otherwise(0L))
        .withColumn("_sid", sum(col("_new")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "_sid")
        .agg(min(col("_sec")).as("s"), max(col("_sec")).as("e"))
      val perDay = sess
        .select(explode(expr("sequence(s div 86400, e div 86400)")).as("day"),
          col("s"), col("e"))
        .select(col("day"),
          greatest(col("s"), col("day") * 86400).as("cs"),
          least(col("e"), col("day") * 86400 + 86399).as("ce"))
      val pts = perDay.select(col("day"), col("cs").as("t"), lit(1L).as("d"))
        .union(perDay.select(col("day"), col("ce").as("t"), lit(-1L).as("d")))
      val wd = Window.partitionBy("day").orderBy(col("t").asc, col("d").desc)
      val run = pts.withColumn("run", sum(col("d")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val peak = run.groupBy("day").agg(max("run").as("peak"))
      run.join(peak, Seq("day")).filter(col("run") === col("peak"))
        .groupBy(col("day"), col("peak"))
        .agg(min(col("t")).as("peak_sec"))
        .select(col("day"), col("peak").as("peak_concurrency"), col("peak_sec"))
        .orderBy("day")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events),
      g AS (
        SELECT user_id, event_id, sec,
               CASE WHEN sec - lag(sec) OVER w IS NULL
                         OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      sx AS (
        SELECT user_id, sec,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM g),
      b AS (SELECT user_id, sid, min(sec) AS s, max(sec) AS e
            FROM sx GROUP BY 1, 2),
      d AS (SELECT u.day,
                   greatest(s, u.day * 86400) AS cs,
                   least(e, u.day * 86400 + 86399) AS ce
            FROM b, unnest(generate_series(s // 86400, e // 86400)) AS u(day)),
      p AS (SELECT day, cs AS t, CAST(1 AS BIGINT) AS dd FROM d
            UNION ALL SELECT day, ce, CAST(-1 AS BIGINT) FROM d),
      r AS (SELECT day, t,
                   sum(dd) OVER (PARTITION BY day ORDER BY t ASC, dd DESC
                                 ROWS UNBOUNDED PRECEDING) AS run
            FROM p),
      pk AS (SELECT day, max(run) AS peak FROM r GROUP BY day)
      SELECT r.day, CAST(pk.peak AS BIGINT) AS peak_concurrency,
             min(r.t) AS peak_sec
      FROM r JOIN pk ON r.day = pk.day AND r.run = pk.peak
      GROUP BY r.day, pk.peak ORDER BY r.day"""))

  // --------------------------------------------------------------- q206

  /** q206 — position-based (40/20/40) marketing attribution: every
    * purchase credits its user's click/view touchpoints from the
    * preceding 7 days — 40% to the first touch, 40% to the last, 20%
    * split over the middles. The report is credit mass per touchpoint
    * type.
    *
    * Exactness: credits are integer micro-units that sum to EXACTLY
    * 1e6 per attributed conversion — middles get 200000 div (k−2)
    * each and the division remainder rides on the first touch, a
    * deterministic largest-remainder-style rule both engines replay
    * (float credit splitting would drift in the 12th decimal and the
    * gate would see it).
    *
    * Scale: the touch↔purchase association is an equi-join on user_id
    * plus a time-band predicate — the shuffle is keyed on user, never
    * a cross product; per-purchase position windows partition by
    * (user, purchase) and are bounded by one user's 7-day touch
    * count. Purchases with no trailing touches drop out (inner join) —
    * unattributable conversions are a separate report.
    */
  val q206 = Q("q206_attribution",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("_sec").as("p_sec"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("t_id"),
          col("event_type").as("touch_type"), col("_sec").as("t_sec"))
      val wp = Window.partitionBy("user_id", "p_id")
        .orderBy(col("t_sec").asc, col("t_id").asc)
      purchases.join(touches, Seq("user_id"))
        .filter(col("t_sec") >= col("p_sec") - 7L * 86400 && col("t_sec") < col("p_sec"))
        .withColumn("_pos", row_number().over(wp))
        .withColumn("_k", count(lit(1)).over(Window.partitionBy("user_id", "p_id")))
        .withColumn("credit_micro",
          when(col("_k") === 1, 1000000L)
            .when(col("_k") === 2, 500000L)
            .when(col("_pos") === 1,
              lit(400000L) + (lit(200000L) % (col("_k") - 2)))
            .when(col("_pos") === col("_k"), 400000L)
            .otherwise(expr("200000L div (_k - 2)")))
        .groupBy("touch_type")
        .agg(sum("credit_micro").as("credit_micro"),
          count(lit(1)).as("n_touches"),
          countDistinct(col("user_id"), col("p_id")).as("n_conversions"))
        .orderBy("touch_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      p AS (SELECT user_id, event_id AS p_id, sec AS p_sec
            FROM e WHERE event_type = 'purchase'),
      t AS (SELECT user_id, event_id AS t_id, event_type AS touch_type,
                   sec AS t_sec
            FROM e WHERE event_type IN ('click', 'view')),
      j AS (SELECT p.user_id, p.p_id, t.t_id, t.touch_type, t.t_sec,
                   row_number() OVER (PARTITION BY p.user_id, p.p_id
                                      ORDER BY t.t_sec ASC, t.t_id ASC) AS pos,
                   count(*) OVER (PARTITION BY p.user_id, p.p_id) AS k
            FROM p JOIN t ON p.user_id = t.user_id
            WHERE t.t_sec >= p.p_sec - 7 * 86400 AND t.t_sec < p.p_sec),
      c AS (SELECT touch_type, user_id, p_id,
                   CASE WHEN k = 1 THEN 1000000
                        WHEN k = 2 THEN 500000
                        WHEN pos = 1 THEN 400000 + (200000 % (k - 2))
                        WHEN pos = k THEN 400000
                        ELSE 200000 // (k - 2) END AS credit_micro
            FROM j)
      SELECT touch_type,
             CAST(sum(credit_micro) AS BIGINT) AS credit_micro,
             CAST(count(*) AS BIGINT) AS n_touches,
             CAST(count(DISTINCT (user_id, p_id)) AS BIGINT) AS n_conversions
      FROM c GROUP BY touch_type ORDER BY touch_type"""))

  // --------------------------------------------------------------- q208

  /** q208 — event-type transition matrix (first-order Markov
    * structure of user journeys): consecutive event pairs per user,
    * counts and row-normalized probabilities — the sequence-mining
    * rollup behind journey analysis, anomaly detection on flows, and
    * Markov attribution.
    *
    * Exactness: probabilities are (1e6·cnt) div rowTotal — integer
    * arithmetic, no float division. One user-keyed window (lag) and
    * one small groupBy; shuffle volume is the event stream, state is
    * |types|² cells.
    */
  val q208 = Q("q208_transition_matrix",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val pairs = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_next", lead(col("event_type"), 1).over(wu))
        .filter(col("_next").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("_next").as("to_type"))
        .agg(count(lit(1)).as("cnt"))
      val tot = pairs.groupBy("from_type").agg(sum("cnt").as("_tot"))
      pairs.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("cnt"),
          expr("(1000000 * cnt) div _tot").as("prob_micro"))
        .orderBy("from_type", "to_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      nx AS (SELECT event_type AS from_type,
                    lead(event_type) OVER (PARTITION BY user_id
                                           ORDER BY sec ASC, event_id ASC) AS to_type
             FROM e),
      c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
            FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, c.cnt,
             (1000000 * c.cnt) // t.tot AS prob_micro
      FROM c JOIN t ON c.from_type = t.from_type
      ORDER BY c.from_type, c.to_type"""))

  // --------------------------------------------------------------- q212

  /** q212 — two-sided CUSUM changepoint detection over each
    * event_type's daily volume: the classic sequential drift detector
    * (has the ingest rate shifted up or down from its historical
    * mean?) that pipeline monitoring runs after q201's forecaster.
    *
    * The CUSUM recurrence hi_t = max(0, hi_{t-1} + dev_t − slack) is
    * sequential, but it has a WINDOW-COMPUTABLE closed form:
    * hi_t = P_t − min(0, min_{j≤t} P_j) where P is the prefix sum of
    * (dev − slack) — the max-drawdown identity. So no recursion, no
    * fold: two ordered windows per key (prefix sum + running min),
    * both partitioned BY event_type and bounded by days-per-key, never
    * corpus-global. The oracle replays the identical windows.
    *
    * Exactness: dev_t = n·y_t − S is n·(y_t − mean) kept integer (no
    * mean division); slack = S div 4 (quarter-mean allowance, S ≥ 0 so
    * Spark `div` ≡ DuckDB `//`); alarm threshold = S (one average
    * day's worth of cumulative excess). Everything is int64: P_t is
    * bounded by n·Σy ≤ days·totalEvents.
    */
  val q212 = Q("q212_cusum_changepoint",
    (s, dir) => {
      val byType = Window.partitionBy("event_type")
      val wOrd = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("_n", count(lit(1)).over(byType))
        .withColumn("_s", sum(col("y")).over(byType))
        .withColumn("dev", col("_n") * col("y") - col("_s"))
        .withColumn("_slack", expr("_s div 4"))
        .withColumn("_p", sum(col("dev") - col("_slack")).over(wOrd))
        .withColumn("_q", sum(-col("dev") - col("_slack")).over(wOrd))
        .withColumn("cusum_hi", col("_p") - least(lit(0L), min(col("_p")).over(wOrd)))
        .withColumn("cusum_lo", col("_q") - least(lit(0L), min(col("_q")).over(wOrd)))
        .select(col("event_type"), col("day"), col("y"), col("dev"),
          col("cusum_hi"), col("cusum_lo"),
          (col("cusum_hi") > col("_s")).as("alarm_hi"),
          (col("cusum_lo") > col("_s")).as("alarm_lo"))
        .orderBy("event_type", "day")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      base AS (
        SELECT event_type, day, y,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
        FROM daily),
      dv AS (
        SELECT event_type, day, y, n * y - s AS dev, s // 4 AS slack, s
        FROM base),
      pf AS (
        SELECT event_type, day, y, dev, s,
               sum(dev - slack) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
               sum(-dev - slack) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q
        FROM dv),
      cs AS (
        SELECT event_type, day, y, dev, s,
               p - least(CAST(0 AS BIGINT), min(p) OVER (PARTITION BY event_type
                 ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS cusum_hi,
               q - least(CAST(0 AS BIGINT), min(q) OVER (PARTITION BY event_type
                 ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS cusum_lo
        FROM pf)
      SELECT event_type, day, y, dev,
             CAST(cusum_hi AS BIGINT) AS cusum_hi,
             CAST(cusum_lo AS BIGINT) AS cusum_lo,
             cusum_hi > s AS alarm_hi, cusum_lo > s AS alarm_lo
      FROM cs ORDER BY event_type, day"""))

  // --------------------------------------------------------------- q213

  /** q213 — seasonal decomposition (STL-lite) of each event_type's
    * daily volume: trend = centered 7-day moving average, seasonal =
    * per-day-of-week mean of the detrended series, residual = what
    * neither explains — the decomposition behind "is Tuesday always
    * low, or is this Tuesday anomalous?".
    *
    * Exactness: trend_micro = (1e6·Σ₇y) div 7 on the non-negative
    * 7-day sum; detrended values can be negative, so the seasonal
    * index divides with an explicit sign-symmetric truncating CASE
    * (Spark `div` truncates, DuckDB `//` floors — they differ on
    * negatives). Only full 7-day windows emit rows (edge days have no
    * centered trend), making null semantics a non-issue.
    *
    * Scale: one daily rollup (map-side partials), per-key bounded
    * windows, one |types|·7-cell seasonal groupBy joined back
    * broadcast. Nothing corpus-global.
    */
  val q213 = Q("q213_seasonal_decomp",
    (s, dir) => {
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("_w", count(lit(1)).over(w7))
        .withColumn("_s7", sum(col("y")).over(w7))
        .withColumn("trend_micro", expr("(1000000 * _s7) div 7"))
        .filter(col("_w") === 7)
        .withColumn("det_micro", lit(1000000L) * col("y") - col("trend_micro"))
        .withColumn("dow", dayofweek(col("day")))
      val seas = daily.groupBy("event_type", "dow")
        .agg(sum("det_micro").as("_sd"), count(lit(1)).as("_sc"))
        .withColumn("seas_micro", expr(
          "CASE WHEN _sd < 0 THEN -((-_sd) div _sc) ELSE _sd div _sc END"))
        .select("event_type", "dow", "seas_micro")
      daily.join(broadcast(seas), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("y"), col("trend_micro"),
          col("seas_micro"),
          (col("det_micro") - col("seas_micro")).as("resid_micro"))
        .orderBy("event_type", "day")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      tr AS (
        SELECT event_type, day, y,
               CAST(count(*) OVER w AS BIGINT) AS wn,
               (1000000 * CAST(sum(y) OVER w AS BIGINT)) // 7 AS trend_micro,
               CAST(dayofweek(day) AS INT) + 1 AS dow
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      dt AS (
        SELECT event_type, day, y, trend_micro, dow,
               1000000 * y - trend_micro AS det_micro
        FROM tr WHERE wn = 7),
      seas AS (
        SELECT event_type, dow,
               CASE WHEN sum(det_micro) < 0
                 THEN -((-CAST(sum(det_micro) AS BIGINT)) // CAST(count(*) AS BIGINT))
                 ELSE CAST(sum(det_micro) AS BIGINT) // CAST(count(*) AS BIGINT) END
                 AS seas_micro
        FROM dt GROUP BY 1, 2)
      SELECT d.event_type, d.day, d.y, d.trend_micro, s.seas_micro,
             d.det_micro - s.seas_micro AS resid_micro
      FROM dt d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
      ORDER BY d.event_type, d.day"""))

  // --------------------------------------------------------------- q215

  /** q215 — lead-lag cross-correlation between event-type daily
    * volumes: for every ordered type pair and lag 0..7, how strongly
    * does type A's volume on day t predict type B's on day t+lag —
    * the lead-indicator scan behind "clicks lead purchases by 2 days"
    * dashboards and feature-engineering for forecasting.
    *
    * Exactness: the Pearson square root is avoided by reporting the
    * SIGNED SQUARED correlation sign(cov)·(1e12·cov²) div (varx·vary)
    * with cov = n·Σxy − Σx·Σy etc. — every product runs in
    * DECIMAL(38,0)/HUGEINT (q184's recipe), including the Σxy terms
    * themselves (daily counts at petabyte grain overflow an int64
    * product), so both engines are bit-exact. NULL when a series is
    * constant (zero variance).
    *
    * Scale: one daily rollup (map-side partials) to a |types|·days
    * table; the lag alignment is a self-join of that BOUNDED rollup
    * (8 lags exploded on the left), never of raw events; the final
    * groupBy is |types|²·8 cells.
    */
  val q215 = Q("q215_lead_lag_xcorr",
    (s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val a = daily
        .select(col("event_type").as("ta"), col("day"), col("y").as("x"))
        .withColumn("lag", explode(expr("sequence(0, 7)")))
        .withColumn("_bday", expr("date_add(day, lag)"))
      val b = daily.select(col("event_type").as("tb"),
        col("day").as("_bday"), col("y").as("yv"))
      a.join(b, Seq("_bday")).filter(col("ta") =!= col("tb"))
        .groupBy("ta", "tb", "lag")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("yv").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * yv")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(yv AS DECIMAL(38,0)) * yv")).as("syy"))
        .withColumn("_cov", expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .withColumn("_vx", expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("_vy", expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
        .select(col("ta"), col("tb"), col("lag"), col("n"),
          expr("CAST(_cov AS BIGINT)").as("cov_num"),
          expr("""CASE WHEN _vx = 0 OR _vy = 0 THEN NULL ELSE
            CAST((CASE WHEN _cov < 0 THEN -1 ELSE 1 END) *
              ((CAST(1000000000000 AS DECIMAL(38,0)) * _cov * _cov)
               div (_vx * _vy)) AS BIGINT) END""").as("corr2_pico"))
        .orderBy("ta", "tb", "lag")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
               a.y AS x, b.y AS yv
        FROM daily a
        CROSS JOIN (SELECT unnest(range(0, 8)) AS lag) l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
                    AND b.event_type <> a.event_type),
      agg AS (
        SELECT ta, tb, lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * yv) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(yv AS HUGEINT) * yv) AS syy
        FROM lagged GROUP BY 1, 2, 3),
      cv AS (
        SELECT ta, tb, lag, n,
               CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vx,
               CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vy
        FROM agg)
      SELECT ta, tb, CAST(lag AS INT) AS lag, n,
             CAST(cov AS BIGINT) AS cov_num,
             CASE WHEN vx = 0 OR vy = 0 THEN NULL ELSE
               CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
                 ((CAST(1000000000000 AS HUGEINT) * cov * cov)
                  // (vx * vy)) AS BIGINT) END AS corr2_pico
      FROM cv ORDER BY ta, tb, lag"""))

  // --------------------------------------------------------------- q219

  /** q219 — top journey trigrams (sequential pattern mining, the
    * contiguous-window slice): the 20 most common consecutive
    * 3-event-type sequences across user journeys, with how many
    * distinct users exhibit each — the order-2 extension of q208's
    * transition matrix and the cheap first pass of PrefixSpan-style
    * funnels ("view→click→purchase happens 4× more than
    * click→view→purchase").
    *
    * Scale: two lead windows on the same user-keyed sort (ONE
    * shuffle — both leads share the window frame), a ≤|types|³
    * groupBy, and a top-20 that compiles to TakeOrderedAndProject
    * (per-partition heaps, no global sort). Tie-break is total
    * (support desc, then the three types).
    */
  val q219 = Q("q219_journey_trigrams",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("t2", lead(col("event_type"), 1).over(wu))
        .withColumn("t3", lead(col("event_type"), 2).over(wu))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("t2").as("s2"), col("t3").as("s3"))
        .agg(count(lit(1)).as("support"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("support").desc, col("s1"), col("s2"), col("s3"))
        .limit(20)
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      tri AS (SELECT user_id, event_type AS s1,
                     lead(event_type, 1) OVER w AS s2,
                     lead(event_type, 2) OVER w AS s3
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      g AS (SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS support,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM tri WHERE s3 IS NOT NULL GROUP BY 1, 2, 3)
      SELECT s1, s2, s3, support, n_users
      FROM g ORDER BY support DESC, s1, s2, s3 LIMIT 20"""))

  // --------------------------------------------------------------- q220

  /** q220 — rolling 7-day active users (WAU) with same-day DAU and the
    * DAU/WAU stickiness ratio: the canonical engagement rollup, done
    * EXACTLY — a rolling COUNT DISTINCT is not a windowed sum, so the
    * scale-safe shape is the interval-explode: each distinct
    * (user, active-day) contributes to the 7 window-end days it
    * supports, and the per-day count of distinct contributors is a
    * plain groupBy. Blow-up factor = window length (bounded, 7×), one
    * dedup shuffle + one count shuffle — never a per-day re-scan of
    * the trailing week and never a corpus-global window.
    *
    * Only days with a full trailing window emit (day ≥ min_day+6), and
    * only days that actually appear in the data (the DAU inner join),
    * so the output is deterministic. Stickiness is (1e6·dau) div wau —
    * non-negative integers.
    */
  val q220 = Q("q220_rolling_actives",
    (s, dir) => {
      val ud = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val wau = ud
        .withColumn("_i", explode(expr("sequence(0, 6)")))
        .select(col("user_id"), expr("date_add(day, _i)").as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau7"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val lo = ud.agg(min("day").as("_lo"))
      dau.join(wau, Seq("day")).crossJoin(broadcast(lo))
        .filter(expr("day >= date_add(_lo, 6)"))
        .select(col("day"), col("dau"), col("wau7"),
          expr("(1000000 * dau) div wau7").as("stickiness_micro"))
        .orderBy("day")
    },
    Some("""
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      ends AS (
        SELECT DISTINCT user_id, day + CAST(u.i AS INT) AS day
        FROM ud, unnest(range(0, 7)) AS u(i)),
      wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau7 FROM ends GROUP BY 1),
      dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
      lo AS (SELECT min(day) AS lo FROM ud)
      SELECT d.day, d.dau, w.wau7,
             (1000000 * d.dau) // w.wau7 AS stickiness_micro
      FROM dau d JOIN wau w ON d.day = w.day CROSS JOIN lo
      WHERE d.day >= lo.lo + 6
      ORDER BY d.day"""))

  // --------------------------------------------------------------- q227

  /** q227 — time-to-convert distribution per signup-week cohort:
    * hours from a user's first view to their first purchase, rolled
    * up to the cohort's exact median and p90 — the funnel-latency
    * report behind "how long does activation take, and is it
    * drifting across cohorts".
    *
    * Exactness: quantiles come from the bounded distinct-value CDF
    * (q125's recipe) — per-cohort (tt_hours, count) grid, running
    * cumulative, median = smallest t with 2·cum ≥ n, p90 = smallest t
    * with 10·cum ≥ 9·n — no percentile() interpolation semantics to
    * reconcile between engines, everything integer. Cohort weeks
    * truncate Monday-start in both engines.
    *
    * Scale: two filtered groupBy(user) mins, one join, a
    * (cohort, hour) grid rollup, and windows partitioned BY COHORT
    * over ≤ distinct-hours rows.
    */
  val q227 = Q("q227_time_to_convert",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("_sec"))
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("_sec").as("v"))
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("_sec").as("p"))
      val conv = fv.join(fp, Seq("user_id")).filter(col("p") > col("v"))
        .select(
          expr("CAST(date_trunc('week', to_date(timestamp_seconds(v))) AS DATE)").as("cohort"),
          expr("(p - v) div 3600").as("tt_h"))
      val grid = conv.groupBy("cohort", "tt_h").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("cohort").orderBy("tt_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("cohort")
      grid
        .withColumn("_cum", sum("c").over(wc))
        .withColumn("_n", sum("c").over(wn))
        .groupBy("cohort")
        .agg(max("_n").as("n_converts"),
          min(when(lit(2) * col("_cum") >= col("_n"), col("tt_h"))).as("median_h"),
          min(when(lit(10) * col("_cum") >= lit(9) * col("_n"), col("tt_h"))).as("p90_h"))
        .orderBy("cohort")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      fv AS (SELECT user_id, min(sec) AS v FROM e
             WHERE event_type = 'view' GROUP BY 1),
      fp AS (SELECT user_id, min(sec) AS p FROM e
             WHERE event_type = 'purchase' GROUP BY 1),
      conv AS (SELECT CAST(date_trunc('week', CAST(to_timestamp(v) AS DATE)) AS DATE)
                        AS cohort,
                      (p - v) // 3600 AS tt_h
               FROM fv JOIN fp USING (user_id) WHERE p > v),
      grid AS (SELECT cohort, tt_h, CAST(count(*) AS BIGINT) AS c
               FROM conv GROUP BY 1, 2),
      cum AS (SELECT cohort, tt_h, c,
                     sum(c) OVER (PARTITION BY cohort ORDER BY tt_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(c) OVER (PARTITION BY cohort) AS n
              FROM grid)
      SELECT cohort, CAST(max(n) AS BIGINT) AS n_converts,
             min(CASE WHEN 2 * cum >= n THEN tt_h END) AS median_h,
             min(CASE WHEN 10 * cum >= 9 * n THEN tt_h END) AS p90_h
      FROM cum GROUP BY cohort ORDER BY cohort"""))

  // --------------------------------------------------------------- q228

  /** q228 — Markov next-event backtest: learn q208's transition
    * argmax on the FIRST 80% of the time range, score next-event
    * prediction accuracy on the LAST 20% — the in-SQL train/eval
    * harness that turns the transition matrix into a measured model
    * instead of a descriptive table (and the template for backtesting
    * any aggregate-derived predictor without leaving the engine).
    *
    * Leakage discipline: a pair belongs to train/test by BOTH events'
    * membership in the period — pairs straddling the cutoff are
    * DROPPED, not assigned (the temporal-split embargo rule, q123's
    * discipline at pair grain). Cutoff = min + 4·span div 5 from a
    * broadcast 1-row aggregate. Prediction ties break (cnt desc,
    * to_type asc) — total and mirrored in the oracle.
    */
  val q228 = Q("q228_markov_backtest",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val pairs = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_nt", lead(col("event_type"), 1).over(wu))
        .withColumn("_ns", lead(col("_sec"), 1).over(wu))
        .filter(col("_nt").isNotNull)
        .select(col("event_type").as("from_type"), col("_nt").as("to_type"),
          col("_sec").as("s1"), col("_ns").as("s2"))
      val bounds = pairs.agg(min("s1").as("_lo"), max("s2").as("_hi"))
        .select(expr("_lo + 4 * (_hi - _lo) div 5").as("_cut"))
      val tagged = pairs.crossJoin(broadcast(bounds))
      val pred = tagged.filter(col("s2") < col("_cut"))
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
        .withColumn("_rk", row_number().over(
          Window.partitionBy("from_type").orderBy(col("cnt").desc, col("to_type").asc)))
        .filter(col("_rk") === 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      tagged.filter(col("s1") >= col("_cut"))
        .join(pred, Seq("from_type"))
        .groupBy("from_type", "predicted")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("from_type"), col("predicted"), col("n_test"), col("n_correct"),
          expr("(1000000 * n_correct) div n_test").as("acc_micro"))
        .orderBy("from_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      p AS (SELECT event_type AS from_type,
                   lead(event_type) OVER w AS to_type,
                   sec AS s1, lead(sec) OVER w AS s2
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      pp AS (SELECT * FROM p WHERE to_type IS NOT NULL),
      cut AS (SELECT min(s1) + 4 * (max(s2) - min(s1)) // 5 AS cut FROM pp),
      tr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
             FROM pp, cut WHERE s2 < cut GROUP BY 1, 2),
      pred AS (SELECT from_type, to_type AS predicted FROM (
                 SELECT from_type, to_type, row_number() OVER (
                   PARTITION BY from_type ORDER BY cnt DESC, to_type ASC) AS rk
                 FROM tr) WHERE rk = 1),
      te AS (SELECT pp.from_type, pp.to_type FROM pp, cut WHERE pp.s1 >= cut)
      SELECT te.from_type, pred.predicted,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN te.to_type = pred.predicted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
             (1000000 * CAST(sum(CASE WHEN te.to_type = pred.predicted THEN 1 ELSE 0 END) AS BIGINT))
               // count(*) AS acc_micro
      FROM te JOIN pred ON te.from_type = pred.from_type
      GROUP BY te.from_type, pred.predicted
      ORDER BY te.from_type"""))

  // --------------------------------------------------------------- q229

  /** q229 — rolling 7-day exact median of each event_type's daily
    * volume: the robust companion to q213's moving-average trend — a
    * single spike day drags a mean but leaves the median still, which
    * is why monitoring baselines prefer it. The window holds exactly
    * 7 values (full windows only), so the median is the 4th order
    * statistic — exact integer, no interpolation semantics to
    * reconcile. Windows partition BY TYPE over days — bounded.
    */
  val q229 = Q("q229_rolling_median",
    (s, dir) => {
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("_w", count(lit(1)).over(w7))
        .withColumn("med7", element_at(sort_array(collect_list(col("y")).over(w7)), 4))
        .filter(col("_w") === 7)
        .select("event_type", "day", "y", "med7")
        .orderBy("event_type", "day")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      r AS (SELECT event_type, day, y,
                   count(*) OVER w AS wn,
                   list_sort(list(y) OVER w)[4] AS med7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      SELECT event_type, day, y, med7
      FROM r WHERE wn = 7 ORDER BY event_type, day"""))

  // --------------------------------------------------------------- q233

  /** q233 — session entry/exit profile: for every (entry event type,
    * exit event type) pair, how many of q55's 30-minute-gap sessions
    * start and end that way, how many are single-event bounces, and
    * each cell's share within its entry type — the landing/exit-page
    * analysis that tells a funnel owner where journeys begin and
    * where they die.
    *
    * Determinism: entry/exit are the min/max of the session's
    * (second, event_id) total order, extracted via min/max on the
    * packed struct — tie-free. One user-keyed window chain (q55's)
    * plus two bounded rollups; shares are exact integer micro.
    */
  val q233 = Q("q233_session_entry_exit",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      val sess = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_gap", col("_sec") - lag(col("_sec"), 1).over(wu))
        .withColumn("_new", when(col("_gap").isNull || col("_gap") > 1800, 1L).otherwise(0L))
        .withColumn("_sid", sum(col("_new")).over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "_sid")
        .agg(min(struct(col("_sec"), col("event_id"), col("event_type"))).as("_first"),
          max(struct(col("_sec"), col("event_id"), col("event_type"))).as("_last"),
          count(lit(1)).as("_n"))
      val grid = sess.groupBy(col("_first.event_type").as("entry_type"),
          col("_last.event_type").as("exit_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("_n") === 1, 1L).otherwise(0L)).as("n_bounce"))
      val tot = grid.groupBy("entry_type").agg(sum("n_sessions").as("_te"))
      grid.join(broadcast(tot), Seq("entry_type"))
        .select(col("entry_type"), col("exit_type"), col("n_sessions"),
          col("n_bounce"),
          expr("(1000000 * n_sessions) div _te").as("share_micro"))
        .orderBy("entry_type", "exit_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      g AS (SELECT user_id, event_id, event_type, sec,
                   CASE WHEN sec - lag(sec) OVER w > 1800
                          OR lag(sec) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      sid AS (SELECT user_id, event_id, event_type, sec,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM g),
      sess AS (SELECT user_id, sid,
                      min(struct_pack(sec := sec, eid := event_id,
                                      et := event_type)) AS first_e,
                      max(struct_pack(sec := sec, eid := event_id,
                                      et := event_type)) AS last_e,
                      count(*) AS n
               FROM sid GROUP BY 1, 2),
      grid AS (SELECT first_e['et'] AS entry_type,
                      last_e['et'] AS exit_type,
                      CAST(count(*) AS BIGINT) AS n_sessions,
                      CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce
               FROM sess GROUP BY 1, 2),
      tot AS (SELECT entry_type, CAST(sum(n_sessions) AS BIGINT) AS te
              FROM grid GROUP BY 1)
      SELECT g.entry_type, g.exit_type, g.n_sessions, g.n_bounce,
             (1000000 * g.n_sessions) // t.te AS share_micro
      FROM grid g JOIN tot t ON g.entry_type = t.entry_type
      ORDER BY g.entry_type, g.exit_type"""))

  // --------------------------------------------------------------- q235

  /** q235 — point-in-time-correct training-set assembly for churn
    * prediction: per user, features computed ONLY from events strictly
    * before the cutoff (activity counts in trailing 7/30-day windows,
    * recency, purchase value mass) and a purchases-in-the-next-3-days label (short enough that both classes exist at every test scale) — the feature-store discipline that makes a supervised table
    * leakage-free by construction (every feature timestamp < cutoff ≤
    * every label timestamp; no row mixes the two).
    *
    * Scale: one filtered groupBy(user) for features (conditional
    * aggregates, map-side partials), one for labels, one left join on
    * user. The cutoff (min + 3·span div 5) comes from a broadcast
    * 1-row aggregate. All integer arithmetic.
    */
  val q235 = Q("q235_churn_features",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts").cast("long").as("_sec"))
      val cut = ev.agg(min("_sec").as("_lo"), max("_sec").as("_hi"))
        .select(expr("_lo + 3 * (_hi - _lo) div 5").as("_cut"))
      val tagged = ev.crossJoin(broadcast(cut))
      val feats = tagged.filter(col("_sec") < col("_cut"))
        .groupBy("user_id")
        .agg(
          sum(when(col("_sec") >= col("_cut") - 7L * 86400, 1L).otherwise(0L)).as("n_7d"),
          sum(when(col("_sec") >= col("_cut") - 30L * 86400, 1L).otherwise(0L)).as("n_30d"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L)).as("purchase_cents"),
          max("_sec").as("_last"))
      val labels = tagged
        .filter(col("event_type") === "purchase" &&
          col("_sec") >= col("_cut") && col("_sec") < col("_cut") + 3L * 86400)
        .select("user_id").distinct().withColumn("label", lit(1L))
      feats.crossJoin(broadcast(cut))
        .withColumn("recency_h", expr("(_cut - _last) div 3600"))
        .join(labels, Seq("user_id"), "left")
        .select(col("user_id"), col("n_7d"), col("n_30d"), col("purchase_cents"),
          col("recency_h"), coalesce(col("label"), lit(0L)).as("label"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, value,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      cut AS (SELECT min(sec) + 3 * (max(sec) - min(sec)) // 5 AS cut FROM e),
      f AS (SELECT user_id,
                   CAST(sum(CASE WHEN sec >= cut - 7 * 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
                   CAST(sum(CASE WHEN sec >= cut - 30 * 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_30d,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
                     AS purchase_cents,
                   (cut - max(sec)) // 3600 AS recency_h
            FROM e, cut WHERE sec < cut GROUP BY user_id, cut),
      l AS (SELECT DISTINCT user_id FROM e, cut
            WHERE event_type = 'purchase'
              AND sec >= cut AND sec < cut + 3 * 86400)
      SELECT f.user_id, f.n_7d, f.n_30d, f.purchase_cents, f.recency_h,
             CAST(CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS label
      FROM f LEFT JOIN l ON f.user_id = l.user_id
      ORDER BY f.user_id"""))

  // --------------------------------------------------------------- q236

  /** q236 — skip-gram journey patterns: (a, *, b) pairs — event types
    * two steps apart, one arbitrary step between — per user journey,
    * top-20 by support with the contiguous-pair baseline riding
    * along. Non-contiguous patterns are what separate sequential
    * pattern mining from q208's adjacency: "view … purchase with ONE
    * detour" survives noise a strict bigram misses.
    *
    * One lead(2) window on the same user-keyed sort as q208/q219
    * (shared shuffle shape), ≤|types|² rollup, TakeOrderedAndProject
    * top-20 with a total tie-break.
    */
  val q236 = Q("q236_skipgram_patterns",
    (s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy(col("_sec").asc, col("event_id").asc)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("_sec"))
        .withColumn("_skip", lead(col("event_type"), 2).over(wu))
        .filter(col("_skip").isNotNull)
        .groupBy(col("event_type").as("a"), col("_skip").as("b"))
        .agg(count(lit(1)).as("support"),
          countDistinct("user_id").as("n_users"))
        .orderBy(col("support").desc, col("a"), col("b"))
        .limit(20)
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) // 1000000 AS sec FROM events),
      sg AS (SELECT user_id, event_type AS a,
                    lead(event_type, 2) OVER (PARTITION BY user_id
                      ORDER BY sec ASC, event_id ASC) AS b
             FROM e),
      g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM sg WHERE b IS NOT NULL GROUP BY 1, 2)
      SELECT a, b, support, n_users
      FROM g ORDER BY support DESC, a, b LIMIT 20"""))

  // --------------------------------------------------------------- q293

  /** q293 — exact Shapley-value channel attribution: each user's
    * touched-channel set (click/error/signup/view, a 4-bit mask) and
    * converted flag (any purchase) define the empirical coalition
    * value v(T) = conversion rate of users touching exactly T; each
    * channel's Shapley credit is Σ_T w(|T|)·(v(T∪i)−v(T)) with the
    * classic s!(n−1−s)!/n! weights — the game-theoretic attribution
    * q206's positional rules approximate, fair by construction
    * (efficiency/symmetry axioms).
    *
    * Scale shape: ONE grouped pass builds per-user masks (bit-sum of
    * distinct-type flags), one rollup gives the ≤2⁴-row coalition
    * table; the Shapley sum is a 32-row literal (channel, subset)
    * frame joined twice against the broadcast coalition table.
    * Rates are micro-quantized once; weights are exact 24ths, so the
    * final value is one double division of exact integers.
    */
  val q293 = Q("q293_shapley_attribution",
    (s, dir) => {
      import s.implicits._
      val bits = Seq(("click", 1), ("error", 2), ("signup", 4), ("view", 8))
      val masks = Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(bits.map { case (t, b) =>
            max(when(col("event_type") === t, b).otherwise(0))
          }.reduce(_ + _).as("mask"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val cells = masks.groupBy("mask")
        .agg(count(lit(1)).as("nu"), sum("conv").as("nc"))
        .select(col("mask"),
          expr("CAST((2 * nc * 1000000 + nu) DIV (2 * nu) AS BIGINT)").as("v_u"))
      val pairs = for ((name, b) <- bits; t <- 0 until 16; if (t & b) == 0)
        yield (name, t, t | b, Integer.bitCount(t))
      val frame = pairs.toDF("channel", "t_mask", "ti_mask", "t_size")
      frame
        .join(broadcast(cells.select(col("mask").as("t_mask"), col("v_u").as("v_t"))),
          Seq("t_mask"), "left")
        .join(broadcast(cells.select(col("mask").as("ti_mask"), col("v_u").as("v_ti"))),
          Seq("ti_mask"), "left")
        .select(col("channel"),
          (when(col("t_size") === 0, 6L).when(col("t_size") === 3, 6L).otherwise(2L)
            * (coalesce(col("v_ti"), lit(0L)) - coalesce(col("v_t"), lit(0L))))
            .as("term24u"))
        .groupBy("channel").agg(sum("term24u").as("s24u"))
        // /24 lands on half-micros (s24u ≡ 12 mod 24) — round via the
        // sign-symmetric integer division, not a double (q201's rdiv)
        .select(col("channel"), col("s24u"),
          round(expr("""CASE WHEN s24u < 0 THEN -((-s24u + 12) DIV 24)
                        ELSE (s24u + 12) DIV 24 END""").cast("double") / 1e6, 6)
            .as("shapley"))
        .orderBy("channel")
    },
    Some("""
      WITH bits(t, b) AS (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)),
      masks AS (SELECT user_id,
                       CAST(coalesce(sum(DISTINCT b), 0) AS BIGINT) AS mask,
                       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
                FROM events LEFT JOIN bits ON event_type = t
                GROUP BY user_id),
      cells AS (SELECT mask, CAST((2 * CAST(sum(conv) AS BIGINT) * 1000000
                                   + count(*)) // (2 * count(*)) AS BIGINT) AS v_u
                FROM masks GROUP BY mask),
      frame AS (SELECT t AS channel, b, tm.range AS t_mask,
                       tm.range | b AS ti_mask, bit_count(tm.range) AS t_size
                FROM bits, range(16) tm
                WHERE (tm.range & b) = 0)
      , terms AS (SELECT channel,
                    CAST(sum(CASE WHEN t_size IN (0, 3) THEN 6 ELSE 2 END
                             * (coalesce(vi.v_u, 0) - coalesce(vt.v_u, 0))) AS BIGINT)
                      AS s24u
             FROM frame
             LEFT JOIN cells vt ON frame.t_mask = vt.mask
             LEFT JOIN cells vi ON frame.ti_mask = vi.mask
             GROUP BY channel)
      SELECT channel, s24u,
             round(CAST(CASE WHEN s24u < 0 THEN -((-s24u + 12) // 24)
                        ELSE (s24u + 12) // 24 END AS DOUBLE) / 1e6, 6) AS shapley
      FROM terms ORDER BY channel"""))

  // --------------------------------------------------------------- q294

  /** q294 — dynamic time warping distance between every pair of
    * event-type daily-volume series: the elastic-alignment distance
    * ("are these two activity curves the same shape, allowing local
    * time shifts?") behind series clustering and template matching,
    * where lead-lag xcorr (q215) only handles one GLOBAL shift.
    *
    * The full O(n·m) DP runs task-local per pair as a nested
    * aggregate fold (outer over series A, inner building each dp row
    * left-to-right — the column recurrence is inherently sequential,
    * so an array fold IS the right shape); costs and dp states are
    * exact longs, so dtw is an exact integer both engines replay.
    * The parallel axis is ACROSS pairs: a fleet of millions of series
    * pairs fans out one task each, state O(series length) — never
    * O(n·m) memory (only two rows live).
    */
  val q294 = Q("q294_dtw_pairs",
    (s, dir) => {
      val big = "CAST(9000000000000000 AS BIGINT)"
      val arr = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .groupBy("event_type")
        .agg(expr("transform(sort_array(collect_list(struct(day, y))), e -> e.y)").as("ys"))
      val pairs = arr.select(col("event_type").as("ta"), col("ys").as("ya"))
        .join(broadcast(arr.select(col("event_type").as("tb"), col("ys").as("yb"))),
          col("ta") < col("tb"))
      pairs.select(col("ta"), col("tb"),
        size(col("ya")).as("n_a"), size(col("yb")).as("n_b"),
        expr(s"""
          element_at(
            aggregate(
              ya,
              concat(array(CAST(0 AS BIGINT)), transform(yb, x -> $big)),
              (acc, av) -> aggregate(
                yb,
                array($big),
                (racc, bv) -> concat(racc, array(
                  abs(av - bv) + least(
                    element_at(acc, size(racc) + 1),
                    element_at(acc, size(racc)),
                    element_at(racc, size(racc))))))),
            size(yb) + 1)""").as("dtw"))
        .orderBy("ta", "tb")
    },
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            CAST(count(*) AS BIGINT) AS y
                     FROM events GROUP BY 1, 2),
      arr AS (SELECT event_type, list(y ORDER BY day) AS ys
              FROM daily GROUP BY 1),
      pairs AS (SELECT a.event_type AS ta, a.ys AS ya,
                       b.event_type AS tb, b.ys AS yb
                FROM arr a JOIN arr b ON a.event_type < b.event_type)
      SELECT ta, tb,
             CAST(len(ya) AS INTEGER) AS n_a, CAST(len(yb) AS INTEGER) AS n_b,
             list_reduce(
               list_prepend(
                 list_prepend(0::BIGINT,
                   list_transform(yb, x -> 9000000000000000::BIGINT)),
                 list_transform(ya, v -> [v])),
               (acc, ax) -> list_reduce(
                 list_prepend([9000000000000000::BIGINT],
                   list_transform(yb, v -> [v])),
                 (racc, bx) -> list_append(racc,
                   abs(ax[1] - bx[1]) + least(acc[len(racc) + 1], acc[len(racc)],
                                              racc[len(racc)]))))
             [len(yb) + 1] AS dtw
      FROM pairs ORDER BY ta, tb"""))

  // --------------------------------------------------------------- q301

  /** q301 — Holt-Winters additive seasonal smoothing (α=0.5 β=0.3
    * γ=0.3, weekly period) over each event_type's daily volume: q201's
    * level+trend forecaster plus the 7-slot seasonal state that makes
    * "is Monday's dip normal?" answerable — the standard seasonal
    * pipeline-volume monitor.
    *
    * Determinism is q201's recipe extended to the seasonal vector:
    * every recurrence runs on 1e6-scaled longs with the
    * sign-symmetric round-half-away division (seasonal deviations go
    * negative), so the whole (level, trend, s[0..6]) state is integer
    * and the oracle replays the recursion as a RECURSIVE CTE carrying
    * the seasonal LIST. Slots key on epoch-day mod 7 (Spark and
    * DuckDB disagree on dayofweek numbering), init is the first-7-row
    * mean + per-slot deviations (last row wins per slot via max_by,
    * identical both engines), and the fold starts at row 8.
    * Scale: parallel ACROSS keys, one task-local fold per series.
    */
  val q301 = Q("q301_holt_winters",
    (s, dir) => {
      val d = rdiv10(_: String, "DIV")
      val sOld = "element_at(acc.s, e.slot + 1)"
      val nlv = d(s"5 * (e.y * 1000000 - $sOld) + 5 * (acc.lv + acc.tr)")
      val ntr = d(s"3 * ($nlv - acc.lv) + 7 * acc.tr")
      val snew = d(s"3 * (e.y * 1000000 - $nlv) + 7 * $sOld")
      val hw = s"""
        aggregate(
          ys,
          named_struct('lv', lv0, 'tr', CAST(0 AS BIGINT), 's', s0,
            'out', CAST(array() AS ARRAY<STRUCT<day: DATE, y: BIGINT, lv: BIGINT,
                                               tr: BIGINT, su: BIGINT, err: BIGINT>>)),
          (acc, e) -> named_struct(
            'lv', $nlv, 'tr', $ntr,
            's', transform(sequence(1, 7),
                   k -> IF(k = e.slot + 1, $snew, element_at(acc.s, k))),
            'out', concat(acc.out, array(named_struct(
              'day', e.day, 'y', e.y, 'lv', $nlv, 'tr', $ntr, 'su', $sOld,
              'err', e.y * 1000000 - (acc.lv + acc.tr + $sOld))))),
          acc -> acc.out)"""
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("slot",
          expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("day")))
        .localCheckpoint(false) // init rows + fold rows
      val lv0 = daily.filter(col("rn") <= 7).groupBy("event_type")
        .agg(expr("CAST((2 * sum(y) * 1000000 + 7) DIV 14 AS BIGINT)").as("lv0"))
      val init = daily.filter(col("rn") <= 7)
        .groupBy("event_type", "slot").agg(expr("max_by(y, rn)").as("yy"))
        .join(lv0, Seq("event_type"))
        .groupBy(col("event_type"), col("lv0"))
        .agg(array((0 to 6).map(k =>
          coalesce(max(when(col("slot") === k, col("yy"))) * 1000000L - col("lv0"),
            lit(0L))): _*).as("s0"))
      val folded = daily.filter(col("rn") >= 8)
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("y"), col("slot")))).as("ys"))
        .join(init, Seq("event_type"))
        .select(col("event_type"), explode(expr(hw)).as("r"))
      folded.select(col("event_type"), col("r.day").as("day"), col("r.y").as("y"),
          col("r.lv").as("level_micro"), col("r.tr").as("trend_micro"),
          col("r.su").as("seasonal_micro"), col("r.err").as("err_micro"))
        .orderBy("event_type", "day")
    },
    Some {
      val d = rdiv10(_: String, "//")
      val sOld = "h.s[x.slot + 1]"
      val nlv = d(s"5 * (x.y * 1000000 - $sOld) + 5 * (h.lv + h.tr)")
      val ntr = d(s"3 * ($nlv - h.lv) + 7 * h.tr")
      val snew = d(s"3 * (x.y * 1000000 - $nlv) + 7 * $sOld")
      val sInit = (0 to 6).map(k =>
        s"coalesce(max(CASE WHEN slot = $k THEN yy END) * 1000000 - lv.lv0, 0)")
        .mkString("[", ",\n           ", "]")
      s"""
      WITH RECURSIVE
      daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS y
                FROM events GROUP BY 1, 2),
      ix AS (SELECT event_type, day, y,
                    CAST((day - DATE '1970-01-01') % 7 AS INTEGER) AS slot,
                    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
             FROM daily),
      lv AS (SELECT event_type,
                    CAST((2 * CAST(sum(y) AS BIGINT) * 1000000 + 7) // 14 AS BIGINT) AS lv0
             FROM ix WHERE rn <= 7 GROUP BY 1),
      sm AS (SELECT event_type, slot, max_by(y, rn) AS yy
             FROM ix WHERE rn <= 7 GROUP BY 1, 2),
      init AS (SELECT lv.event_type, lv.lv0,
          $sInit AS s0
        FROM sm JOIN lv ON sm.event_type = lv.event_type
        GROUP BY lv.event_type, lv.lv0),
      h(event_type, rn, day, y, lv, tr, s, su, err) AS (
        SELECT event_type, 7, CAST(NULL AS DATE), CAST(NULL AS BIGINT),
               lv0, CAST(0 AS BIGINT), s0,
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        FROM init
        UNION ALL
        SELECT x.event_type, x.rn, x.day, x.y,
               $nlv, $ntr,
               list_transform(range(1, 8),
                 k -> CASE WHEN k = x.slot + 1 THEN $snew ELSE h.s[k] END),
               $sOld,
               x.y * 1000000 - (h.lv + h.tr + $sOld)
        FROM h JOIN ix x ON x.event_type = h.event_type AND x.rn = h.rn + 1)
      SELECT event_type, day, y, lv AS level_micro, tr AS trend_micro,
             su AS seasonal_micro, err AS err_micro
      FROM h WHERE rn >= 8 ORDER BY event_type, day"""
    })

  /** 4×4 determinant as the explicit 24-term permutation expansion over
    * named entries — `ent(i, j)` supplies the entry text, `bigCast`
    * wraps each term's first factor so products ride DECIMAL/HUGEINT
    * (entry magnitudes ~1e5 ⇒ 4-products ~1e21, past BIGINT). Shared
    * by the Spark plan and the DuckDB oracle so both engines evaluate
    * the IDENTICAL integer polynomial.
    */
  private def det4(ent: (Int, Int) => String, bigCast: String => String): String = {
    val perms = Seq(1, 2, 3, 4).permutations.toSeq
    def sign(p: Seq[Int]): Int = {
      var s = 1
      for (i <- p.indices; j <- i + 1 until p.length; if p(i) > p(j)) s = -s
      s
    }
    perms.map { p =>
      val term = (1 to 4).map(i => if (i == 1) bigCast(ent(1, p(0)))
        else ent(i, p(i - 1))).mkString(" * ")
      (if (sign(p) > 0) " + " else " - ") + s"($term)"
    }.mkString("(", "", ")")
  }

  // --------------------------------------------------------------- q302

  /** q302 — absorbing-Markov expected steps to conversion: model the
    * four browsing states (click/error/signup/view) as transient and
    * purchase as absorbing; from the per-user consecutive-event
    * transition counts, the expected number of steps to absorption
    * from state i solves (diag(r) − C)·t = r — the fundamental-matrix
    * answer ("how many more events until this user buys?") that q208's
    * raw transition matrix only hints at.
    *
    * EXACT, no iteration and no float inverse: clearing Q = C/r row
    * denominators makes M = diag(r) − C an INTEGER matrix, Cramer's
    * rule gives t_i = det(M_i)/det(M) as ratios of exact integer
    * 4×4 determinants (24-term expansion, DECIMAL/HUGEINT products,
    * generated from ONE Scala helper for both engines), and the
    * 6-dp output rounds via (2a+d) div 2d. The distributed part is
    * one lead-window pass for pairs + a 25-cell rollup; the algebra
    * is a 1-row computation.
    */
  val q302 = Q("q302_absorbing_markov",
    (s, dir) => {
      val states = Seq("click", "error", "signup", "view")
      val pairs = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type").as("src"),
          lead(col("event_type"), 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
            .as("dst"))
        .filter(col("dst").isNotNull && col("src").isin(states: _*))
      val cells = pairs.groupBy("src", "dst").agg(count(lit(1)).as("c"))
      def cOf(i: Int, j: Int) =
        s"coalesce(max(CASE WHEN src = '${states(i - 1)}' AND dst = '${states(j - 1)}' THEN c END), 0)"
      def rOf(i: Int) = s"sum(CASE WHEN src = '${states(i - 1)}' THEN c ELSE 0 END)"
      val wide = cells.selectExpr(
        ((for (i <- 1 to 4; j <- 1 to 4) yield s"CAST(${cOf(i, j)} AS BIGINT) AS c$i$j")
          ++ (1 to 4).map(i => s"CAST(${rOf(i)} AS BIGINT) AS r$i")): _*)
      def m(i: Int, j: Int) = if (i == j) s"(r$i - c$i$j)" else s"(0 - c$i$j)"
      def mi(k: Int)(i: Int, j: Int) = if (j == k) s"r$i" else m(i, j)
      val cast = (x: String) => s"CAST($x AS DECIMAL(38,0))"
      val detM = det4(m, cast)
      val exprs = (1 to 4).map { k =>
        val dk = det4(mi(k), cast)
        s"""round(CAST(CAST((2 * $dk * 1000000 + $detM) div (2 * $detM) AS BIGINT)
            AS DOUBLE) / 1e6, 6) AS steps_${states(k - 1)}"""
      }
      wide.selectExpr((Seq("r1 + r2 + r3 + r4 AS n_transitions") ++ exprs): _*)
    },
    Some {
      val states = Seq("click", "error", "signup", "view")
      def cOf(i: Int, j: Int) =
        s"coalesce(max(CASE WHEN src = '${states(i - 1)}' AND dst = '${states(j - 1)}' THEN c END), 0)"
      def rOf(i: Int) = s"sum(CASE WHEN src = '${states(i - 1)}' THEN c ELSE 0 END)"
      def m(i: Int, j: Int) = if (i == j) s"(r$i - c$i$j)" else s"(0 - c$i$j)"
      def mi(k: Int)(i: Int, j: Int) = if (j == k) s"r$i" else m(i, j)
      val cast = (x: String) => s"CAST($x AS HUGEINT)"
      val detM = det4(m, cast)
      val sel = (1 to 4).map { k =>
        val dk = det4(mi(k), cast)
        s"""round(CAST(CAST((2 * $dk * 1000000 + $detM) // (2 * $detM) AS BIGINT)
            AS DOUBLE) / 1e6, 6) AS steps_${states(k - 1)}"""
      }.mkString(",\n             ")
      val ccols = (for (i <- 1 to 4; j <- 1 to 4)
        yield s"CAST(${cOf(i, j)} AS BIGINT) AS c$i$j").mkString(",\n               ")
      val rcols = (1 to 4).map(i => s"CAST(${rOf(i)} AS BIGINT) AS r$i")
        .mkString(",\n               ")
      s"""
      WITH p AS (SELECT user_id, event_type AS src,
                        lead(event_type, 1) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS dst
                 FROM events),
      cells AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
                FROM p WHERE dst IS NOT NULL
                  AND src IN ('click', 'error', 'signup', 'view')
                GROUP BY 1, 2),
      wide AS (SELECT $ccols,
               $rcols
               FROM cells)
      SELECT r1 + r2 + r3 + r4 AS n_transitions,
             $sel
      FROM wide"""
    })

  // --------------------------------------------------------------- q313

  /** q313 — Allen interval-algebra census: per user, each event
    * type's activity interval [min ts, max ts]; for every ordered
    * type pair the pair's temporal relation under Allen's 13-relation
    * algebra (before/meets/overlaps/starts/during/finishes, their
    * inverses, equals) — the exhaustive, mutually-exclusive vocabulary
    * for "how do two activity spans relate", underneath every
    * temporal-reasoning and overlap-analysis job (q102's interval
    * self-join asks ONE of these relations; this classifies them
    * all).
    *
    * Exactness: pure microsecond-timestamp comparisons, zero
    * arithmetic. The pair fan-out is the q307 in-group combination
    * shape — bounded by the 5-type vocabulary (≤10 pairs/user), never
    * all-pairs across users. The CASE ladder is branch-for-branch
    * identical in both engines, and its guard order makes the 13
    * branches exhaustive and mutually exclusive even for degenerate
    * point intervals (s = e).
    */
  val q313 = Q("q313_allen_relations",
    (s, dir) => {
      val relCase = """
        CASE WHEN s1 = s2 AND e1 = e2 THEN 'equals'
             WHEN e1 < s2 THEN 'before'
             WHEN e2 < s1 THEN 'after'
             WHEN e1 = s2 THEN 'meets'
             WHEN e2 = s1 THEN 'met_by'
             WHEN s1 = s2 AND e1 < e2 THEN 'starts'
             WHEN s1 = s2 THEN 'started_by'
             WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
             WHEN e1 = e2 THEN 'finished_by'
             WHEN s1 > s2 AND e1 < e2 THEN 'during'
             WHEN s1 < s2 AND e1 > e2 THEN 'contains'
             WHEN s1 < s2 THEN 'overlaps'
             ELSE 'overlapped_by' END"""
      Tables.load(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min("ts").as("st"), max("ts").as("en"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("event_type").as("t"),
          col("st"), col("en")))).as("xs"))
        .filter(size(col("xs")) >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(1, size(xs) - 1),
             i -> transform(slice(xs, i + 1, size(xs)),
                  b -> struct(element_at(xs, i).st AS s1, element_at(xs, i).en AS e1,
                              b.st AS s2, b.en AS e2))))""")).as("p"))
        .select(col("p.s1").as("s1"), col("p.e1").as("e1"),
          col("p.s2").as("s2"), col("p.e2").as("e2"))
        .select(expr(relCase).as("rel"))
        .groupBy("rel").agg(count(lit(1)).as("cnt"))
        .orderBy("rel")
    },
    Some("""
      WITH iv AS (SELECT user_id, event_type AS t, min(ts) AS st, max(ts) AS en
                  FROM events GROUP BY 1, 2),
      pr AS (SELECT a.st AS s1, a.en AS e1, b.st AS s2, b.en AS e2
             FROM iv a JOIN iv b ON a.user_id = b.user_id AND a.t < b.t),
      rels AS (SELECT
        CASE WHEN s1 = s2 AND e1 = e2 THEN 'equals'
             WHEN e1 < s2 THEN 'before'
             WHEN e2 < s1 THEN 'after'
             WHEN e1 = s2 THEN 'meets'
             WHEN e2 = s1 THEN 'met_by'
             WHEN s1 = s2 AND e1 < e2 THEN 'starts'
             WHEN s1 = s2 THEN 'started_by'
             WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
             WHEN e1 = e2 THEN 'finished_by'
             WHEN s1 > s2 AND e1 < e2 THEN 'during'
             WHEN s1 < s2 AND e1 > e2 THEN 'contains'
             WHEN s1 < s2 THEN 'overlaps'
             ELSE 'overlapped_by' END AS rel
        FROM pr)
      SELECT rel, CAST(count(*) AS BIGINT) AS cnt
      FROM rels GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q344

  /** q344 — unbiased pass@k (Chen et al. 2021, the HumanEval
    * estimator): the metric every code/reasoning eval harness
    * aggregates — per task, n sampled attempts with c successes give
    * `pass@k = 1 − C(n−c, k)/C(n, k)`, the probability a random
    * k-subset contains a success. The naive `1 − (1 − c/n)^k` is
    * biased; the combinatorial form is exact, and here it is computed
    * EXACTLY: the ratio telescopes to `Π_{i=0..k-1} (n−c−i)/(n−i)`,
    * whose numerator/denominator products are small integers
    * (n ≤ a few hundred → fits BIGINT with room), so `pass@k` lands
    * as micro-units by integer division — bit-identical on both
    * engines, no floats anywhere. Tasks = users, attempts = their
    * events, success = `event_id % 3 = 0` (integer rule, no
    * float-rounding hazard); tasks need n ≥ 5 so pass@5 is defined.
    * Scale shape: ONE map-side-combined groupBy on user_id, then
    * map-only arithmetic — the same plan at any corpus size.
    */
  val q344 = Q("q344_pass_at_k",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_id") % 3 === 0, 1L).otherwise(0L)).as("c"))
        .filter(col("n") >= 5)
        .withColumn("f", col("n") - col("c")) // failures
        .withColumn("pass1_micro",
          expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"))
        .withColumn("pass5_micro", expr(
          // promote to DECIMAL before the falling-factorial products: at
          // 100× a hot task's n⁵ would overflow BIGINT (ANSI error)
          """CAST(1000000 - CASE WHEN f < 5 THEN 0 ELSE
            |  (CAST(f AS DECIMAL(38,0)) * (f-1) * (f-2) * (f-3) * (f-4) * 1000000)
            |  div (CAST(n AS DECIMAL(38,0)) * (n-1) * (n-2) * (n-3) * (n-4))
            |  END AS BIGINT)""".stripMargin))
        .select("user_id", "n", "c", "pass1_micro", "pass5_micro")
        .orderBy("user_id")
    },
    Some("""
      WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS c
                 FROM events GROUP BY user_id HAVING count(*) >= 5),
      f AS (SELECT user_id, n, c, n - c AS f FROM t)
      SELECT user_id, n, c,
             CAST((CAST(c AS HUGEINT) * 1000000) // n AS BIGINT) AS pass1_micro,
             CAST(1000000 - CASE WHEN f < 5 THEN 0 ELSE
                    (CAST(f AS HUGEINT) * (f-1) * (f-2) * (f-3) * (f-4) * 1000000)
                    // (CAST(n AS HUGEINT) * (n-1) * (n-2) * (n-3) * (n-4))
                    END AS BIGINT)
               AS pass5_micro
      FROM f ORDER BY user_id"""))

  // --------------------------------------------------------------- q361

  /** q361 — speculative-decoding speedup model (Leviathan et al.
    * 2023): with per-token draft acceptance rate p and draft length
    * γ, one verify step emits `(1 − p^{γ+1}) / (1 − p)` tokens in
    * expectation — THE number a serving fleet uses to size a
    * draft-model deployment. Computed EXACTLY per task: p = c/n is
    * rational, so the geometric sum is the integer identity
    * `(n^{γ+1} − c^{γ+1}) · 10⁶ div (n^γ · (n − c))` in
    * DECIMAL(38,0) — bit-identical on both engines, no floats, and
    * the p = 1 pole handled as the exact limit γ+1. Tasks = users,
    * per-token acceptance = `event_id % 4 ≠ 0` (≈75%, a realistic
    * draft rate), γ = 4. Scale shape: q344's exact plan — ONE
    * map-side-combined groupBy then map-only arithmetic.
    */
  val q361 = Q("q361_spec_decode",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_id") % 4 =!= 0, 1L).otherwise(0L)).as("c"))
        .filter(col("n") >= 5)
        .withColumn("accept_micro",
          expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)"))
        .withColumn("exp_tokens_micro", expr(
          """CASE WHEN c = n THEN CAST(5000000 AS BIGINT) ELSE
            |  CAST(((CAST(n AS DECIMAL(38,0)) * n * n * n * n
            |         - CAST(c AS DECIMAL(38,0)) * c * c * c * c) * 1000000)
            |       div (CAST(n AS DECIMAL(38,0)) * n * n * n * (n - c))
            |    AS BIGINT) END""".stripMargin))
        .select("user_id", "n", "c", "accept_micro", "exp_tokens_micro")
        .orderBy("user_id")
    },
    Some("""
      WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS c
                 FROM events GROUP BY user_id HAVING count(*) >= 5)
      SELECT user_id, n, c,
             CAST((CAST(c AS HUGEINT) * 1000000) // n AS BIGINT) AS accept_micro,
             CAST(CASE WHEN c = n THEN 5000000 ELSE
                    ((CAST(n AS HUGEINT) * n * n * n * n
                      - CAST(c AS HUGEINT) * c * c * c * c) * 1000000)
                    // (CAST(n AS HUGEINT) * n * n * n * (n - c))
                  END AS BIGINT) AS exp_tokens_micro
      FROM t ORDER BY user_id"""))

  val all: Seq[Q] = Seq(q54, q55, q56, q57, q59, q60, q72, q118, q201, q205,
    q206, q208, q212, q213, q215, q219, q220, q227, q228, q229, q233, q235, q236,
    q293, q294, q301, q302, q313, q344, q361)
}
