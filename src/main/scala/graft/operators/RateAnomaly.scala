package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-rate anomaly detection — the ingest monitor that pages before a
  * bad crawl poisons a corpus: bucket the event stream per key into
  * fixed windows, then flag buckets whose count deviates from the
  * trailing baseline by more than `zThreshold` standard deviations
  * (the classic rolling z-score; the trailing frame EXCLUDES the
  * current bucket so a spike cannot mask itself).
  *
  * Plan: one map-side-combining `(key, bucket)` count aggregate — the
  * only corpus-sized exchange, same budget as any windowed count —
  * then a per-key ordered window over BUCKET rows (#keys × #buckets,
  * not #events; a year of minutes is ~0.5M rows per key, driver-safe
  * and parallel per key). The baseline statistics are integer window
  * sums (`Σc`, `Σc²` — exact) with single-division float arithmetic,
  * so the driver oracle replays the z-scores bit-for-bit.
  *
  * Buckets with no events simply don't exist as rows (the frame is
  * ROWS-based over observed buckets): a silent-gap detector is a
  * different query (generate_series anti-join); this one answers
  * "is this bucket's RATE abnormal vs the recent past".
  */
object RateAnomaly {

  /** Per (`keyCol`, bucket) z-scores against the trailing `history`
    * buckets; rows with fewer than `history` predecessors are dropped
    * (no baseline to judge against). Emits `bucket` (epoch-bucket
    * index, a long), `n_events`, `mean_prev`, `std_prev`, `z`
    * (null when the baseline is flat), `is_anomaly`.
    */
  def detect(events: DataFrame, keyCol: String, tsCol: String,
             bucketSeconds: Long = 60, history: Int = 10,
             zThreshold: Double = 3.0): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val counts = events
      .select(col(keyCol), expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}L").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    detectFromCounts(counts, keyCol, history, zThreshold)
  }

  /** [[detect]] from a PRE-BUCKETED count table (`keyCol`, `bucket`,
    * `n_events`) — the streaming handoff: a Structured Streaming
    * windowed count maintains the bucket table incrementally
    * ([[graft.streaming.EventStream.minuteCounts]]), and each trigger
    * runs this ordered-window pass over the (tiny) bucket table as a
    * batch query. The z-score window needs total order over a key's
    * buckets, which a streaming state operator cannot see — splitting
    * at the count table is the honest boundary, and the batch/stream
    * parity is suite-pinned in EventStreamSpec.
    */
  def detectFromCounts(counts: DataFrame, keyCol: String,
                       history: Int = 10, zThreshold: Double = 3.0): DataFrame = {
    require(history > 0, "history must be positive")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-history, -1)
    val h = history.toDouble
    counts
      .withColumn("_n_prev", count(lit(1)).over(w))
      .withColumn("_sum_prev", sum(col("n_events")).over(w))
      .withColumn("_sum2_prev", sum(col("n_events") * col("n_events")).over(w))
      .where(col("_n_prev") === history)
      .withColumn("mean_prev", col("_sum_prev").cast("double") / lit(h))
      .withColumn("std_prev",
        sqrt(greatest(
          (col("_sum2_prev").cast("double")
            - col("_sum_prev").cast("double") * col("_sum_prev").cast("double") / lit(h)) / lit(h),
          lit(0.0))))
      .withColumn("z",
        when(col("std_prev") > 0,
          (col("n_events").cast("double") - col("mean_prev")) / col("std_prev")))
      .withColumn("is_anomaly", coalesce(col("z") > lit(zThreshold), lit(false)))
      .drop("_n_prev", "_sum_prev", "_sum2_prev")
  }

  /** Population Stability Index — the standard numeric-drift alarm
    * (credit-scoring heritage, now the default ML-ops monitor): bin the
    * REFERENCE side's value range into `bins` equal-width buckets
    * (edges frozen from the reference, the PSI convention), histogram
    * both sides with add-one smoothing, and report
    * `Σ (p−q)·ln(p/q)` per key. Values outside the reference range
    * clamp into the edge bins (that mass moving outward is exactly the
    * drift PSI should see). Per-bin terms are floored to the 2⁻⁴⁰
    * fixed-point grid so the sum is an associative integer sum
    * (engine- and partitioning-independent); the conventional alert
    * thresholds are 0.1 (drifting) / 0.2 (act).
    * Returns (`keyCol`, n_ref, n_cur, psi FLOAT, alert).
    *
    * Plan: one (key, side, bin) partial-aggregated count — bins-sized,
    * never value-sized — joined to the keys-row edge table; everything
    * after the two corpus passes is `keys × bins` rows.
    */
  def psi(reference: DataFrame, current: DataFrame, keyCol: String, valueCol: String,
          bins: Int = 16, alertAt: Double = 0.2): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val scale = 1099511627776.0 // 2^40
    // keys rows; consumed by both binning passes
    val edges = Materialize.cutEager(reference
      .groupBy(col(keyCol).as("_key"))
      .agg(min(col(valueCol).cast("double")).as("_mn"), max(col(valueCol).cast("double")).as("_mx")))
    def binned(df: DataFrame, side: String): DataFrame = df
      .select(col(keyCol).as("_key"), col(valueCol).cast("double").as("_v"))
      .join(broadcast(edges), Seq("_key"))
      .select(col("_key"), lit(side).as("_side"),
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(greatest(lit(0), least(lit(bins - 1),
            floor((col("_v") - col("_mn")) / ((col("_mx") - col("_mn")) / bins)).cast("int"))))
          .as("_bin"))
    val counts = binned(reference, "ref").union(binned(current, "cur"))
      .groupBy(col("_key"), col("_side"), col("_bin"))
      .agg(count(lit(1)).as("_c"))
    val grid = edges.select(col("_key"))
      .crossJoin(reference.sparkSession.range(bins).select(col("id").cast("int").as("_bin")))
    val wide = grid
      .join(counts.where(col("_side") === "ref").select(col("_key"), col("_bin"), col("_c").as("_cr")),
        Seq("_key", "_bin"), "left")
      .join(counts.where(col("_side") === "cur").select(col("_key"), col("_bin"), col("_c").as("_cc")),
        Seq("_key", "_bin"), "left")
      .select(col("_key"), coalesce(col("_cr"), lit(0L)).as("_cr"), coalesce(col("_cc"), lit(0L)).as("_cc"))
    val totals = wide.groupBy(col("_key"))
      .agg(sum(col("_cr")).as("_nr"), sum(col("_cc")).as("_nc"))
    wide.join(broadcast(totals), Seq("_key"))
      .select(col("_key"), col("_nr"), col("_nc"),
        floor((((col("_cr") + 1L).cast("double") / (col("_nr").cast("double") + bins.toDouble))
          - ((col("_cc") + 1L).cast("double") / (col("_nc").cast("double") + bins.toDouble)))
          * log(((col("_cr") + 1L).cast("double") / (col("_nr").cast("double") + bins.toDouble))
            / ((col("_cc") + 1L).cast("double") / (col("_nc").cast("double") + bins.toDouble)))
          * scale).cast("long").as("_term_fp"))
      .groupBy(col("_key"))
      .agg(first(col("_nr")).as("n_ref"), first(col("_nc")).as("n_cur"),
        sum(col("_term_fp")).as("_sfp"))
      .select(col("_key").as(keyCol), col("n_ref"), col("n_cur"),
        (col("_sfp").cast("double") / lit(scale)).cast("float").as("psi"))
      .withColumn("alert", col("psi") > lit(alertAt))
  }

  /** Silent-gap detector — the companion the z-score monitor's Scaladoc
    * promises: [[detect]] answers "is this bucket's rate abnormal", this
    * answers "which buckets are MISSING entirely" (a dead sensor emits
    * nothing, so no observed-bucket statistic can flag it). Per key, the
    * expected bucket grid spans [first, last] observed bucket; absent
    * buckets anti-join out and consecutive runs compact to one gap
    * interval via the islands trick (`bucket − row_number` is constant
    * within a run). Returns (`keyCol`, gap_start, gap_end, n_missing) —
    * `gap_end` exclusive.
    *
    * Plan: the grid is bounded by time-span/bucket (never by data
    * volume); the only per-row work is the bucket projection and one
    * distinct; the islands window runs over MISSING buckets only.
    */
  def silentGaps(events: DataFrame, keyCol: String, tsCol: String,
                 bucketSeconds: Long = 3600L): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive, got $bucketSeconds")
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Materialize.MatOps
    val us = bucketSeconds * 1000000L
    val obs = events
      .select(col(keyCol).as("_key"), expr(s"unix_micros($tsCol) div $us").as("b"))
      .distinct()
      .materialized // consumed by the span aggregate AND the anti-join
    val grid = obs.groupBy(col("_key")).agg(min(col("b")).as("_b0"), max(col("b")).as("_b1"))
      .select(col("_key"), explode(sequence(col("_b0"), col("_b1"))).as("b"))
    val missing = grid.join(obs, Seq("_key", "b"), "left_anti")
    missing
      .withColumn("_grp", col("b") - row_number().over(
        Window.partitionBy(col("_key")).orderBy(col("b"))))
      .groupBy(col("_key"), col("_grp"))
      .agg(min(col("b")).as("_gs"), max(col("b")).as("_ge"), count(lit(1)).cast("int").as("n_missing"))
      .select(col("_key").as(keyCol),
        timestamp_seconds(col("_gs") * bucketSeconds).as("gap_start"),
        timestamp_seconds((col("_ge") + 1L) * bucketSeconds).as("gap_end"),
        col("n_missing"))
  }

  /** Watermark-lateness audit: measure from the BATCH history how
    * out-of-order the stream actually is, so the streaming job's
    * `withWatermark` delay is chosen from data instead of folklore.
    * `arrivalCol` (a monotone ingestion id) proxies arrival order; per
    * key, the running max of event time along arrival order is the
    * high watermark, and a row's lateness is how far its event time
    * trails it. For each candidate delay the audit reports how many
    * rows a watermark of that delay would have dropped — the
    * loss-vs-state-size trade made explicit. Returns one row per
    * candidate: (delay_s, n_late, n_total, late_frac).
    *
    * Plan: one exchange on the key for the running-max window, then a
    * bounded explode (|delays| rows per event) into one
    * map-side-combined aggregate of |delays| rows. Integer lateness
    * (µs difference, floor-divided to seconds), exact fractions.
    */
  def latenessAudit(events: DataFrame, keyCols: Seq[String], tsCol: String,
                    arrivalCol: String, delaysSeconds: Seq[Long]): DataFrame = {
    require(delaysSeconds.nonEmpty, "at least one candidate delay required")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(arrivalCol))
    events
      .withColumn("_hw", max(col(tsCol)).over(w))
      .withColumn("lateness_s",
        expr(s"(unix_micros(_hw) - unix_micros($tsCol)) div 1000000"))
      .select(explode(array(delaysSeconds.map(lit): _*)).as("delay_s"), col("lateness_s"))
      .groupBy(col("delay_s"))
      .agg(
        sum(when(col("lateness_s") > col("delay_s"), 1L).otherwise(0L)).as("n_late"),
        count(lit(1)).as("n_total"))
      .withColumn("late_frac", col("n_late").cast("double") / col("n_total").cast("double"))
  }

  /** Two-sample Kolmogorov–Smirnov distance per key — the
    * distribution-shape drift test that complements [[psi]]: PSI needs
    * a bin count and smoothing constant; KS is parameter-free (the max
    * ECDF gap over the merged support) and catches shifts PSI's coarse
    * bins dilute. `valueCol` must already be INTEGER-gridded by the
    * caller (the usual 2⁻²⁰ fixed-point column): the statistic is then
    * exact — `D = max_v |F_ref(v) − F_cur(v)|` is computed as the
    * integer max of `|cum_ref·n_cur − cum_cur·n_ref|`, one common
    * denominator, no per-row float. int64 envelope: n_ref·n_cur·2^20
    * must fit, i.e. per-key side counts up to ~3·10⁹ rows; beyond that
    * widen the numerator to DECIMAL(38,0) — the grid is unchanged.
    *
    * Plan: one (key, value, side) partial-aggregated count — support-
    * sized, not row-sized — then a per-key ordered window over the
    * DISTINCT support (the per-key sort is over distinct grid values
    * only) and a map-side-combined max. The alert applies the
    * large-sample α=0.05 rejection bound `D > 1.358·√((n1+n2)/(n1·n2))`
    * (Smirnov's asymptotic critical value).
    * Returns (`keyCol`, n_ref, n_cur, d_num, d_fp, d, alert).
    */
  def ksDistance(reference: DataFrame, current: DataFrame,
                 keyCol: String, valueCol: String): DataFrame = {
    val tagged = reference
      .select(col(keyCol).as("_key"), col(valueCol).cast("long").as("_v"),
        lit(1L).as("_r"), lit(0L).as("_c"))
      .union(current.select(col(keyCol).as("_key"), col(valueCol).cast("long").as("_v"),
        lit(0L).as("_r"), lit(1L).as("_c")))
    val per = tagged.groupBy(col("_key"), col("_v"))
      .agg(sum(col("_r")).as("_dr"), sum(col("_c")).as("_dc"))
    val w = Window.partitionBy(col("_key")).orderBy(col("_v"))
    val cum = per.select(col("_key"), col("_v"),
      sum(col("_dr")).over(w).as("_cr"), sum(col("_dc")).over(w).as("_cc"))
    val tot = per.groupBy(col("_key"))
      .agg(sum(col("_dr")).as("n_ref"), sum(col("_dc")).as("n_cur"))
    cum.join(broadcast(tot), Seq("_key"))
      .select(col("_key"), col("n_ref"), col("n_cur"),
        abs(col("_cr") * col("n_cur") - col("_cc") * col("n_ref")).as("_dn"))
      .groupBy(col("_key"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(col("_dn")).as("d_num"))
      .select(col("_key").as(keyCol), col("n_ref"), col("n_cur"), col("d_num"),
        expr("(d_num * 1048576L) div (n_ref * n_cur)").as("d_fp"),
        (col("d_num").cast("double") / (col("n_ref") * col("n_cur")).cast("double")).as("d"))
      .withColumn("alert",
        col("d") > lit(1.358) * sqrt((col("n_ref") + col("n_cur")).cast("double")
          / (col("n_ref") * col("n_cur")).cast("double")))
  }

  /** One-sided CUSUM change-point detection (Page 1954) — the
    * sequential drift detector next to [[detect]]'s rolling z-score
    * (which sees SPIKES; CUSUM accumulates evidence of a sustained
    * SHIFT a spike detector averages away): per key and minute bucket,
    * S_t = max(0, S_{t−1} + x_t − μ − slack), alert when S_t exceeds
    * the decision interval. The recurrence looks inherently sequential
    * — the reason naive ports loop on the driver — but it has a
    * closed window form: with P_t = Σ_{j≤t}(x_j − μ − slack),
    * S_t = P_t − min(0, min_{j≤t} P_j). Two ordered windows (prefix
    * sum + running min) per key, nothing sequential anywhere.
    *
    * Arithmetic is exact: deviations scale by n (the key's bucket
    * count), so μ never becomes a float — step_t = n·x_t − tot −
    * (tot div 4) with slack = μ/4, and the alert threshold 5μ is
    * `5·tot` on the same scale. Emits (`keyCol`, `bucket`, `n_events`,
    * `cusum_fp`, `alert`); cusum_fp div n is the drift estimate in
    * events-per-bucket units.
    */
  def cusum(events: DataFrame, keyCol: String, tsCol: String,
            bucketSeconds: Long = 60): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val counts = events
      .select(col(keyCol), expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}L").as("bucket"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val wKey = Window.partitionBy(col(keyCol))
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("_tot", sum(col("n_events")).over(wKey))
      .withColumn("_n", count(lit(1)).over(wKey))
      .withColumn("_step",
        col("n_events") * col("_n") - col("_tot") - expr("_tot div 4"))
      .withColumn("_p", sum(col("_step")).over(wOrd))
      .withColumn("cusum_fp", col("_p") - least(min(col("_p")).over(wOrd), lit(0L)))
      .withColumn("alert", col("cusum_fp") > lit(5) * col("_tot"))
      .select(col(keyCol), col("bucket"), col("n_events"), col("cusum_fp"), col("alert"))
  }

  /** Exact ROC-AUC (Mann–Whitney U / rank statistic) of a score column
    * against a boolean label, the standard "does this quality signal
    * actually separate the classes" audit for a curation classifier.
    *
    * Scores are floored onto a `2^gridBits` fixed-point grid so every
    * accumulation is integer-exact and the tie-handling is well defined
    * (ties share a bucket and contribute `p·q/2`, the mid-rank
    * convention). AUC = (Σ_b p_b·negBelow_b + ½·Σ_b p_b·q_b) / (P·N),
    * computed as one integer ratio `(2·Σp·cq + Σp·q) / (2·P·N)` with a
    * single final float division — the oracle replays it bit-for-bit.
    *
    * Plan: one map-side-combining per-bucket (p, q) count aggregate —
    * the only corpus-sized pass — then an ordered prefix window over
    * the BUCKET table, which is grid-bounded (≤ `2^gridBits · range`
    * rows, ~10⁵ here), not row-bounded: the global sort the textbook
    * rank formula needs never touches corpus-sized data. int64
    * envelope: `2·P·N` must fit, i.e. ~2·10⁹ rows per class.
    */
  def aucRank(df: DataFrame, labelCol: String, scoreCol: String,
              gridBits: Int = 10): DataFrame = {
    val grid = 1L << gridBits
    val h = df
      .select(floor(col(scoreCol) * grid).cast("long").as("_b"),
        when(col(labelCol), 1L).otherwise(0L).as("_y"))
      .groupBy(col("_b"))
      .agg(sum(col("_y")).as("_p"), sum(lit(1L) - col("_y")).as("_q"))
    val wOrd = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("_cq", coalesce(sum(col("_q")).over(wOrd), lit(0L)))
      .agg(sum(col("_p") * col("_cq")).as("_s1"),
        sum(col("_p") * col("_q")).as("_s2"),
        sum(col("_p")).as("n_pos"), sum(col("_q")).as("n_neg"))
      .select(
        ((lit(2L) * col("_s1") + col("_s2")).cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double")).as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** Welch's unequal-variance t-test on a grid-bucketed metric between
    * two arms, per key — the continuous-outcome companion to the
    * two-proportion chi-squared gate: "did the treatment move the
    * average order value", not just the conversion rate.
    *
    * Values are floored onto a `2^gridBits` grid so the sufficient
    * statistics (n, Σv, Σv²) accumulate exactly; sums are DECIMAL(38,0)
    * (Σv² overflows int64 near ~10⁹ rows·grid² otherwise). All float
    * arithmetic happens once per KEY row from the exact aggregates, in
    * a fixed expression shape the DuckDB oracle mirrors bit-for-bit
    * (both engines round the 128-bit sums to nearest double first).
    *
    * Plan: one map-side-combining per-key six-sum aggregate — a single
    * corpus pass, no window, no sort; output is key-count-sized.
    */
  def welchT(df: DataFrame, keyCol: String, armCol: String, valueCol: String,
             gridBits: Int = 10): DataFrame = {
    val grid = 1L << gridBits
    def arm(i: Int, e: Column): Column =
      sum(when(col(armCol) === i, e).otherwise(lit(0L)).cast("decimal(38,0)"))
    val v = floor(col(valueCol) * grid).cast("long")
    val agg = df
      .select(col(keyCol), col(armCol), v.as("_v"))
      .groupBy(col(keyCol))
      .agg(
        sum(when(col(armCol) === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col(armCol) === 1, 1L).otherwise(0L)).as("n1"),
        arm(0, col("_v")).as("_s0"), arm(1, col("_v")).as("_s1"),
        arm(0, col("_v") * col("_v")).as("_ss0"),
        arm(1, col("_v") * col("_v")).as("_ss1"))
    def d(c: String): Column = col(c).cast("double")
    def variance(ss: String, sm: String, n: String): Column =
      (d(ss) - d(sm) * d(sm) / d(n)) / (col(n) - 1).cast("double")
    val t = (d("_s0") / d("n0") - d("_s1") / d("n1")) /
      sqrt(variance("_ss0", "_s0", "n0") / d("n0") +
        variance("_ss1", "_s1", "n1") / d("n1"))
    agg.select(col(keyCol), col("n0"), col("n1"),
        (d("_s0") / (lit(grid) * col("n0")).cast("double")).as("mean0"),
        (d("_s1") / (lit(grid) * col("n1")).cast("double")).as("mean1"),
        t.as("t_stat"), (abs(t) > lit(1.96)).as("significant"))
  }

  /** Lag-k autocorrelation of the per-key daily count series — the
    * numeric twin of [[seasonalProfile]]: a strong r at lag 7 IS the
    * weekly cycle, a strong lag-1 means momentum/bursts, near-zero
    * everywhere means the stream is memoryless. The standard first
    * diagnostic before fitting any rate forecaster.
    *
    * Pearson r over (c_d, c_{d+k}) pairs: all five moment sums are
    * exact int64 over exact daily counts, so r is a fixed chain of
    * IEEE arithmetic on identical integers — bit-reproducible.
    * Missing days are genuinely absent (no zero-fill): the pair set is
    * the inner join of the day table with itself at offset k, the
    * convention that ignores coverage gaps instead of faking calm.
    *
    * Plan: one (key, day) count — the only corpus-sized exchange —
    * then a days-sized self-equi-join per lag and a key×lag-sized
    * moment aggregate. Emits (key, lag, n_pairs, r).
    */
  def autocorrelation(events: DataFrame, keyCol: String, tsCol: String,
                      lags: Seq[Int] = Seq(1, 2, 7)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "need positive lags")
    import graft.operators.Materialize.MatOps
    val daily = events
      .select(col(keyCol), datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .groupBy(col(keyCol), col("day")).agg(count(lit(1)).as("c"))
      .materialized // both sides of every lag's self-join
    val lagged = daily.select(col(keyCol).as("_k2"), col("day").as("_d2"), col("c").as("_y"))
    val pairs = daily
      .select(col(keyCol), col("day"), col("c").as("_x"),
        explode(array(lags.map(l => lit(l)): _*)).as("lag"))
      .join(lagged, col("_k2") === col(keyCol) && col("_d2") === col("day") + col("lag"))
    pairs.groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"))
      .select(col(keyCol), col("lag"), col("n_pairs"),
        ((col("n_pairs").cast("double") * col("_sxy").cast("double")
          - col("_sx").cast("double") * col("_sy").cast("double"))
          / sqrt((col("n_pairs").cast("double") * col("_sxx").cast("double")
            - col("_sx").cast("double") * col("_sx").cast("double"))
            * (col("n_pairs").cast("double") * col("_syy").cast("double")
              - col("_sy").cast("double") * col("_sy").cast("double")))).as("r"))
      .orderBy(col(keyCol), col("lag"))
  }

  /** Day-of-week seasonal profile per key — the baseline model the
    * anomaly detectors above normalize against: a crawl/ingest stream
    * has a weekly shape, and "Tuesday is 1.4× the weekly mean" must be
    * separated from "Tuesday is anomalous". The index for (key, dow)
    * is n·7/total (1.0 = flat); the peak flag marks the maximal
    * day(s). Classic first step of seasonal-naive forecasting and of
    * rate-limit scheduling (crawl politeness budgets per weekday).
    *
    * All counts are exact int64; the index is one IEEE division of
    * exact integers — bit-reproducible. Plan: one map-side-combined
    * (key, dow) count — the only corpus-sized exchange — then windows
    * over ≤7 rows per key. Output is 7·#keys rows at any scale.
    */
  /** SPRT fixed-point constants on the 2⁻⁴⁰ grid, computed ONCE in JVM
    * doubles and embedded as literals in both the Spark plan and the
    * driver oracle — so no transcendental is ever evaluated by two
    * engines. (perSuccess, perFailure, upper, lower).
    */
  def sprtConstants(p0: Double, p1: Double,
                    alpha: Double, beta: Double): (Long, Long, Long, Long) = {
    val scale = 1099511627776.0 // 2^40
    (math.floor(math.log(p1 / p0) * scale).toLong,
      math.floor(math.log((1 - p1) / (1 - p0)) * scale).toLong,
      math.floor(math.log((1 - beta) / alpha) * scale).toLong,
      math.floor(math.log(beta / (1 - alpha)) * scale).toLong)
  }

  /** Wald's Sequential Probability Ratio Test over a Bernoulli outcome,
    * replayed per key over the event stream's day sequence — the
    * "stop the experiment as soon as the evidence is in" monitor
    * (Wald 1945): H₀ rate = `p0` vs H₁ rate = `p1`, error budgets
    * (`alpha`, `beta`). Each success adds ln(p1/p0) to the
    * log-likelihood ratio, each failure ln((1−p1)/(1−p0)); the first
    * day the cumulative LLR exits [ln(β/(1−α)), ln((1−β)/α)] decides.
    * The batch replay answers "when WOULD this have decided" — the
    * audit behind turning a fixed-horizon A/B gate into a sequential
    * one.
    *
    * Determinism: contributions are JVM-computed 2⁻⁴⁰-grid literal
    * longs ([[sprtConstants]] — shared verbatim with the oracle), so
    * the LLR is `cconv·c₁ + (cn−cconv)·c₀` — pure int64 from exact
    * daily counts. Emits per key: n_days, final_llr_fp, decision
    * ('h0'/'h1'/'continue'), decision_day (epoch day, −1 if none).
    *
    * Plan: one map-side-combined (key, day) count — the only
    * corpus-sized exchange — then ordered windows over the days-sized
    * table and one per-key rollup. Scan-bound at any corpus size.
    */
  def sprt(events: DataFrame, keyCol: String, tsCol: String, success: Column,
           p0: Double, p1: Double,
           alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p1 > p0 && p1 < 1, s"need 0 < p0 < p1 < 1, got $p0, $p1")
    val (c1, c0, upper, lower) = sprtConstants(p0, p1, alpha, beta)
    val daily = events
      .select(col(keyCol), datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"),
        success.as("_s"))
      .groupBy(col(keyCol), col("day"))
      .agg(sum(when(col("_s"), 1L).otherwise(0L)).as("_conv"), count(lit(1)).as("_n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .withColumn("_cc", sum(col("_conv")).over(w))
      .withColumn("_cn", sum(col("_n")).over(w))
      .withColumn("_llr", col("_cc") * c1 + (col("_cn") - col("_cc")) * c0)
    scored.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_days"),
        max_by(col("_llr"), col("day")).as("final_llr_fp"),
        min(when(col("_llr") >= upper, col("day"))).as("_h1d"),
        min(when(col("_llr") <= lower, col("day"))).as("_h0d"))
      .withColumn("decision",
        when(col("_h1d").isNull && col("_h0d").isNull, "continue")
          .when(col("_h0d").isNull || (col("_h1d").isNotNull && col("_h1d") <= col("_h0d")), "h1")
          .otherwise("h0"))
      .select(col(keyCol), col("n_days"), col("final_llr_fp"), col("decision"),
        when(col("decision") === "h1", col("_h1d"))
          .when(col("decision") === "h0", col("_h0d"))
          .otherwise(lit(-1)).as("decision_day"))
      .orderBy(col(keyCol))
  }

  /** Wilson score interval for a conversion rate (Wilson 1927) — the
    * small-sample-safe CI every experiment dashboard should use instead
    * of the normal approximation (which collapses at p near 0/1): per
    * key, n, conversions, p̂, and the 95% bounds
    * (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n).
    *
    * Determinism: one map-side-combined count aggregate (exact int64),
    * then a fixed-order chain of IEEE arithmetic over those integers —
    * every multiply/divide/√ is written in the same association on both
    * engines, so the bounds hash-match bit-for-bit. Plan: the one
    * aggregate IS the query; output is key-cardinality-sized.
    */
  def wilsonCi(events: DataFrame, keyCol: String, success: Column,
               z: Double = 1.96): DataFrame = {
    val agg = events
      .select(col(keyCol), success.as("_s"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(when(col("_s"), 1L).otherwise(0L)).as("conversions"))
    val nD = col("n").cast("double")
    val p = col("conversions").cast("double") / nD
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD
      + z2 / (lit(4.0) * nD * nD))) / denom
    agg.select(col(keyCol), col("n"), col("conversions"),
        p.as("p_hat"), (center - half).as("ci_lower"), (center + half).as("ci_upper"))
      .orderBy(col(keyCol))
  }

  /** Theil–Sen robust trend per key over the daily count series — the
    * median of all pairwise slopes (c_b − c_a)/(b − a). OLS on a count
    * series is wrecked by exactly the spikes [[detect]] exists to find;
    * the Theil–Sen estimator has a 29.3% breakdown point, so the trend
    * a capacity planner reads survives outlier days untouched. Emits
    * (key, n_pairs, slope, dy, dx) where (dy, dx) is the chosen median
    * pair's rise/run.
    *
    * Determinism: slopes are ordered by the IEEE double dy/dx with a
    * full integer tie-break (dy, dx, day_a, day_b), so both engines
    * sort identical doubles identically and pick the identical LOWER
    * median row (rank (n+1) div 2); the reported slope is one IEEE
    * division of exact integers.
    *
    * Plan: one (key, day) count — the only corpus-sized exchange —
    * then a days²-bounded self-join per key (a year is ~66k pairs) and
    * one ordered window. The pair table never touches the corpus.
    */
  def theilSen(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    import graft.operators.Materialize.MatOps
    val daily = events
      .select(col(keyCol), datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .groupBy(col(keyCol), col("day")).agg(count(lit(1)).as("c"))
      .materialized // both sides of the pair self-join
    val right = daily.select(col(keyCol).as("_k2"), col("day").as("_db"), col("c").as("_cb"))
    val pairs = daily
      .join(right, col("_k2") === col(keyCol) && col("_db") > col("day"))
      .select(col(keyCol),
        (col("_cb") - col("c")).cast("long").as("dy"),
        (col("_db") - col("day")).cast("long").as("dx"),
        col("day").as("_da"), col("_db"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("dy").cast("double") / col("dx").cast("double"),
        col("dy"), col("dx"), col("_da"), col("_db"))
    pairs
      .withColumn("_rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .where(col("_rn") === expr("(n_pairs + 1) div 2"))
      .select(col(keyCol), col("n_pairs"),
        (col("dy").cast("double") / col("dx").cast("double")).as("slope"),
        col("dy"), col("dx"))
      .orderBy(col(keyCol))
  }

  /** Exponentially time-decayed volume per key — the "trending now"
    * score: each day's count is weighted 2^(−age/halfLife) against the
    * corpus's last observed day, so a burst yesterday outweighs steady
    * volume last month. This is the ranking signal behind trending
    * queries/hashtags and the freshness term of crawl re-visit
    * schedulers.
    *
    * Determinism: the per-age weights floor(2⁴⁰·2^(−age/h)) are
    * computed ONCE in JVM doubles and embedded as an array literal in
    * both plans (the [[sprtConstants]] discipline — no cross-engine
    * transcendental); ages at or past `horizonDays` get weight exactly
    * 0 (document: below the grid for any sane h). The score is then a
    * decimal sum of exact products, rounded to double once.
    *
    * Plan: one map-side-combining (key, day) count — the only
    * corpus-sized exchange — then a one-row broadcast anchor and a
    * days-sized weighted rollup.
    */
  def decayTrend(events: DataFrame, keyCol: String, tsCol: String,
                 halfLifeDays: Int = 7, horizonDays: Int = 128): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    require(horizonDays >= 1 && horizonDays <= 4096, s"bad horizonDays $horizonDays")
    import graft.operators.Materialize.MatOps
    val scale = 1099511627776.0 // 2^40
    val weights: Array[Long] = (0 until horizonDays)
      .map(a => math.floor(scale * math.pow(2.0, -a.toDouble / halfLifeDays)).toLong)
      .toArray
    val daily = events
      .select(col(keyCol), datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .groupBy(col(keyCol), col("day")).agg(count(lit(1)).as("c"))
      .materialized // scanned by the anchor aggregate and the rollup
    val anchor = daily.agg(max(col("day")).as("_anchor"))
    daily.crossJoin(broadcast(anchor))
      .withColumn("_age", (col("_anchor") - col("day")).cast("int"))
      .withColumn("_w",
        when(col("_age") < horizonDays, element_at(lit(weights), col("_age") + 1))
          .otherwise(lit(0L)))
      .groupBy(col(keyCol))
      .agg(sum(col("c")).as("n_total"), max(col("day")).as("last_day"),
        sum(col("c").cast("decimal(38,0)") * col("_w")).as("_fp"))
      .select(col(keyCol), col("n_total"), col("last_day"),
        (col("_fp").cast("double") / scale).as("decayed"))
      .orderBy(col(keyCol))
  }

  /** Holt's linear-trend forecast (double exponential smoothing,
    * α = β = ½) over the zero-filled daily count series per key — the
    * capacity/rate forecaster one step up from the seasonal-naive
    * baseline: level and trend each update as an exact halving
    * recurrence, and the h-day-ahead forecast is level + h·trend.
    * Missing days inside a key's span count as 0 — for event counts a
    * silent day IS zero, and the recurrence needs uniform spacing.
    *
    * Determinism: counts ride the 2²⁰ fixed-point grid and both
    * smoothing updates are floor-halvings (`floorDiv(·, 2)` ≡
    * floor(x/2.0) for |x| ≪ 2⁵³), so level/trend/SAE are exact
    * integers the oracle replays in a recursive CTE, day by day.
    *
    * Plan: one (key, day) count — the only corpus-sized exchange —
    * then a calendar-bounded zero-fill grid; the sequential recurrence
    * runs on the DRIVER over the collected (key, day, c) table. That
    * collect is the bounded-collect class (keys × days rows — the
    * Markov-solve/Kaplan–Meier precedent), inherent to the serial
    * dependence of exponential smoothing: day t's state needs day
    * t−1's, so there is no partitioning to exploit anyway.
    */
  def holtForecast(events: DataFrame, keyCol: String, tsCol: String,
                   horizon: Int = 7): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val grid = 1L << 20
    val daily = events
      .select(col(keyCol).cast("string").as("_k"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"))
      .groupBy(col("_k"), col("day")).agg(count(lit(1)).as("c"))
    val span = daily.groupBy(col("_k"))
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col("_k"), explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = span.join(daily, Seq("_k", "day"), "left")
      .na.fill(0L, Seq("c"))
      .select(col("_k"), col("day"), col("c"))
      .collect() // bounded: keys × calendar days, never corpus-sized
    val out = filled.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (k, rows) =>
      val ys = rows.sortBy(_.getInt(1)).map(_.getLong(2) * grid).toArray
      val n = ys.length
      if (n == 1) (k, 1L, ys(0), 0L, ys(0).toDouble / grid, 0.0, ys(0).toDouble / grid)
      else {
        var l = ys(0)
        var b = ys(1) - ys(0)
        var sae = 0L
        var t = 1
        while (t < n) {
          val f = l + b
          sae += math.abs(ys(t) - f)
          val lPrev = l
          l = Math.floorDiv(ys(t) + lPrev + b, 2L)
          b = Math.floorDiv((l - lPrev) + b, 2L)
          t += 1
        }
        (k, n.toLong, l, b, (l + horizon * b).toDouble / grid,
          sae.toDouble / (grid.toDouble * (n - 1).toDouble),
          l.toDouble / grid)
      }
    }
    val s = events.sparkSession
    import s.implicits._
    out.toDF("_k", "n_days", "_lfp", "_bfp", "forecast", "mae", "level")
      .select(col("_k").as(keyCol), col("n_days"), col("level"),
        (col("_bfp").cast("double") / grid).as("trend"), col("forecast"), col("mae"))
      .orderBy(col(keyCol))
  }

  /** CUPED variance reduction (Deng et al. 2013) — the industry-default
    * experiment-sensitivity fix: regress each user's experiment-period
    * metric Y on their PRE-period metric X (θ = cov/var, pooled), then
    * compare arms on the adjusted Y − θ·(X − X̄). Pre-experiment
    * behavior is arm-independent by construction, so the adjustment
    * removes between-user variance without biasing the treatment
    * effect; the reported `var_reduction` is exactly the squared X–Y
    * correlation.
    *
    * The split: days at or before the corpus midpoint are the
    * pre-period, the rest the experiment period; `armFrom` assigns the
    * arm (deterministic md5 coin in the registered query). Values ride
    * the 2^gridBits fixed-point grid; per-user sums are int64, the
    * user-level cross-moments DECIMAL(38,0), and every float step is
    * one fixed IEEE chain over those exact sums.
    *
    * Plan: one user-grain aggregate — the only corpus-sized exchange —
    * then a one-row moment rollup. Output is a single row.
    */
  def cuped(events: DataFrame, userCol: String, tsCol: String, valueCol: String,
            armFrom: Column, gridBits: Int = 20): DataFrame = {
    val grid = 1L << gridBits
    val mid = events
      .select(datediff(to_date(col(tsCol)), lit("1970-01-01")).as("_day"))
      .agg(expr("(min(_day) + max(_day)) div 2").as("_mid"))
    val users = events
      .select(col(userCol).as("_u"), armFrom.as("_arm"),
        datediff(to_date(col(tsCol)), lit("1970-01-01")).as("_day"),
        floor(col(valueCol) * grid).cast("long").as("_v"))
      .crossJoin(broadcast(mid))
      .groupBy(col("_u"), col("_arm"))
      .agg(sum(when(col("_day") <= col("_mid"), col("_v")).otherwise(0L)).as("_x"),
        sum(when(col("_day") > col("_mid"), col("_v")).otherwise(0L)).as("_y"))
    def dm(e: Column): Column = sum(e.cast("decimal(38,0)"))
    // products go through decimal BEFORE multiplying — per-user int64
    // mass squared overflows long
    def dm2(a: Column, b: Column): Column =
      sum(a.cast("decimal(38,0)") * b.cast("decimal(38,0)"))
    val m = users.agg(
      count(lit(1)).as("n_users"),
      dm(col("_x")).as("_sx"), dm(col("_y")).as("_sy"),
      dm2(col("_x"), col("_y")).as("_sxy"),
      dm2(col("_x"), col("_x")).as("_sxx"),
      dm2(col("_y"), col("_y")).as("_syy"),
      sum(when(col("_arm") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("_arm") === 1, 1L).otherwise(0L)).as("n1"),
      dm(when(col("_arm") === 0, col("_x")).otherwise(0L)).as("_sx0"),
      dm(when(col("_arm") === 1, col("_x")).otherwise(0L)).as("_sx1"),
      dm(when(col("_arm") === 0, col("_y")).otherwise(0L)).as("_sy0"),
      dm(when(col("_arm") === 1, col("_y")).otherwise(0L)).as("_sy1"))
    def d(c: String): Column = col(c).cast("double")
    val nD = d("n_users")
    val covN = nD * d("_sxy") - d("_sx") * d("_sy")
    val varxN = nD * d("_sxx") - d("_sx") * d("_sx")
    val varyN = nD * d("_syy") - d("_sy") * d("_sy")
    // degenerate pre-period (every user identical pre-mass ⇒ varxN = 0):
    // theta and var_reduction collapse to 0 so the row degrades to the
    // raw comparison instead of propagating NaN/Inf; oracle mirrors this
    val theta = when(varxN === 0d, lit(0d)).otherwise(covN / varxN)
    val varRed = when(varxN === 0d || varyN === 0d, lit(0d))
      .otherwise((covN * covN) / (varxN * varyN))
    val xbar = d("_sx") / nD
    val g = lit(grid.toDouble)
    def meanY(sy: String, n: String): Column = d(sy) / (d(n) * g)
    def adjY(sy: String, sx: String, n: String): Column =
      (d(sy) - theta * (d(sx) - d(n) * xbar)) / (d(n) * g)
    m.select(col("n_users"), col("n0"), col("n1"),
        theta.as("theta"),
        varRed.as("var_reduction"),
        meanY("_sy0", "n0").as("mean_y0"), meanY("_sy1", "n1").as("mean_y1"),
        adjY("_sy0", "_sx0", "n0").as("adj_y0"), adjY("_sy1", "_sx1", "n1").as("adj_y1"))
      .select(col("*"),
        (col("mean_y1") - col("mean_y0")).as("diff_raw"),
        (col("adj_y1") - col("adj_y0")).as("diff_adj"))
  }

  /** A/B test POWER ANALYSIS — the pre-experiment design step the rest
    * of the experimentation layer (SRM, CUPED, Welch, SPRT) assumes
    * already happened: from the historical user-grain variance, the
    * per-arm sample size needed to detect a relative effect `mdeFrac`
    * at two-sided α = 0.05 with power 0.8 —
    * n = 2σ²(z_{0.975} + z_{0.8})² / δ², δ = mdeFrac·mean. The z
    * quantiles are EMBEDDED LITERALS shared verbatim with the oracle
    * (the [[sprtConstants]] discipline — no cross-engine Φ⁻¹), the
    * moments are exact integer/decimal sums on the 2^gridBits grid,
    * and every float step is one fixed IEEE chain. Emits one row
    * (n_users, mean, variance, mde, n_per_arm).
    *
    * Plan: one user-grain aggregate (the only corpus exchange) + a
    * 1-row moment rollup — the [[cuped]] economics.
    */
  def abPower(events: DataFrame, userCol: String, valueCol: String,
              mdeFrac: Double = 0.05, gridBits: Int = 20): DataFrame = {
    require(mdeFrac > 0, s"mdeFrac must be positive, got $mdeFrac")
    val grid = 1L << gridBits
    val users = events
      .select(col(userCol).as("_u"),
        floor(col(valueCol) * grid).cast("long").as("_v"))
      .groupBy(col("_u")).agg(sum(col("_v")).as("_x"))
    val m = users.agg(count(lit(1)).as("n_users"),
      sum(col("_x").cast("decimal(38,0)")).as("_sx"),
      sum(col("_x").cast("decimal(38,0)") * col("_x").cast("decimal(38,0)")).as("_sxx"))
    def d(c: String): Column = col(c).cast("double")
    val nD = d("n_users")
    val g = lit(grid.toDouble)
    val mean = d("_sx") / (nD * g)
    val variance = (nD * d("_sxx") - d("_sx") * d("_sx")) / (nD * (nD - 1.0) * (g * g))
    val zsum = lit(RateAnomaly.Z975 + RateAnomaly.Z80)
    val mde = lit(mdeFrac) * mean
    m.select(col("n_users"), mean.as("mean"), variance.as("variance"),
      mde.as("mde"),
      ceil(lit(2.0) * variance * (zsum * zsum) / (mde * mde)).cast("long")
        .as("n_per_arm"))
  }

  /** z_{0.975} and z_{0.8} as fixed decimal literals, shared verbatim
    * with the oracle SQL (never recomputed through any engine's Φ⁻¹).
    */
  val Z975: Double = 1.959963984540054
  val Z80: Double = 0.8416212335729143

  /** Post-stratified A/B estimator — [[cuped]]'s sibling when the
    * covariate is CATEGORICAL (traffic source, device, event type):
    * each arm's mean is re-weighted to the POOLED stratum shares,
    * adjusted_a = Σ_s (n_s/N)·mean_{a,s}, removing the variance (and
    * bias) from per-arm stratum imbalance. Emits one row (n0, n1,
    * mean_raw0, mean_raw1, adj0, adj1, diff_raw, diff_adj).
    *
    * Exactness: the (arm, stratum) cell table is arms×strata — a
    * BOUNDED domain, so it collects to the driver (the bounded-state
    * discipline) and every sum is exact int64 there; each stratum term
    * is one fixed float chain, and the cross-stratum sum FOLDS IN
    * STRATUM ORDER — `reduceLeft` here, `list_reduce` over
    * `list(term ORDER BY stratum)` in the oracle — so even the float
    * summation order is pinned across engines (a plain SQL `sum()`
    * would be association-order-free and could differ in the last
    * ulp).
    *
    * Plan: one map-side-combined (arm, stratum) aggregate — the only
    * corpus exchange.
    */
  def postStratified(events: DataFrame, armFrom: Column, strataCol: String,
                     valueCol: String, gridBits: Int = 20): DataFrame = {
    val grid = (1L << gridBits).toDouble
    val spark = events.sparkSession
    import spark.implicits._
    val cells: Array[(Long, String, Long, Long)] = events
      .select(armFrom.cast("long").as("arm"),
        col(strataCol).cast("string").as("stratum"),
        floor(col(valueCol) * (1L << gridBits)).cast("long").as("_v"))
      .groupBy(col("arm"), col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("s"))
      .as[(Long, String, Long, Long)].collect()
    // Validity gates: the estimator's weights n_s/N only sum to 1 per
    // arm when BOTH arms observe every stratum — a stratum missing from
    // one arm would silently bias that arm's adjusted mean LOW (its
    // term just vanishes), and an empty arm would crash reduceLeft.
    // Arms must be exactly {0,1} (anything else would silently fall
    // into neither mean).
    val armVals = cells.map(_._1).distinct.sorted
    require(armVals.sameElements(Array(0L, 1L)),
      s"postStratified: arms must be exactly {0,1}, got {${armVals.mkString(",")}}")
    val strataOf = cells.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    require(strataOf(0L) == strataOf(1L),
      "postStratified: both arms must observe the same strata; " +
        s"only-in-arm0=${(strataOf(0L) -- strataOf(1L)).toSeq.sorted.mkString(",")} " +
        s"only-in-arm1=${(strataOf(1L) -- strataOf(0L)).toSeq.sorted.mkString(",")}")
    val bigN = cells.map(_._3).sum
    val ns = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    def arm(a: Long) = cells.filter(_._1 == a)
    def nArm(a: Long) = arm(a).map(_._3).sum
    def rawMean(a: Long) =
      arm(a).map(_._4).sum.toDouble / (nArm(a).toDouble * grid)
    def adj(a: Long) = arm(a).sortBy(_._2).map { case (_, st, n, s) =>
      (ns(st).toDouble * s.toDouble) / ((n.toDouble * bigN.toDouble) * grid)
    }.reduceLeft(_ + _)
    spark.createDataset(Seq((
        nArm(0), nArm(1), rawMean(0), rawMean(1), adj(0), adj(1),
        rawMean(1) - rawMean(0), adj(1) - adj(0))))
      .toDF("n0", "n1", "mean_raw0", "mean_raw1", "adj0", "adj1",
        "diff_raw", "diff_adj")
  }

  /** Seasonally-ADJUSTED daily outlier flags — the composition of
    * [[seasonalProfile]] and [[detect]] that production monitors
    * actually run: a Saturday dip is not an incident, a Saturday at
    * Tuesday volume is. Each (key, day) compares against its own
    * (key, day-of-week) mean; `high`/`low` flag a >2× / <½ departure
    * from that seasonal baseline.
    *
    * Exactness: the flags are pure INTEGER comparisons
    * (c·n_dow > 2·Σ_dow and 2·c·n_dow < Σ_dow — cross-multiplied, no
    * division), so alerts are partition- and engine-independent; the
    * displayed expected/index are single IEEE divisions of the same
    * exact integers. Emits (key, day, dow, c, expected,
    * seasonal_index, high, low).
    *
    * Plan: one (key, day, dow) count — the only corpus-sized
    * exchange — then a keys×7 profile broadcast back onto the
    * days-sized table.
    */
  def detectSeasonal(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    import graft.operators.Materialize.MatOps
    val daily = events
      .select(col(keyCol), datediff(to_date(col(tsCol)), lit("1970-01-01")).as("day"),
        (dayofweek(col(tsCol)) - 1).as("dow"))
      .groupBy(col(keyCol), col("day"), col("dow"))
      .agg(count(lit(1)).as("c"))
      .materialized // profile + join both read it
    val prof = daily.groupBy(col(keyCol), col("dow"))
      .agg(count(lit(1)).as("_nd"), sum(col("c")).as("_sum"))
    daily.join(broadcast(prof), Seq(keyCol, "dow"))
      .select(col(keyCol), col("day"), col("dow"), col("c"),
        (col("_sum").cast("double") / col("_nd").cast("double")).as("expected"),
        ((col("c") * col("_nd")).cast("double") / col("_sum").cast("double")).as("seasonal_index"),
        (col("c") * col("_nd") > lit(2L) * col("_sum")).as("high"),
        (lit(2L) * col("c") * col("_nd") < col("_sum")).as("low"))
      .orderBy(col(keyCol), col("day"))
  }

  def seasonalProfile(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val counted = events
      // Spark dayofweek: 1 = Sunday .. 7 = Saturday; emit 0-based Sunday=0
      .select(col(keyCol), (dayofweek(col(tsCol)) - 1).as("dow"))
      .groupBy(col(keyCol), col("dow")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol))
    counted
      .withColumn("seasonal_idx",
        (col("n") * 7).cast("double") / sum(col("n")).over(w).cast("double"))
      .withColumn("is_peak", col("n") === max(col("n")).over(w))
      .orderBy(col(keyCol), col("dow"))
  }
}
