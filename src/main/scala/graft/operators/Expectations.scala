package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps

/** Row-level data-quality expectations — the batch-gate generalization of
  * the engine's per-row error isolation
  * (`/root/reference/app/services/tracker.py` catches and counts per-issue
  * failures; here the same contract is declarative): each rule is a named
  * boolean `Column`, a row PASSES a rule only when the predicate is TRUE
  * (false OR null is a violation — SQL CHECK semantics), and the batch
  * splits into pass-through rows, quarantined rows, and a per-rule
  * violation summary.
  *
  * All three surfaces are pure map work over one projection plus (for the
  * summary) a single partial-aggregating global count — no joins, no
  * windows, no driver state; shuffle volume is one row per partition.
  */
object Expectations {

  private def violated(p: Column): Column = !coalesce(p, lit(false))

  /** Appends `failed_rules`: the names of every rule the row violates
    * (empty array = clean row).
    */
  def check(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    df.withColumn("failed_rules",
      filter(array(rules.map { case (n, p) => when(violated(p), lit(n)) }: _*), _.isNotNull))
  }

  /** Rows passing every rule (ready for the sink). */
  def passing(checked: DataFrame): DataFrame =
    checked.where(size(col("failed_rules")) === 0).drop("failed_rules")

  /** Rows violating at least one rule, with `failed_rules` kept for the
    * quarantine sink / replay tooling.
    */
  def quarantined(checked: DataFrame): DataFrame =
    checked.where(size(col("failed_rules")) > 0)

  /** Per-rule violation counts over the whole batch: one row per rule —
    * (`rule`, `n_violations`, `n_rows`, `violation_frac`) — including
    * rules with zero violations (a monitoring surface must report the
    * healthy gauges too).
    */
  def summary(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val aggs = count(lit(1)).as("n_rows") +:
      rules.zipWithIndex.map { case ((_, p), i) =>
        sum(when(violated(p), 1L).otherwise(0L)).as(s"_v$i")
      }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), explode(array(rules.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(n).as("rule"), col(s"_v$i").as("n_violations"))
      }: _*)).as("_r"))
      .select(col("_r.rule").as("rule"), col("_r.n_violations").as("n_violations"),
        col("n_rows"),
        (col("_r.n_violations").cast("double") / col("n_rows").cast("double")).as("violation_frac"))
  }

  /** Per-stratum Tukey-fence OUTLIER detection over an integer metric —
    * the distribution-level expectation the row rules above cannot
    * express (a 40,000-token document is not wrong in itself; it is
    * wrong relative to its language's length distribution). Quartiles
    * are the engine's exact DISCRETE rank quantiles (value at row
    * ceil(p·n), integer rank arithmetic — the
    * [[TextAnalysis.corpusProfile]] rule, engine-portable), fences the
    * classic q1 − 1.5·IQR / q3 + 1.5·IQR (exact: ints scaled by 1.5 are
    * halves). Emits only the outliers: input columns + `q1`, `q3`,
    * `side` ('low'/'high').
    *
    * One per-stratum rank window (the only corpus shuffle) reduces to
    * #strata fence rows that broadcast back into a map-side filter —
    * the [[CorpusSelection.percentileGate]] shape.
    */
  def iqrOutliers(df: DataFrame, strataCol: String, valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
    def atRank(bp: Int) =
      max(when(col("_rn") === expr(s"(_cnt * ${bp}L + 9999L) DIV 10000L"), col(valueCol)))
    val fences = df
      .withColumn("_rn", row_number().over(w.orderBy(col(valueCol))))
      .withColumn("_cnt", count(lit(1)).over(w))
      .groupBy(col(strataCol))
      .agg(atRank(2500).as("q1"), atRank(7500).as("q3"))
    df.join(broadcast(fences), strataCol)
      .withColumn("_iqr", (col("q3") - col("q1")).cast("double"))
      .withColumn("side",
        when(col(valueCol).cast("double") < col("q1").cast("double") - lit(1.5) * col("_iqr"), lit("low"))
          .when(col(valueCol).cast("double") > col("q3").cast("double") + lit(1.5) * col("_iqr"), lit("high")))
      .where(col("side").isNotNull)
      .drop("_iqr")
  }

  /** Fixed-width-histogram percentile ESTIMATE — the bounded scale path
    * next to the exact rank windows ([[iqrOutliers]],
    * [[CorpusSelection.percentileGate]]): an exact per-stratum
    * percentile costs a full per-stratum sort (the window exchange
    * carries every row), where the histogram costs one map-side-
    * combining `(stratum, bin)` count — at most #strata × #bins rows
    * ever shuffle, constant in corpus size like the KMV sketch. The
    * estimate for percentile `p` is the UPPER bound of the first bin
    * whose cumulative count reaches rank `ceil(p·n)`; error is bounded
    * by `binWidth − 1` by construction — integer arithmetic end to
    * end, so the driver oracle replays it exactly (rank rule identical
    * to [[iqrOutliers]]'s `(cnt·p + 9999) DIV 10000`).
    *
    * Emits (`strataCol`, `p_bp`, `n_rows`, `est_value`) for each
    * requested basis-point percentile. Values must be non-negative
    * integers (lengths, counts, byte sizes — the histogram domain).
    */
  /** Per-group MAD (median absolute deviation) robust outlier gate —
    * the production replacement for mean±kσ flags when a single
    * 10M-char document owns its group's mean (the same failure
    * [[CorpusSelection.winsorize]] conditions against, here as a
    * DETECTOR): per group, med = the exact LOWER median (rank
    * ⌈n/2⌉ under value order — deterministic for even n), mad = lower
    * median of |x − med|, and a row is an outlier iff its robust
    * z-score exceeds 3.5, evaluated as the exact integer
    * cross-multiplication 6745·|x − med| > 35000·mad (0.6745·dev/MAD
    * > 3.5 — no division, no float, so flags are engine- and
    * partition-independent; Iglewicz & Hoaglin's modified z-score).
    * Emits per group: (`groupCol`, n, med, mad, n_outliers,
    * outlier_frac).
    *
    * Plan: two rank windows on the group key (the winsorize sort
    * budget — a mega-group serializes its sort; at that scale swap in
    * the histogram-sketch median) + one broadcast of the two-value
    * group table back.
    */
  def madOutliers(df: DataFrame, groupCol: String, value: Column,
                  idCol: String): DataFrame = {
    val v = df.select(col(groupCol).as("_g"), col(idCol).as("_id"),
      value.cast("long").as("_x"))
    val w = Window.partitionBy(col("_g"))
    def lowerMedian(in: DataFrame, c: String, out: String): DataFrame = in
      .withColumn("_rn", row_number().over(w.orderBy(col(c), col("_id"))))
      .withColumn("_cnt", count(lit(1)).over(w))
      .groupBy(col("_g"))
      .agg(max(when(col("_rn") === expr("(_cnt + 1) div 2"), col(c))).as(out))
    val med = lowerMedian(v, "_x", "med")
    val dev = v.join(broadcast(med), Seq("_g"))
      .withColumn("_ad", abs(col("_x") - col("med")))
    val mad = lowerMedian(dev, "_ad", "mad")
    dev.join(broadcast(mad), Seq("_g"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("_ad") * 6745L > lit(35000L) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("_g").as(groupCol), col("n"), col("med"), col("mad"),
        col("n_outliers"),
        (col("n_outliers").cast("double") / col("n").cast("double")).as("outlier_frac"))
      .orderBy(col(groupCol))
  }

  def histogramQuantiles(df: DataFrame, strataCol: String, value: Column, binWidth: Long,
                         pBasisPoints: Seq[Int]): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(pBasisPoints.nonEmpty && pBasisPoints.forall(p => p > 0 && p <= 10000),
      "percentiles must be in (0, 10000] basis points")
    val counts = df
      .select(col(strataCol), value.cast("long").as("_v"))
      .withColumn("_bin", expr(s"_v div ${binWidth}L"))
      .groupBy(col(strataCol), col("_bin"))
      .agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(strataCol))
    val cum = counts
      .withColumn("_cum", sum(col("_c")).over(
        w.orderBy(col("_bin")).rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("_n", sum(col("_c")).over(w))
    val ps = explode(array(pBasisPoints.map(p => lit(p)): _*)).as("p_bp")
    cum
      .select(col(strataCol), col("_bin"), col("_cum"), col("_n"), ps)
      .where(col("_cum") >= expr("(_n * p_bp + 9999L) DIV 10000L"))
      .groupBy(col(strataCol), col("p_bp"))
      .agg(
        max(col("_n")).as("n_rows"),
        (min(col("_bin")) * lit(binWidth) + lit(binWidth - 1)).as("est_value"))
  }

  /** Benford first-digit audit — the classic ingest-forensics gate for
    * "organically grown" numeric columns (prices, populations, file
    * sizes): the leading significant digit of natural multi-magnitude
    * data follows P(d) = log10(1 + 1/d); synthetic, truncated, or
    * fabricated feeds diverge hard. Used as a cheap upstream-corruption
    * tripwire before a batch lands (Nigrini's forensic-accounting test,
    * applied to pipeline QA).
    *
    * Determinism: the leading digit is extracted WITHOUT log10 — a CASE
    * ladder over exact power-of-ten double literals picks the scale and
    * one IEEE division + floor yields the digit, identical on every
    * engine (a `floor(log10 v)` extraction can flip at 1-ulp boundaries
    * like log10(1000)). The nine Benford probabilities are hard-coded
    * double literals shared with the oracle, so expected counts and
    * χ² terms are single IEEE multiplications/divisions of exact
    * integers — bit-reproducible. Rows with value < 1 are excluded
    * (no leading significant digit on this ladder; report them
    * upstream via [[check]] if they matter).
    *
    * Emits 9 rows: (digit, n, expected, chi2_term, chi2) — `chi2` the
    * global statistic repeated per row (χ²₈; > 20.09 rejects Benford at
    * α=0.01). Plan: one map-side-combined 9-group aggregate over a slim
    * projection; the 9-row windows after it are constant-size. Scales
    * as one scan at any corpus size.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val benford = Seq(0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val v = col(valueCol).cast("double")
    // pick the largest power of ten <= v (exact double literals up to 1e15)
    val scale = (15 to 0 by -1).foldRight(lit(1.0)) { (e, rest) =>
      val p = math.pow(10.0, e) // exact for e <= 22
      when(v >= lit(p), lit(p)).otherwise(rest)
    }
    val digit = floor(v / scale).cast("int")
    val counted = df.where(v >= 1.0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val p = benford.zipWithIndex.foldRight(lit(Double.NaN)) {
      case ((prob, i), rest) => when(col("digit") === (i + 1), lit(prob)).otherwise(rest)
    }
    counted
      .withColumn("expected", p * sum(col("n")).over(w).cast("double"))
      .withColumn("chi2_term",
        (col("n").cast("double") - col("expected")) * (col("n").cast("double") - col("expected"))
          / col("expected"))
      // the 9-term global χ² sums on the 2⁻²⁰ integer grid — associative,
      // so independent of both partitioning and engine summation order
      .withColumn("chi2",
        sum(floor(col("chi2_term") * 1048576.0).cast("long")).over(w).cast("double") / 1048576.0)
      .select(col("digit"), col("n"), col("expected"), col("chi2_term"), col("chi2"))
      .orderBy(col("digit"))
  }

  /** Poisson-bootstrap confidence interval for a mean over an INTEGER
    * metric (Chamandy et al., the streaming/distributed bootstrap: each
    * replica reweights every row with an independent Poisson(1) count,
    * equivalent to resampling-with-replacement at corpus scale but one
    * pass and shuffle-free per replica). The Poisson draw is DERIVED
    * from md5(id, replica) via inverse CDF against hard-coded cumulative
    * literals (identical doubles on every engine — the reproducible-
    * noise discipline of the DP release), capped at 5 (P ≈ 4·10⁻⁴ of
    * truncation per draw; the bias is identical across engines).
    *
    * Per-replica means are EXACT: Poisson weights are small ints, the
    * metric is integer, so Σw·v and Σw are int64 sums and the mean is
    * one division — partitioning-independent. The cross-replica
    * mean/std land in FLOAT (an `replicas`-row double aggregate).
    * Emits one row per replica: (replica, n_eff, mean) plus the
    * constant summary columns (boot_mean, boot_std) for gating.
    *
    * Plan: a bounded `replicas`× explode of slim (id, value) rows into
    * one map-side-combined aggregate with `replicas` groups; the
    * explode never touches wide columns. At any corpus size the
    * exchange carries replicas × partitions partial rows.
    */
  def poissonBootstrapMean(df: DataFrame, idCol: String, valueCol: String,
                           replicas: Int = 32): DataFrame = {
    require(replicas >= 2, s"replicas must be >= 2, got $replicas")
    // cumulative Poisson(1): P(X <= k) for k = 0..4, exact double literals
    val cum = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563)
    val u = (QualityClassifier.md24(concat(lit("boot:"), col(idCol).cast("string"),
      lit(":"), col("r").cast("string"))).cast("double") + lit(0.5)) / lit(16777216.0)
    val w = cum.zipWithIndex.foldRight(lit(5): org.apache.spark.sql.Column) {
      case ((c, k), rest) => when(u < c, k).otherwise(rest)
    }
    val perReplica = df
      .select(col(idCol), col(valueCol).cast("long").as("_v"),
        explode(sequence(lit(0), lit(replicas - 1))).as("r"))
      .withColumn("_w", w.cast("long"))
      .groupBy(col("r").as("replica"))
      .agg(
        sum(col("_w")).as("n_eff"),
        (sum(col("_w") * col("_v")).cast("double") / sum(col("_w")).cast("double")).as("mean"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy()
    perReplica
      .withColumn("boot_mean",
        (sum(col("mean")).over(win) / lit(replicas.toDouble)).cast("float"))
      .withColumn("boot_std",
        sqrt(greatest(
          (sum(col("mean") * col("mean")).over(win)
            - sum(col("mean")).over(win) * sum(col("mean")).over(win) / lit(replicas.toDouble))
            / lit((replicas - 1).toDouble),
          lit(0.0))).cast("float"))
  }

  /** EXACT order statistic without a global sort — a driver-bracketed
    * FANOUT search over the integer value domain: find the smallest v
    * with count(value ≤ v) ≥ k, where k = ⌈n·qNum/qDen⌉ (exact integer
    * ceiling). Each round histograms the bracket into ≤`fanout`
    * equal-width buckets with ONE map-side-combined aggregate over the
    * cached value column (≤`fanout` groups — a bounded-class collect),
    * the driver prefix-sums to the bucket holding rank k, and the
    * bracket shrinks ×`fanout`: log₁₀₂₄(domain) rounds instead of the
    * binary search's log₂ — a 2²⁰ grid resolves in 2 count rounds where
    * the r13 form paid ~21 sequential jobs (r14 measurement:
    * quantile_bisect 3.0 s → ~1 s; the job-wave count, not the bytes,
    * was the cost at every scale). Emits one row (n, k, value_fp),
    * bit-identical to the bisection: both return the unique smallest
    * grid value with rank ≥ k, i.e. the k-th order statistic.
    *
    * The value column must already be integer-gridded (the engine's
    * fixed-point discipline); ties need no special care — "smallest v
    * with rank ≥ k" IS the order statistic under any duplicate mass.
    */
  def exactQuantileBisect(df: DataFrame, valueFpCol: String,
                          qNum: Int, qDen: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = groupedQuantileSearch(
      df.select(lit(0L).as("_g"), col(valueFpCol).cast("long").as("_v")),
      qNum, qDen)
    require(rows.nonEmpty, "empty input")
    spark.createDataset(rows.map { case (_, n, k, v) => (n, k, v) })
      .toDF("n", "k", "value_fp")
  }

  /** Per-GROUP exact order statistic, all groups searched in SHARED
    * rounds: one histogram aggregate per round covers every group still
    * searching (group count must be bounded — experiment arms, a
    * handful of strata — since each round collects ≤ groups×`fanout`
    * count rows and the brackets live on the driver). The A/B median
    * effect runs both arms through ONE round sequence where two
    * independent searches paid double the job waves. Returns driver
    * rows (group, n, k, value_fp) sorted by group; each group's result
    * is bit-identical to an independent [[exactQuantileBisect]] on its
    * rows.
    */
  def groupedQuantileSearch(grouped: DataFrame, qNum: Int, qDen: Int,
                            fanout: Int = 1024): Seq[(Long, Long, Long, Long)] = {
    require(qNum >= 1 && qNum <= qDen, s"need 0 < q <= 1, got $qNum/$qDen")
    require(fanout >= 2, s"fanout must be >= 2, got $fanout")
    // nulls are dropped up front: count(lit(1)) would count a null _v
    // into n (and k) while the histogram filter _v >= lo excluded it,
    // letting k exceed the countable rows and the bucket walk return
    // no bucket — the require below then fails loudly instead of the
    // bracket silently corrupting (null-free inputs are bit-identical)
    val v = grouped.select(col("_g").cast("long").as("_g"),
      col("_v").cast("long").as("_v")).where(col("_v").isNotNull).materialized
    import v.sparkSession.implicits._
    // one stats pass populates the cache and seeds every bracket
    val stats = v.groupBy(col("_g"))
      .agg(count(lit(1)), min(col("_v")), max(col("_v")))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // per-group state: bracket [lo, hi], target rank k, count of values
    // below lo (so the in-bracket target is k - below)
    final case class St(g: Long, n: Long, k: Long, var lo: Long, var hi: Long,
                        var below: Long)
    val st = stats.map { case (g, n, lo, hi) =>
      St(g, n, (n * qNum + qDen - 1) / qDen, lo, hi, 0L)
    }
    // power-of-two bucket widths keep every bucket index a bit-exact
    // shiftright — no double division anywhere near the grid
    val log2Fanout = 63 - java.lang.Long.numberOfLeadingZeros(fanout.toLong)
    def shiftFor(s: St): Int = {
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(s.hi - s.lo)
      math.max(0, bitlen - log2Fanout.toInt)
    }
    while (st.exists(s => s.lo < s.hi)) {
      val active = st.filter(s => s.lo < s.hi)
      // the when-chains are O(groups) per row — bounded by contract
      def chain(f: St => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        active.foldLeft(lit(null).cast("long")) { (acc, s) =>
          when(col("_g") === s.g, f(s)).otherwise(acc)
        }
      val counts = v
        .where(col("_g").isin(active.map(_.g): _*) &&
          col("_v") >= chain(s => lit(s.lo)) && col("_v") <= chain(s => lit(s.hi)))
        .groupBy(col("_g"),
          chain(s => shiftright(col("_v") - lit(s.lo), shiftFor(s))).as("_b"))
        .agg(count(lit(1)).as("_c"))
        .as[(Long, Long, Long)].collect()
      val byG = counts.groupBy(_._1)
      active.foreach { s =>
        val w = 1L << shiftFor(s)
        val cs = byG.getOrElse(s.g, Array.empty).map(r => (r._2, r._3)).sortBy(_._1)
        var cum = s.below
        var b = -1L
        var i = 0
        while (b < 0 && i < cs.length) {
          val next = cum + cs(i)._2
          if (next >= s.k) b = cs(i)._1 else { cum = next; i += 1 }
        }
        // rank k is inside the bracket by invariant, so b is found
        require(b >= 0, s"quantile bracket invariant violated for group " +
          s"${s.g}: rank ${s.k} not inside [${s.lo}, ${s.hi}] " +
          s"(cum=$cum after ${cs.length} buckets)")
        s.below = cum
        s.hi = math.min(s.hi, s.lo + (b + 1) * w - 1)
        s.lo = s.lo + b * w
      }
    }
    Materialize.release(v)
    st.map(s => (s.g, s.n, s.k, s.lo)).toSeq
  }
}
