package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Descriptive statistics / EDA aggregations (SURVEY.md §2.5 A8/A9/A15/A16/A18).
  * All double outputs are rounded (hash-stable) — see MetricOps.exactAvg for
  * the precision policy.
  */
object StatsOps {

  /** A8: describe/summary — count, mean, stddev, min, quartiles, max per
    * group. Quartiles use exact `percentile` (linear interpolation, matches
    * DuckDB quantile_cont), not percentile_approx, so the oracle can hash-
    * match; at true 100 TB scale swap to percentile_approx(…, accuracy).
    */
  def summaryStats(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val v = col(valCol)
    // exact percentile buffers values in the partial aggregate — rebalance
    // so the partial pass parallelizes over a single-file input
    Rebalance(df).groupBy(col(keyCol)).agg(
      count(v).as("n"),
      round(sum(v), 2).as("sum_v"),
      (round(sum(v), 2) / count(v)).as("mean_v"),
      round(stddev_samp(v), 4).as("std_v"),
      round(min(v), 4).as("min_v"),
      round(expr(s"percentile($valCol, 0.25)"), 4).as("q25"),
      round(expr(s"percentile($valCol, 0.5)"), 4).as("median"),
      round(expr(s"percentile($valCol, 0.75)"), 4).as("q75"),
      round(max(v), 4).as("max_v"))
  }

  /** A8 at scale: the same describe/summary via a sort + rank formulation
    * instead of `percentile`. The exact `percentile` aggregate buffers
    * every value of a group inside the (partial) aggregation buffer — at
    * 100 TB a hot group OOMs an executor. Here the values are sorted once
    * per group key (one range-partitioned sort shuffle, spillable), each
    * quantile is picked by rank, and interpolation uses the same
    * `lo + frac * (hi - lo)` formula as `percentile`/`quantile_cont`, so
    * results are identical (SummaryStatsParitySpec pins the two paths to
    * each other and the query keeps the same DuckDB oracle).
    */
  def summaryStatsSorted(df: DataFrame, keyCol: String,
                         valCol: String): DataFrame = {
    // nulls sort last (not filtered) so groups whose values are ALL null
    // still surface — with n=0 and null stats, exactly like the
    // percentile-based summaryStats. Non-null rows keep ranks 1.._n.
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_v").asc_nulls_last)
    // no Rebalance: the window's own exchange hash-partitions by key
    // whatever the input layout, so a round-robin repartition here is a
    // second full shuffle of the input for nothing
    val ranked = df
      .select(col(keyCol), col(valCol).as("_v"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n",
        count(col("_v")).over(Window.partitionBy(col(keyCol))))
    def pick(q: Double, nm: String) = {
      val pos = (col("_n") - 1).cast("double") * q
      Seq(
        min(when(col("_rn") === floor(pos).cast("long") + 1, col("_v")))
          .as(s"_lo_$nm"),
        min(when(col("_rn") === ceil(pos).cast("long") + 1, col("_v")))
          .as(s"_hi_$nm"))
    }
    val v = col("_v")
    val aggs = Seq(
      count(v).as("n"),
      round(sum(v), 2).as("sum_v"),
      (round(sum(v), 2) / count(v)).as("mean_v"),
      round(stddev_samp(v), 4).as("std_v"),
      round(min(v), 4).as("min_v"),
      round(max(v), 4).as("max_v")) ++
      pick(0.25, "q25") ++ pick(0.5, "med") ++ pick(0.75, "q75")
    val agg = ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    def interp(q: Double, nm: String) = {
      val pos = (col("n") - 1).cast("double") * q
      val frac = pos - floor(pos)
      round(col(s"_lo_$nm") + frac * (col(s"_hi_$nm") - col(s"_lo_$nm")), 4)
    }
    agg.select(col(keyCol), col("n"), col("sum_v"), col("mean_v"),
      col("std_v"), col("min_v"),
      interp(0.25, "q25").as("q25"), interp(0.5, "med").as("median"),
      interp(0.75, "q75").as("q75"), col("max_v"))
  }

  /** A9/A18: share-of-rows aggregates — null ratio and predicate means
    * (`isna().mean()`, `(len<10).mean()`). Exact long counts + IEEE division.
    */
  def shareOfRows(df: DataFrame, keyCol: String,
                  preds: Seq[(String, Column)]): DataFrame = {
    val n = count(lit(1))
    val aggs = preds.map { case (name, p) =>
      (sum(p.cast("long")).cast("double") / n).as(name)
    }
    df.groupBy(col(keyCol)).agg(n.as("n_rows"), aggs: _*)
  }

  /** Column profiling — the EDA sweep a pipeline runs on every new table:
    * per column, row count, null count, distinct count, min/max (rendered
    * as strings so one long-form result covers heterogeneous types; the
    * caller chooses string-stable columns/casts for oracle parity). One
    * scan per column; at scale the aggregates partial-combine so each is
    * a single narrow pass + 1-row shuffle, and the union is plan-level
    * (no data movement).
    */
  def profileColumns(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    cols.map { case (name, c) =>
      df.groupBy().agg(
        lit(name).as("col_name"),
        count(lit(1)).as("n_rows"),
        sum(c.isNull.cast("long")).as("n_nulls"),
        countDistinct(c).as("n_distinct"),
        min(c).cast("string").as("min_str"),
        max(c).cast("string").as("max_str"))
    }.reduce(_ unionByName _)

  /** A15: Pearson correlation per group, rounded for hash stability. */
  def corrBy(df: DataFrame, keyCol: String, x: String, y: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(round(corr(col(x), col(y)), 4).as("pearson_r"),
        count(lit(1)).as("n"))

  /** A16: lag-correlation sweep — corr(x shifted by L, y) for L in
    * [-maxLag, maxLag] (Milestone4 cell 13 `lag_corr`). One window shuffle
    * produces all shifted columns; the corr aggregates share one scan.
    */
  def lagCorrSweep(df: DataFrame, keyCol: String, orderCol: String,
                   x: String, y: String, maxLag: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    val lags = (-maxLag to maxLag)
    def tag(l: Int) = (if (l < 0) "m" else "p") + math.abs(l)
    val withLags = lags.foldLeft(df) { (d, l) =>
      val shifted = if (l >= 0) lag(col(x), l).over(w)
                    else lead(col(x), -l).over(w)
      d.withColumn(s"_x_${tag(l)}", shifted)
    }
    val aggs = lags.map(l =>
      round(corr(col(s"_x_${tag(l)}"), col(y)), 4).as(s"corr_lag_${tag(l)}"))
    withLags.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact weighted quantile per group: the smallest value whose
    * cumulative weight reaches q·Σw (the lower weighted quantile — the
    * importance-weighted corpus statistic behind "median doc length by
    * token weight" style reporting).
    *
    * Engine-portable determinism: weights are FIRST aggregated per
    * (group, value) — so the running sum over distinct ordered values
    * never depends on intra-value row order — then one window cumsum and
    * a min-over-qualifying-values pick. Two shuffles (pre-agg + window),
    * both spillable; no per-group buffering, so hot groups can't OOM an
    * executor (same posture as [[summaryStatsSorted]]).
    */
  /** Distribution drift between two labeled populations of the same
    * frame: Population Stability Index per group over fixed-width bins —
    * the standard ingest-monitoring statistic (PSI < 0.1 stable, > 0.25
    * drifted). Bins are fixed [lo, hi)/nBins with clamping (deterministic
    * on both engines — no engine-private quantile sketch), bin shares are
    * Laplace-smoothed ((n_i + 0.5) / (N + 0.5·nBins)) so empty bins stay
    * defined, and the final PSI is rounded to 6 (ln is the one
    * transcendental — both engines evaluate it on identical doubles).
    *
    * One aggregation pass: (group, side, bin) counts with map-side
    * partials, then a tiny per-group fold — no window, no join back to
    * the data. Output: (groupCol, psi, n_ref, n_cur).
    *
    * Groups present in only ONE population — e.g. a lang that vanished
    * entirely from current ingest, the strongest drift signal there is —
    * still emit a row: the sides meet in a full-outer join, the missing
    * side reports n=0 and psi comes out null (PSI against an absent
    * population is undefined; null is the monitorable sentinel, a
    * silently-dropped row is not).
    */
  def psiDrift(df: DataFrame, groupCol: String, sideCol: String,
               refSide: String, valCol: String, lo: Double, hi: Double,
               nBins: Int): DataFrame = {
    val width = (hi - lo) / nBins
    val bin = least(greatest(
      floor((col(valCol) - lo) / width).cast("int"), lit(0)), lit(nBins - 1))
    val counts = df
      .groupBy(col(groupCol),
        (col(sideCol) === refSide).as("_is_ref"), bin.as("_bin"))
      .agg(count(lit(1)).as("_n"))
    val perSide = counts.groupBy(col(groupCol), col("_is_ref"))
      .agg(sum(col("_n")).as("_tot"),
        collect_list(struct(col("_bin"), col("_n"))).as("_bins"))
    // smoothed share per bin, folded to PSI in one small per-group pass.
    // An empty bin is an empty filtered array: `get` is null-on-miss under
    // either ANSI setting (`getItem(0)` throws INVALID_ARRAY_INDEX with
    // ANSI on)
    def share(binsCol: Column, totCol: Column, b: Int): Column = {
      val n = coalesce(get(filter(binsCol, x => x.getField("_bin") === b),
        lit(0)).getField("_n"), lit(0L))
      (n.cast("double") + 0.5) / (totCol.cast("double") + 0.5 * nBins)
    }
    val ref = perSide.filter(col("_is_ref"))
      .select(col(groupCol), col("_tot").as("n_ref"),
        col("_bins").as("_rb"))
    val cur = perSide.filter(!col("_is_ref"))
      .select(col(groupCol), col("_tot").as("n_cur"),
        col("_bins").as("_cb"))
    val psi = (0 until nBins).map { b =>
      val p = share(col("_rb"), col("n_ref"), b)
      val q = share(col("_cb"), col("n_cur"), b)
      (p - q) * log(p / q)
    }.reduce(_ + _)
    // full outer: one-sided groups surface with psi=null + n=0 on the
    // absent side (share() yields null when the side's total is null,
    // which nulls the whole PSI sum) instead of vanishing from output
    ref.join(cur, Seq(groupCol), "full_outer")
      .select(col(groupCol), round(psi, 6).as("psi"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
  }

  def weightedQuantile(df: DataFrame, keyCol: String, valCol: String,
                       weightCol: String, q: Double): DataFrame = {
    val perValue = Rebalance(df)
      .groupBy(col(keyCol), col(valCol).as("_v"))
      .agg(sum(col(weightCol)).as("_w"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // per-key totals as a FULL-frame window over the SAME partitioning
    // and ordering: both sums share one WindowExec (one sort, one
    // partition buffer) — a separate totals aggregate would re-scan and
    // re-aggregate the whole input on a second plan branch (Spark does
    // not share common subplans), which doubled this operator's cost
    val wAll = Window.partitionBy(col(keyCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = perValue
      .withColumn("_cw", sum(col("_w")).over(w))
      .withColumn("_tw", sum(col("_w")).over(wAll))
    cum.filter(col("_cw") >= lit(q) * col("_tw"))
      .groupBy(col(keyCol))
      .agg(min(col("_v")).as(s"wq_$valCol"),
        max(col("_tw")).as("total_weight"))
  }

  /** [[weightedQuantile]] for LOW-cardinality keys: the direct form's
    * cumulative-sum window gives each key exactly ONE task, so with a
    * handful of groups (returnflag has 3) the heavy sort runs at
    * 3-way parallelism no matter how large the cluster — the classic
    * "window partition = unit of parallelism" scale wall.
    *
    * This form restores full parallelism with a two-level scan over a
    * `width_bucket` range partition of the value axis (monotone in the
    * value, so per-bucket subtotals + a tiny bucket-level cumsum equal
    * the global running sum):
    *   1. per-(key,value) weight pre-aggregation (same as direct);
    *   2. per-(key,bucket) subtotals — a fully parallel hash aggregate;
    *   3. bucket-level cumsum over keys x `buckets` rows (trivial);
    *      the quantile bucket is the first whose cum reaches q.Sw;
    *   4. the in-bucket cumsum re-sorts only ~1/`buckets` of one key's
    *      values (offset by the prior buckets' cumulative), and the
    *      smallest qualifying value wins — identical semantics to the
    *      direct form.
    * At 100 TB the two heavy stages (1, 2) are hash aggregates that
    * partial-combine map-side; no task ever sorts a whole key.
    *
    * Preconditions: key cardinality bounded (per-key bounds/targets ride
    * a broadcast join — same bounded fan-in posture as the codebook
    * broadcasts); weights integer-valued if bit-exact parity with a
    * serial scan matters (frame sums are then exact in any accumulation
    * order; fractional weights can flip a tie-adjacent pick). For
    * high-cardinality keys use [[weightedQuantile]] — each key's slice is
    * small there, so per-key tasks are the right parallelism unit.
    */
  def weightedQuantileBucketed(df: DataFrame, keyCol: String,
                               valCol: String, weightCol: String,
                               q: Double, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    // Spark does NOT share common subplans: every DataFrame reference is
    // a fresh evaluation of its whole subtree. The first cut of this
    // operator derived stats / per-bucket totals / the final in-bucket
    // pass all from one per-(key,value) pre-aggregate, which therefore
    // re-scanned AND re-shuffled the input ~5x. This form runs three
    // stages over the raw input (four physical scans — the bucket stage
    // re-embeds the bounds scan), each pruned to 3 columns and each a
    // map-side partial aggregate, with ONE small shuffle: the per-value
    // collapse of the ~1/`buckets` slice holding the quantile. No
    // Rebalance here: the per-row work is numeric compare/accumulate
    // (not the hash/regex loads Rebalance exists for), and a repartition
    // would run a full shuffle of the input once per branch.
    val raw = df
      .select(col(keyCol), col(valCol).as("_v"),
        col(weightCol).as("_w"))

    // scan 1: per-key bounds + total weight (no distinct-value shuffle —
    // aggregates the raw rows directly)
    val stats = raw.groupBy(col(keyCol))
      .agg(min(col("_v")).as("_lo"), max(col("_v")).as("_hi"),
        sum(col("_w")).as("_tw"))

    // monotone range partition of the value axis; single-valued keys and
    // the v == hi edge (width_bucket's overflow bucket) clamp into range.
    // Bucket id is a pure function of (_v, _lo, _hi), so assigning it on
    // the raw scan here and again on scan 3 yields identical ids.
    val bucketOf = when(col("_lo") === col("_hi"), lit(1))
      .otherwise(least(greatest(width_bucket(col("_v"), col("_lo"),
        col("_hi"), lit(buckets)), lit(1)), lit(buckets)))

    // scan 2: per-(key, bucket) weight subtotals — fully parallel hash
    // aggregate straight off the raw rows (bucketing doesn't need the
    // per-value collapse)
    val perBucket = raw.join(broadcast(stats), Seq(keyCol))
      .withColumn("_b", bucketOf)
      .groupBy(col(keyCol), col("_b"))
      .agg(sum(col("_w")).as("_bw"), max(col("_tw")).as("_tw"))

    // bucket-level cumsum over keys x `buckets` rows (trivial); the
    // quantile bucket is the FIRST whose cum reaches q.Sw — selected via
    // row_number over the qualifying rows, so the cumsum subtree is
    // evaluated once (a min-bucket join-back would re-evaluate it)
    val wB = Window.partitionBy(col(keyCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cumB = perBucket.withColumn("_cb", sum(col("_bw")).over(wB))
    val qualifying = cumB.filter(col("_cb") >= lit(q) * col("_tw"))
    val pick = qualifying
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("_b"))))
      .filter(col("_rn") === 1)
      .select(col(keyCol), col("_b").as("_qb"),
        (col("_cb") - col("_bw")).as("_prior"), col("_tw"))

    // scan 3: only the quantile bucket's slice (~1/`buckets` of the
    // data) is collapsed per-value and cumsum'd — the one shuffle+sort,
    // bounded and key-parallel
    val wIn = Window.partitionBy(col(keyCol)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    raw.join(broadcast(stats.select(col(keyCol), col("_lo"), col("_hi"))),
        Seq(keyCol))
      .withColumn("_b", bucketOf)
      .join(broadcast(pick), Seq(keyCol))
      .filter(col("_b") === col("_qb"))
      .groupBy(col(keyCol), col("_v"), col("_prior"), col("_tw"))
      .agg(sum(col("_w")).as("_w"))
      .withColumn("_cw", col("_prior") + sum(col("_w")).over(wIn))
      .filter(col("_cw") >= lit(q) * col("_tw"))
      .groupBy(col(keyCol))
      .agg(min(col("_v")).as(s"wq_$valCol"),
        max(col("_tw")).as("total_weight"))
  }

  /** Key-distribution skew profile — the diagnosis a 100 TB operator
    * runs BEFORE keying a shuffle on a column: top-K heaviest keys with
    * their row share, plus the distribution stats that predict shuffle
    * behavior (n_total, n_distinct, and skew_factor = heaviest key's
    * count over the mean key count — 1.0 is uniform; >> 1 means the
    * heaviest reducer partition holds skew_factor × its fair share, the
    * trigger for salting or AQE skew-split).
    *
    * Two aggregations over the per-key counts (a one-row global stat +
    * a TakeOrdered top-K) — the count itself map-side partial-combines,
    * so profiling a skewed column never suffers the skew it measures.
    * All emitted doubles are ratios of exact longs.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    // both consumers (global stats + top-K) reference the counts frame;
    // Spark shares no common subplans, so without materialization each
    // branch would re-scan and re-aggregate the BASE data. The counts
    // frame is bounded by key cardinality (<< rows), so one eager
    // checkpoint trades a second full input pass for a distinct-keys
    // shuffle read
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .transform(c => if (graft.PlanMode.isExplainOnly) c
        else c.localCheckpoint(eager = true))
    val stats = counts.agg(sum(col("cnt")).as("n_total"),
      count(lit(1)).as("n_distinct"), max(col("cnt")).as("max_cnt"))
    counts.orderBy(col("cnt").desc, col(keyCol)).limit(topK)
      .crossJoin(broadcast(stats))
      .select(col(keyCol), col("cnt"),
        (col("cnt").cast("double") / col("n_total")).as("share"),
        col("n_total"), col("n_distinct"),
        (col("max_cnt").cast("double") * col("n_distinct") /
          col("n_total")).as("skew_factor"))
  }
}
