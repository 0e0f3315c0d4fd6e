package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functional.MayFail

/** Behavioral analytics over event streams — ordered funnels, cohort
  * retention, and transition mining. These are the product-analytics
  * counterparts of the sessionization surface (Stream.sessionize): the
  * questions a training-data pipeline asks of its telemetry ("where do
  * users drop off", "which cohorts stick", "what follows what") at the
  * same scale as the corpus itself.
  *
  * Every operator here shuffles ONCE on the entity key and runs the
  * sequential logic as in-partition window passes over that single
  * exchange — the same partitioning-reuse discipline as
  * [[TimeSeries.gapFill]]'s linear fill.
  */
object Behavior {

  /** Per-entity ordered funnel: for each user, the timestamp (µs) at
    * which each step of `steps` was first reached, where step k counts
    * only events STRICTLY after the step k−1 time and within
    * `windowSec` of the step-1 (funnel entry) time. NULL = not reached.
    *
    * Returns `(userCol, step_1_us … step_k_us: bigint)` — one row per
    * entity that has at least one event of a funnel type.
    *
    * Plan: filter to funnel event types (pushed to the scan), ONE hash
    * exchange on the entity, then k unbounded-frame window aggregates
    * over that same partitioning (Catalyst reuses the exchange — the
    * chain adds in-partition passes, never shuffles), and a final
    * same-key groupBy collapse. Each step's time depends on the
    * previous step's WINDOW RESULT, which is why this is a window
    * chain and not a single aggregation.
    */
  def funnelSteps(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSec: Long
  ): MayFail[DataFrame] = MayFail {
    require(steps.size >= 2, s"a funnel needs >= 2 steps: $steps")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val w = Window.partitionBy(col(userCol))
    val base = df
      .filter(col(typeCol).isin(steps: _*) && col(tsCol).isNotNull)
      .select(col(userCol), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__us"))
    val winUs = windowSec * 1000000L
    val stepped = steps.zipWithIndex.foldLeft(base) { case (acc, (step, i)) =>
      val name = s"step_${i + 1}_us"
      val qualifies =
        if (i == 0) col("__t") === lit(step)
        else col("__t") === lit(step) &&
          col("__us") > col(s"step_${i}_us") &&
          col("__us") <= col("step_1_us") + lit(winUs)
      acc.withColumn(name, min(when(qualifies, col("__us"))).over(w))
    }
    val stepCols = steps.indices.map(i => s"step_${i + 1}_us")
    // step columns are constant per user after the windows — min collapses
    // to one row per entity on the SAME partitioning (no new exchange)
    stepped.groupBy(col(userCol))
      .agg(min(stepCols.head).as(stepCols.head),
        stepCols.tail.map(c => min(c).as(c)): _*)
  }

  /** Funnel summary: one row per step with the entity count that
    * reached it, the conversion from funnel entry (`conv_overall`) and
    * from the previous step (`conv_step`). Counts are exact; rates are
    * `round(_, 4)` with the library's +1e-9 tie-shift (both engines
    * divide identical integers, so the pre-round doubles are
    * bit-identical).
    *
    * Returns `(step_idx: int, step: string, users: bigint,
    * conv_overall: double, conv_step: double)`.
    */
  def funnel(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSec: Long
  ): MayFail[DataFrame] =
    funnelSteps(df, tsCol, userCol, typeCol, steps, windowSec).map { per =>
      val counts = per.agg(
        count(col("step_1_us")).as("c1"),
        steps.indices.tail.map(i =>
          count(col(s"step_${i + 1}_us")).as(s"c${i + 1}")): _*)
      val stackArgs = steps.zipWithIndex.map { case (s, i) =>
        s"${i + 1}, '${s.replace("'", "''")}', c${i + 1}"
      }.mkString(", ")
      counts
        .selectExpr(s"stack(${steps.size}, $stackArgs) AS (step_idx, step, users)",
          "c1")
        .withColumn("prev_users",
          lag(col("users"), 1).over(Window.orderBy(col("step_idx"))))
        .withColumn("conv_overall",
          when(col("c1") > 0,
            round(col("users") / col("c1") + lit(1e-9), 4)))
        .withColumn("conv_step",
          when(col("prev_users") > 0,
            round(col("users") / col("prev_users") + lit(1e-9), 4)))
        .select(col("step_idx").cast("int").as("step_idx"), col("step"),
          col("users"), col("conv_overall"), col("conv_step"))
        .orderBy("step_idx")
    }

  /** Time-to-convert profile over [[funnelSteps]]: per step, how many
    * entities reached it and the min / mean / max seconds from funnel
    * entry. min/max are exact whole seconds; the mean divides an exact
    * µs sum by the entity count (bit-deterministic — timestamps are
    * integral micros).
    *
    * Returns `(step_idx: int, step, users, min_sec, max_sec,
    * avg_sec: double)` — timing columns NULL for step 1 (zero by
    * definition would hide nothing) and for unreached steps.
    */
  def funnelTiming(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSec: Long
  ): MayFail[DataFrame] =
    funnelSteps(df, tsCol, userCol, typeCol, steps, windowSec).map { per =>
      val aggs = steps.indices.flatMap { i =>
        val c = col(s"step_${i + 1}_us")
        val d = c - col("step_1_us")
        Seq(count(c).as(s"c${i + 1}"),
          min(expr(s"(step_${i + 1}_us - step_1_us) div 1000000"))
            .as(s"mn${i + 1}"),
          max(expr(s"(step_${i + 1}_us - step_1_us) div 1000000"))
            .as(s"mx${i + 1}"),
          sum(d).as(s"s${i + 1}"))
      }
      val counts = per.agg(aggs.head, aggs.tail: _*)
      val stackArgs = steps.zipWithIndex.map { case (s, i) =>
        val k = i + 1
        s"$k, '${s.replace("'", "''")}', c$k, mn$k, mx$k, s$k"
      }.mkString(", ")
      counts
        .selectExpr(s"stack(${steps.size}, $stackArgs) AS " +
          "(step_idx, step, users, min_sec, max_sec, __sum_us)")
        .select(col("step_idx").cast("int").as("step_idx"), col("step"),
          col("users"),
          when(col("step_idx") > 1, col("min_sec")).as("min_sec"),
          when(col("step_idx") > 1, col("max_sec")).as("max_sec"),
          when(col("step_idx") > 1 && col("users") > 0,
            round(col("__sum_us") / col("users") / 1000000L + lit(1e-9), 4))
            .as("avg_sec"))
        .orderBy("step_idx")
    }

  /** [[funnel]] split by a per-entity segment (acquisition channel,
    * country, experiment arm…) supplied as a `(userCol, segment)`
    * dimension frame — the every-product-team "where does each segment
    * drop off" view. Entities without a segment row are dropped (inner
    * join; pre-fill a default segment to keep them). ONE segment per
    * entity is enforced: an entity mapped to several segment values
    * keeps only its MINIMUM segment (deterministic), so per-segment
    * user counts and conversion denominators are never inflated by
    * double membership.
    *
    * Returns `(segment, step_idx, step, users, conv_overall,
    * conv_step)` ordered within each segment.
    *
    * Plan: the [[funnelSteps]] single-exchange chain, a join to the
    * (usually broadcast-scale) dimension frame, one partial-agg
    * shuffle to segments, and the per-segment stack + lag over a
    * segment×steps-sized frame.
    */
  def funnelBySegment(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      typeCol: String,
      segments: DataFrame,
      segmentCol: String,
      steps: Seq[String],
      windowSec: Long
  ): MayFail[DataFrame] =
    funnelSteps(df, tsCol, userCol, typeCol, steps, windowSec).map { per =>
      val seg = segments.select(col(userCol),
          col(segmentCol).cast("string").as("segment"))
        .filter(col("segment").isNotNull)
        .groupBy(col(userCol)).agg(min(col("segment")).as("segment"))
      val aggs = steps.indices.map(i =>
        count(col(s"step_${i + 1}_us")).as(s"c${i + 1}"))
      val bySeg = per.join(seg, Seq(userCol))
        .groupBy("segment")
        .agg(aggs.head, aggs.tail: _*)
      val stackArgs = steps.zipWithIndex.map { case (s, i) =>
        s"${i + 1}, '${s.replace("'", "''")}', c${i + 1}"
      }.mkString(", ")
      val w = Window.partitionBy(col("segment")).orderBy(col("step_idx"))
      bySeg
        .selectExpr("segment", "c1",
          s"stack(${steps.size}, $stackArgs) AS (step_idx, step, users)")
        .withColumn("prev_users", lag(col("users"), 1).over(w))
        .select(col("segment"), col("step_idx").cast("int").as("step_idx"),
          col("step"), col("users"),
          when(col("c1") > 0,
            round(col("users") / col("c1") + lit(1e-9), 4)).as("conv_overall"),
          when(col("prev_users") > 0,
            round(col("users") / col("prev_users") + lit(1e-9), 4))
            .as("conv_step"))
    }

  /** Cohort retention matrix: cohort = the entity's FIRST active
    * `bucketSec` bucket; for every (cohort, bucket-offset) cell, the
    * count of cohort entities active in that bucket and the retention
    * rate against the cohort's size (its offset-0 count — every entity
    * is active in its own first bucket by construction).
    *
    * Returns `(cohort_ts: timestamp, offset: int, active: bigint,
    * cohort_size: bigint, retention: double)`.
    *
    * Plan: one exchange on the entity (window-min cohort assignment +
    * per-(entity, bucket) dedupe ride the same partitioning), one
    * partial-agg shuffle to the (cohort, offset) matrix — whose size is
    * cohorts × offsets, tiny — and a broadcast join-back of the
    * offset-0 sizes. Entity cardinality never concentrates on one task.
    */
  def cohortRetention(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      bucketSec: Long
  ): MayFail[DataFrame] = MayFail {
    require(bucketSec > 0, s"bucketSec must be positive: $bucketSec")
    val w = Window.partitionBy(col(userCol))
    val buckets = df.filter(col(tsCol).isNotNull)
      .select(col(userCol),
        (floor(col(tsCol).cast("long") / bucketSec) * bucketSec)
          .cast("long").as("__b"))
      .withColumn("__cohort", min(col("__b")).over(w))
      .select(col(userCol), col("__cohort"), col("__b"))
      .distinct()
    val matrix = buckets.groupBy(col("__cohort"),
        ((col("__b") - col("__cohort")) / bucketSec).cast("int").as("offset"))
      .agg(count(lit(1)).as("active"))
    val sizes = matrix.filter(col("offset") === 0)
      .select(col("__cohort"), col("active").as("cohort_size"))
    matrix.join(broadcast(sizes), Seq("__cohort"))
      .select(timestamp_seconds(col("__cohort")).as("cohort_ts"),
        col("offset"), col("active"), col("cohort_size"),
        round(col("active") / col("cohort_size") + lit(1e-9), 4)
          .as("retention"))
  }

  /** Cohort LTV curves — cumulative value per user by cohort age, the
    * revenue companion to [[cohortRetention]] (retention says who came
    * back; LTV says what they were worth by age k — the payback-window
    * readout). Cohort = the user's first value-bearing bucket; rows
    * with NULL ts/value don't count toward cohorts or revenue
    * (documented contract).
    *
    * Returns `(cohort_ts: timestamp, age: int, active, cohort_size:
    * bigint, revenue, cum_revenue, ltv: double)` — `active` distinct
    * spenders at that age, `ltv = cum_revenue / cohort_size`. Only
    * observed (cohort, age) cells emit (gap ages carry no revenue;
    * left-join a grid downstream if a dense matrix is needed).
    *
    * Determinism: revenue sums are exact ×`scale` longs, the running
    * cumulative is exact, and `ltv` is one IEEE chain of exact
    * integers — gate-stable unrounded.
    *
    * Plan: one per-user window for the cohort tag, one partial-agg
    * shuffle to (cohort, age) cells, a broadcast of per-cohort sizes,
    * and a running window over the CELL matrix (cohorts × ages rows,
    * never user-level).
    */
  def cohortLtv(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      valueCol: String,
      bucketSec: Long,
      scale: Long = 100L
  ): MayFail[DataFrame] = MayFail {
    require(bucketSec > 0, s"bucketSec must be positive: $bucketSec")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val w = Window.partitionBy(col(userCol))
    val rows = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(userCol),
        (floor(col(tsCol).cast("long") / bucketSec) * bucketSec)
          .cast("long").as("__b"),
        round(col(valueCol) * scale).cast("long").as("__v"))
      .withColumn("__cohort", min(col("__b")).over(w))
    val matrix = rows.groupBy(col("__cohort"),
        ((col("__b") - col("__cohort")) / bucketSec).cast("int").as("age"))
      .agg(sum(col("__v")).as("__rev"),
        countDistinct(col(userCol)).as("active"))
    val sizes = rows.groupBy(col("__cohort"))
      .agg(countDistinct(col(userCol)).as("cohort_size"))
    val cum = Window.partitionBy(col("__cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    matrix.join(broadcast(sizes), Seq("__cohort"))
      .withColumn("__cum", sum(col("__rev")).over(cum))
      .select(timestamp_seconds(col("__cohort")).as("cohort_ts"),
        col("age"), col("active"), col("cohort_size"),
        (col("__rev").cast("double") / scale).as("revenue"),
        (col("__cum").cast("double") / scale).as("cum_revenue"),
        (col("__cum").cast("double") / scale / col("cohort_size"))
          .as("ltv"))
  }

  /** First-order transition matrix over per-entity event sequences:
    * counts of consecutive (prev_type → type) pairs, ordered by
    * (`tsCol`, `idCol`) within each entity ( `idCol` makes equal-µs
    * orderings deterministic), with the row-conditional probability.
    * `maxGapSec` treats longer silences as sequence breaks (no
    * transition across them) — `None` links everything.
    *
    * Returns `(prev_type, type, n: bigint, p: double)`.
    *
    * Plan: one exchange on the entity, one in-partition lag pass, one
    * partial-agg shuffle to the (type × type) matrix; `p` normalizes
    * with a window over that tiny matrix.
    */
  def transitionMatrix(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      typeCol: String,
      maxGapSec: Option[Long] = None
  ): MayFail[DataFrame] = MayFail {
    maxGapSec.foreach(g => require(g > 0, s"maxGapSec must be positive: $g"))
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us"), col(idCol))
    val lagged = df.filter(col(tsCol).isNotNull)
      .select(col(userCol), col(idCol), col(typeCol).as("type"),
        unix_micros(col(tsCol)).as("__us"))
      .withColumn("prev_type", lag(col("type"), 1).over(w))
      .withColumn("__prev_us", lag(col("__us"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val linked = maxGapSec match {
      case Some(g) => lagged.filter(col("__us") - col("__prev_us") <= g * 1000000L)
      case None    => lagged
    }
    val matrix = linked.groupBy(col("prev_type"), col("type"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("prev_type"))
    matrix.withColumn("p",
      round(col("n") / sum(col("n")).over(wp) + lit(1e-9), 4))
  }

  /** DAU/MAU stickiness: per day, the distinct entities active that
    * day (DAU), the distinct entities active in the trailing
    * `windowDays` (MAU), and their ratio — the standard engagement
    * depth metric ("how much of the monthly audience shows up
    * daily").
    *
    * Returns `(day_ts: timestamp, dau, mau: bigint,
    * stickiness: double)` for every day in the observed span (days
    * with no activity report DAU 0 against the still-live MAU).
    *
    * Plan: one distinct pass to (entity, day), a `windowDays`-way
    * slim explode (each active day contributes the entity to the
    * following window's MAU — the documented fan-out; distinct-count
    * windows don't compose, this is the standard reduction), and one
    * partial-agg shuffle per metric. Counts exact; the ratio divides
    * identical longs.
    */
  def stickiness(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      windowDays: Int = 30
  ): MayFail[DataFrame] = MayFail {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val day = floor(col(tsCol).cast("long") / 86400L).cast("long").as("__d")
    val ud = df.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), day)
      .distinct()
    val span = ud.agg(min(col("__d")).as("__lo"), max(col("__d")).as("__hi"))
    val dau = ud.groupBy("__d").agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("__u"),
        explode(sequence(col("__d"), col("__d") + lit(windowDays - 1)))
          .as("__d"))
      .groupBy("__d").agg(countDistinct(col("__u")).as("mau"))
    val grid = span.select(
      explode(sequence(col("__lo"), col("__hi"))).as("__d"))
    grid.join(mau, Seq("__d"), "left")
      .join(dau, Seq("__d"), "left")
      .select(timestamp_seconds(col("__d") * 86400L).as("day_ts"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("mau"), lit(0L)).as("mau"))
      .withColumn("stickiness",
        when(col("mau") > 0,
          round(col("dau") / col("mau") + lit(1e-9), 4)))
  }

  /** Activity-frequency histogram (the "L28/L30 curve"): how many
    * entities were active on exactly k distinct `bucketSec` buckets —
    * the engagement-distribution shape (a healthy product shows a
    * smile: many 1-bucket tourists, a bump of every-bucket devotees).
    *
    * Returns `(buckets_active: bigint, n_entities: bigint)`, ascending.
    * Two partial-agg shuffles ((entity, bucket) dedupe → per-entity
    * count → histogram); exact counts.
    */
  def activityHistogram(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      bucketSec: Long = 86400L
  ): MayFail[DataFrame] = MayFail {
    require(bucketSec > 0, s"bucketSec must be positive: $bucketSec")
    df.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        floor(col(tsCol).cast("long") / bucketSec).cast("long").as("__b"))
      .distinct()
      .groupBy("__u").agg(count(lit(1)).as("buckets_active"))
      .groupBy("buckets_active").agg(count(lit(1)).as("n_entities"))
  }

  /** Per-day split of actives into NEW (first-ever activity that day)
    * and RETURNING — the acquisition-vs-retention composition of every
    * day's audience. Returns `(day_ts, new_users, returning_users:
    * bigint)` for days with activity. One exchange on the entity (the
    * first-day window rides the (entity, day) dedupe), one partial-agg
    * shuffle to days; exact counts.
    */
  def newVsReturning(
      df: DataFrame,
      tsCol: String,
      userCol: String
  ): MayFail[DataFrame] = MayFail {
    val w = Window.partitionBy(col("__u"))
    df.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        floor(col(tsCol).cast("long") / 86400L).cast("long").as("__d"))
      .distinct()
      .withColumn("__first", min(col("__d")).over(w))
      .groupBy("__d").agg(
        count(when(col("__d") === col("__first"), 1)).as("new_users"),
        count(when(col("__d") =!= col("__first"), 1)).as("returning_users"))
      .select(timestamp_seconds(col("__d") * 86400L).as("day_ts"),
        col("new_users"), col("returning_users"))
  }

  /** Distributed global row_number over a total order, without a
    * single-partition sort: range-repartition on the order keys
    * (totally ordered partitions), eagerly `localCheckpoint` so both
    * consumers below read the SAME partitioning, count rows per
    * partition (a tiny ≤P-row frame), turn the counts into cumulative
    * offsets, broadcast them back, and add the in-partition
    * `row_number` to the partition's offset. Every sort is parallel;
    * the only single-partition work is the ≤P-row offset scan.
    *
    * Returns (frame + rnName column, the checkpointed frame so the
    * caller can release its storage — `Optimise.releaseCheckpoint` —
    * once downstream work is materialized).
    */
  private def withGlobalRowNumber(
      d: DataFrame,
      order: Seq[Column],
      rnName: String
  ): (DataFrame, DataFrame) = {
    val p = d.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = d.repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    val ranked = ranged.join(broadcast(offsets), "__pid")
      .withColumn(rnName,
        col("__off") + row_number().over(
          Window.partitionBy(col("__pid")).orderBy(order: _*)))
      .drop("__pid", "__off")
    (ranked, ranged)
  }

  /** Closed-form ntile from a 1-based global row number: with
    * `q = n div k`, `r = n mod k`, the first r buckets hold q+1 rows —
    * identical bucket sizing to SQL `ntile(k)`, computed arithmetically
    * so no ntile window (and no global sort) is needed.
    */
  private def ntileFromRowNumber(rn: String, n: String, k: Int): Column =
    expr(s"""CAST(CASE
         WHEN $rn <= ($n % $k) * (($n div $k) + 1)
         THEN ($rn + ($n div $k)) div (($n div $k) + 1)
         ELSE ($n % $k) +
           ($rn - ($n % $k) * (($n div $k) + 1) + greatest($n div $k, 1) - 1)
             div greatest($n div $k, 1)
         END AS INT)""")

  /** RFM segmentation: per entity, Recency (days since last activity,
    * measured against the corpus's last day so the result is a pure
    * function of the data), Frequency (distinct active days), Monetary
    * (summed `valueCol`), each quantile-scored 1…`nTiles` with 1 =
    * BEST (most recent / most frequent / highest value; entity id
    * tiebreak makes every score deterministic — bit-identical to
    * `ntile` over the same (metric, id) order).
    *
    * Returns `(userCol, recency_days, frequency: bigint, monetary,
    * r_score, f_score, m_score: int)`.
    *
    * Plan: one exchange on the entity for the three aggregates, a
    * 1-row broadcast of (corpus max day, entity count), then three
    * [[withGlobalRowNumber]] passes — range exchange + parallel
    * in-partition sort each, NO single-partition window — with the
    * score derived arithmetically by [[ntileFromRowNumber]].
    * Superseded checkpoints are released as soon as the next pass
    * materializes; the final pass's checkpoint backs the returned
    * frame and stays pinned until the caller drops it.
    */
  def rfm(
      df: DataFrame,
      tsCol: String,
      userCol: String,
      valueCol: String,
      nTiles: Int = 5
  ): MayFail[DataFrame] = MayFail {
    require(nTiles >= 2, s"nTiles must be >= 2: $nTiles")
    val day = floor(col(tsCol).cast("long") / 86400L).cast("long")
    val per = df.filter(col(tsCol).isNotNull)
      .select(col(userCol), day.as("__d"), col(valueCol).cast("double").as("__v"))
      .groupBy(col(userCol))
      .agg(max(col("__d")).as("__last"),
        countDistinct(col("__d")).as("frequency"),
        coalesce(sum(col("__v")), lit(0.0)).as("monetary"))
    val totals = per.agg(max(col("__last")).as("__m"),
      count(lit(1)).as("__n"))
    val base = per.crossJoin(broadcast(totals))
      .withColumn("recency_days", col("__m") - col("__last"))
    val (s1, c1) = withGlobalRowNumber(base,
      Seq(col("recency_days"), col(userCol)), "__rn_r")
    val (s2, c2) = withGlobalRowNumber(s1,
      Seq(col("frequency").desc, col(userCol)), "__rn_f")
    graft.physical.Optimise.releaseCheckpoint(c1)
    val (s3, c3) = withGlobalRowNumber(s2,
      Seq(col("monetary").desc, col(userCol)), "__rn_m")
    graft.physical.Optimise.releaseCheckpoint(c2)
    val _ = c3 // backs the returned frame; pinned until the caller drops it
    s3
      .withColumn("r_score", ntileFromRowNumber("__rn_r", "__n", nTiles))
      .withColumn("f_score", ntileFromRowNumber("__rn_f", "__n", nTiles))
      .withColumn("m_score", ntileFromRowNumber("__rn_m", "__n", nTiles))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
  }

  /** Kaplan–Meier survival estimator over a per-entity
    * `(duration, observed)` frame — the churn/retention curve with
    * right-censoring done properly: entities still active at the end
    * of observation (`observed` = 0/false) leave the risk set without
    * counting as churn events, so the curve is unbiased by the
    * snapshot date. Feed per-user lifetimes (last − first active day,
    * censored when still active near the corpus edge).
    *
    * Returns one row per DISTINCT duration:
    * `(duration, n_risk, n_events, n_censored: bigint, survival,
    * survival_se, ci_lo, ci_hi: double)` — `survival` is the
    * product-limit `Π_{tⱼ ≤ t} (1 − dⱼ/nⱼ)` (constant across
    * censor-only rows), `survival_se` the Greenwood standard error
    * `S·√(Σ dⱼ/(nⱼ(nⱼ−dⱼ)))`, and `ci_lo/ci_hi` the 95% normal
    * interval clamped to [0, 1] (terms where the risk set is consumed
    * entirely contribute 0 — survival is 0 from there anyway).
    *
    * Plan: one partial-agg shuffle to the duration grid, then
    * grid-sized windows (a reverse running count for the risk set and
    * a running product for the curve) — distinct-duration granularity,
    * never rows, the [[graft.operators.Stats.mannWhitneyU]]
    * discipline. The running product multiplies in grid order on both
    * engines; cross-engine ulp drift is χ²-tier (round comparisons
    * with the tie-shift).
    */
  def kaplanMeier(
      df: DataFrame,
      durationCol: String,
      observedCol: String
  ): MayFail[DataFrame] = MayFail {
    val dur = col(durationCol)
    val obs = col(observedCol).cast("boolean")
    val base = df.filter(dur.isNotNull && dur >= 0 && obs.isNotNull)
    val grid = base.groupBy(dur.as("duration"))
      .agg(count(when(obs, 1)).as("n_events"),
        count(when(!obs, 1)).as("n_censored"))
    val before = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = grid.agg(
      coalesce(sum(col("n_events") + col("n_censored")), lit(0L)).as("__n"))
    grid.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n") - coalesce(
          sum(col("n_events") + col("n_censored")).over(before), lit(0L)))
      .withColumn("survival",
        product(lit(1.0) -
          col("n_events").cast("double") / col("n_risk")).over(upto))
      .withColumn("__g",
        sum(when(col("n_events") > 0 && col("n_risk") > col("n_events"),
            col("n_events").cast("double") /
              (col("n_risk") * (col("n_risk") - col("n_events"))))
          .otherwise(lit(0.0))).over(upto))
      .withColumn("survival_se", col("survival") * sqrt(col("__g")))
      .withColumn("ci_lo",
        greatest(col("survival") - lit(1.96) * col("survival_se"), lit(0.0)))
      .withColumn("ci_hi",
        least(col("survival") + lit(1.96) * col("survival_se"), lit(1.0)))
      .select("duration", "n_risk", "n_events", "n_censored", "survival",
        "survival_se", "ci_lo", "ci_hi")
  }

  /** Nelson–Aalen cumulative-hazard estimator over the same
    * `(duration, observed)` frame as [[kaplanMeier]] — the hazard-side
    * view of the survival curve (`H(t) = Σ_{tⱼ ≤ t} dⱼ/nⱼ`), preferred
    * when hazards are the modelling target (e.g. comparing churn
    * intensity across cohorts) because sums are better behaved than
    * products near the tail.
    *
    * Returns one row per DISTINCT duration:
    * `(duration, n_risk, n_events, n_censored: bigint, cum_hazard,
    * cum_hazard_se: double)` — the SE is the Poisson/Aalen form
    * `√(Σ dⱼ/nⱼ²)`.
    *
    * Plan: identical shape to [[kaplanMeier]] — one partial-agg
    * shuffle to the duration grid, grid-sized windows only. Counts
    * exact; the hazard sums carry χ²-tier float noise (gate rounds
    * under the tie-shift).
    */
  def nelsonAalen(
      df: DataFrame,
      durationCol: String,
      observedCol: String
  ): MayFail[DataFrame] = MayFail {
    val dur = col(durationCol)
    val obs = col(observedCol).cast("boolean")
    val base = df.filter(dur.isNotNull && dur >= 0 && obs.isNotNull)
    val grid = base.groupBy(dur.as("duration"))
      .agg(count(when(obs, 1)).as("n_events"),
        count(when(!obs, 1)).as("n_censored"))
    val before = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = grid.agg(
      coalesce(sum(col("n_events") + col("n_censored")), lit(0L)).as("__n"))
    grid.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n") - coalesce(
          sum(col("n_events") + col("n_censored")).over(before), lit(0L)))
      .withColumn("cum_hazard",
        sum(col("n_events").cast("double") / col("n_risk")).over(upto))
      .withColumn("cum_hazard_se",
        // n_risk^2 in double: the Long square would ANSI-throw past
        // ~3e9 at-risk entities
        sqrt(sum(col("n_events").cast("double") /
          (col("n_risk").cast("double") * col("n_risk"))).over(upto)))
      .select("duration", "n_risk", "n_events", "n_censored", "cum_hazard",
        "cum_hazard_se")
  }

  /** Two-group log-rank test over a per-entity
    * `(duration, observed, group)` frame — "do these two cohorts churn
    * at the same rate?", the standard companion to [[kaplanMeier]].
    * At each distinct EVENT time `t`: observed events `d₁ₜ` vs the
    * hypergeometric expectation `dₜ·n₁ₜ/nₜ` with variance
    * `dₜ·(n₁ₜ/nₜ)·(n₂ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1)`; the statistic is
    * `(O₁−E₁)²/V ~ χ²(1)`. Reports the statistic, not a p-value —
    * house convention (see [[graft.operators.Stats.chiSquareIndependence]]).
    *
    * `groupCol` must hold exactly two distinct non-null values
    * ([[graft.functional.Fail]] otherwise); `group_a` is the smaller
    * by string sort, so output is deterministic regardless of
    * partitioning.
    *
    * Returns one row:
    * `(group_a, group_b: string, obs_a, obs_b: bigint, exp_a, exp_b,
    * variance, chi2: double)`.
    *
    * Plan: one partial-agg shuffle to the duration grid with per-group
    * event/censor counts, grid-sized windows for the two risk sets,
    * one final global agg. The two-label probe is a bounded
    * driver-side action (≤ 3 rows). Counts and risk sets exact; the
    * expectation/variance sums are χ²-tier floats.
    */
  def logRank(
      df: DataFrame,
      durationCol: String,
      observedCol: String,
      groupCol: String
  ): MayFail[DataFrame] = MayFail {
    val dur = col(durationCol)
    val obs = col(observedCol).cast("boolean")
    val grp = col(groupCol).cast("string")
    val base = df.filter(dur.isNotNull && dur >= 0 && obs.isNotNull &&
      grp.isNotNull)
    val labels = base.select(grp.as("__g")).distinct()
      .orderBy("__g").limit(3).collect().map(_.getString(0))
    require(labels.length == 2,
      s"logRank needs exactly 2 groups in '$groupCol', found " +
        s"${labels.length}")
    val Array(ga, gb) = labels
    val grid = base.groupBy(dur.as("duration"))
      .agg(count(when(obs && grp === ga, 1)).as("d1"),
        count(when(obs && grp === gb, 1)).as("d2"),
        count(when(!obs && grp === ga, 1)).as("c1"),
        count(when(!obs && grp === gb, 1)).as("c2"))
    val before = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = grid.agg(
      coalesce(sum(col("d1") + col("c1")), lit(0L)).as("__n1"),
      coalesce(sum(col("d2") + col("c2")), lit(0L)).as("__n2"))
    val risk = grid.crossJoin(broadcast(totals))
      .withColumn("n1",
        col("__n1") - coalesce(sum(col("d1") + col("c1")).over(before),
          lit(0L)))
      .withColumn("n2",
        col("__n2") - coalesce(sum(col("d2") + col("c2")).over(before),
          lit(0L)))
      .filter(col("d1") + col("d2") > 0)
      .withColumn("dt", col("d1") + col("d2"))
      .withColumn("nt", col("n1") + col("n2"))
      .withColumn("e1",
        col("dt").cast("double") * col("n1") / col("nt"))
      .withColumn("v",
        when(col("nt") > 1,
          col("dt").cast("double") * col("n1") * col("n2") *
            (col("nt") - col("dt")) /
            (col("nt").cast("double") * col("nt") * (col("nt") - 1)))
          .otherwise(lit(0.0)))
    risk.agg(
        sum(col("d1")).as("obs_a"), sum(col("d2")).as("obs_b"),
        sum(col("e1")).as("exp_a"),
        sum(col("dt").cast("double") - col("e1")).as("exp_b"),
        sum(col("v")).as("variance"))
      .select(lit(ga).as("group_a"), lit(gb).as("group_b"),
        col("obs_a"), col("obs_b"), col("exp_a"), col("exp_b"),
        col("variance"),
        when(col("variance") > 0,
          pow(col("obs_a").cast("double") - col("exp_a"), 2) /
            col("variance")).as("chi2"))
  }

  /** Batch sessionization: assign each event a per-entity
    * `session_idx` (0-based), starting a new session whenever the gap
    * since the entity's previous event exceeds `gapSec`. The batch
    * counterpart of the streaming `Stream.sessionize`
    * (flatMapGroupsWithState) — same gap-split semantics, expressed as
    * two window passes (lag + running sum of break flags) over ONE
    * exchange and one in-partition sort on (entity, ts, id).
    *
    * Adds `session_idx: bigint` to the input columns. Rows with a NULL
    * `tsCol` are DROPPED (a session index is undefined without an
    * event time — same contract as the streaming counterpart, where an
    * unparseable timestamp never reaches the state machine); filter or
    * repair them upstream if they must be kept.
    */
  def sessionize(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      gapSec: Long
  ): MayFail[DataFrame] = MayFail {
    require(gapSec > 0, s"gapSec must be positive: $gapSec")
    val us = unix_micros(col(tsCol))
    val w = Window.partitionBy(col(userCol)).orderBy(us, col(idCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(tsCol).isNotNull)
      .withColumn("__prev_us", lag(us, 1).over(w))
      .withColumn("session_idx",
        sum(when(col("__prev_us").isNull ||
            us - col("__prev_us") > gapSec * 1000000L, 1L).otherwise(0L))
          .over(run) - 1)
      .drop("__prev_us")
  }

  /** Per-session summary over [[sessionize]]'s assignment: start/end
    * timestamps, event count, and whole-second duration per (entity,
    * session). One extra partial-agg shuffle on (entity, session_idx);
    * all outputs are exact integers/timestamps.
    *
    * Returns `(userCol, session_idx, start_ts, end_ts,
    * n_events: bigint, duration_sec: bigint)`.
    */
  def sessionStats(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      gapSec: Long
  ): MayFail[DataFrame] =
    sessionize(df, tsCol, idCol, userCol, gapSec).map { s =>
      s.groupBy(col(userCol), col("session_idx"))
        .agg(min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"),
          count(lit(1)).as("n_events"),
          expr(s"(max(unix_micros($tsCol)) - min(unix_micros($tsCol))) div 1000000")
            .as("duration_sec"))
    }

  /** Last-touch attribution: for every conversion event (type
    * `convType`), the most recent touch event (type in `touchTypes`)
    * STRICTLY before it and within `windowSec` — the standard
    * marketing-attribution readout, also the "what preceded this
    * failure" forensic query.
    *
    * Returns one row per conversion: `(userCol, idCol, conv_ts,
    * touch_type, touch_ts, gap_sec)` — touch columns NULL when no
    * qualifying touch exists.
    *
    * Plan: one exchange on the entity, one in-partition sorted pass.
    * The two `last(..., ignoreNulls)` windows share the same frame and
    * sort, so they pick fields from the SAME touch row — no join back.
    */
  def attribution(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      windowSec: Long
  ): MayFail[DataFrame] = MayFail {
    require(touchTypes.nonEmpty, "touchTypes must name at least one type")
    require(!touchTypes.contains(convType),
      s"convType $convType cannot also be a touch type")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val w = Window.partitionBy(col(userCol)).orderBy(col("__us"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("__t").isin(touchTypes: _*)
    val winUs = windowSec * 1000000L
    df.filter(col(tsCol).isNotNull &&
        col(typeCol).isin(convType +: touchTypes: _*))
      .select(col(userCol), col(idCol), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__us"))
      .withColumn("__lt_type", last(when(isTouch, col("__t")), ignoreNulls = true).over(w))
      .withColumn("__lt_us", last(when(isTouch, col("__us")), ignoreNulls = true).over(w))
      .filter(col("__t") === lit(convType))
      .withColumn("__in",
        col("__lt_us").isNotNull && col("__us") - col("__lt_us") <= winUs)
      .select(col(userCol), col(idCol),
        timestamp_micros(col("__us")).as("conv_ts"),
        when(col("__in"), col("__lt_type")).as("touch_type"),
        when(col("__in"), timestamp_micros(col("__lt_us"))).as("touch_ts"),
        when(col("__in"),
          expr("(__us - __lt_us) div 1000000")).as("gap_sec"))
  }

  /** Time-to-conversion percentiles per channel — the latency readout
    * on top of last-touch [[attribution]]: for every attributed
    * conversion, the gap from its touch, summarized as exact ⌈p·n⌉
    * order statistics per touch type ("how long after a click does
    * the purchase land"). Unattributed conversions are excluded.
    *
    * Returns one row per (touch_type, p): `(touch_type, p: double,
    * n: bigint, lag_sec: bigint)`.
    *
    * Plan: the [[attribution]] plan, then the exact-percentile grid
    * device per channel (windows PARTITIONED BY touch type —
    * [[Quality.percentiles]]' ⌈p·n⌉ convention, everything exact).
    */
  def conversionLag(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      windowSec: Long,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)
  ): MayFail[DataFrame] = MayFail {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must be in (0, 1]: $ps")
    val att = attribution(df, tsCol, idCol, userCol, typeCol, convType,
        touchTypes, windowSec).get
      .filter(col("touch_type").isNotNull)
    val grid = att.groupBy(col("touch_type"), col("gap_sec"))
      .agg(count(lit(1)).as("__t"))
    val upto = Window.partitionBy("touch_type").orderBy("gap_sec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("__c", sum(col("__t")).over(upto))
      .withColumn("__n", sum(col("__t")).over(
        Window.partitionBy("touch_type")))
    ps.map { p =>
      val r = greatest(lit(1L), ceil(lit(p) * col("__n")).cast("long"))
      cum.filter(col("__c") >= r && col("__c") - col("__t") < r)
        .select(col("touch_type"), lit(p).as("p"), col("__n").as("n"),
          col("gap_sec").as("lag_sec"))
    }.reduce(_ unionByName _)
  }

  /** Rule-based multi-touch attribution credits — the standard model
    * suite between last-touch [[attribution]] and the data-driven
    * [[markovAttribution]]: each conversion's credit is split across
    * the touches that precede it (strictly before, within `windowSec`,
    * attributed to the FIRST conversion after the touch) by `model`:
    *
    *  - `"linear"`: 1/k to each of the k touches;
    *  - `"position"`: 40% first, 40% last, 20% split across middles
    *    (100% / 50-50 when k = 1 / 2) — the U-shaped industry default;
    *  - `"time_decay"`: weight `0.5^(Δt/halfLifeSec)` per touch,
    *    normalized per conversion.
    *
    * Returns one row per channel:
    * `(channel: string, n_touches, n_conversions: bigint, credit:
    * double)` — `n_conversions` counts conversions the channel touched
    * at least once; `Σ credit` over channels = number of attributed
    * conversions.
    *
    * Plan: ONE exchange on the entity; the next-conversion timestamp
    * is a reverse-frame min window over that exchange, the per-
    * conversion touch count/position/weight-sum are three more window
    * passes over the SAME partitioning (Catalyst reuses the exchange),
    * then one partial-agg shuffle on the channel. Linear/position
    * weights are exact rationals; the per-channel credit sums (and all
    * time-decay weights) are χ²-tier floats.
    */
  def attributionCredits(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      typeCol: String,
      convType: String,
      touchTypes: Seq[String],
      windowSec: Long,
      model: String = "linear",
      halfLifeSec: Long = 86400L
  ): MayFail[DataFrame] = MayFail {
    require(touchTypes.nonEmpty, "touchTypes must name at least one type")
    require(!touchTypes.contains(convType),
      s"convType $convType cannot also be a touch type")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    require(Seq("linear", "position", "time_decay").contains(model),
      s"unknown model '$model' (linear|position|time_decay)")
    require(halfLifeSec > 0, s"halfLifeSec must be positive: $halfLifeSec")
    val winUs = windowSec * 1000000L
    val w = Window.partitionBy(col("__u")).orderBy(col("__us"), col("__id"))
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val base = df.filter(col(tsCol).isNotNull &&
        col(typeCol).isin(convType +: touchTypes: _*))
      .select(col(userCol).as("__u"), col(idCol).as("__id"),
        col(typeCol).as("__t"), unix_micros(col(tsCol)).as("__us"))
      .withColumn("__cus",
        min(when(col("__t") === convType, col("__us"))).over(after))
    val touches = base
      .filter(col("__t") =!= convType && col("__cus").isNotNull &&
        col("__cus") - col("__us") <= winUs)
    val perConv = Window.partitionBy(col("__u"), col("__cus"))
    val ordered = perConv.orderBy(col("__us"), col("__id"))
    val raw = model match {
      case "linear" => lit(1.0)
      case "position" => lit(1.0) // positional weights assigned below
      case "time_decay" =>
        pow(lit(0.5),
          (col("__cus") - col("__us")).cast("double") /
            lit(halfLifeSec * 1000000.0))
    }
    val weighted = touches
      .withColumn("__k", count(lit(1)).over(perConv))
      .withColumn("__pos", row_number().over(ordered))
      .withColumn("__raw",
        if (model == "position")
          when(col("__k") === 1, lit(1.0))
            .when(col("__k") === 2, lit(0.5))
            .when(col("__pos") === 1 || col("__pos") === col("__k"),
              lit(0.4))
            .otherwise(lit(0.2) / (col("__k") - 2))
        else raw)
      .withColumn("__w", col("__raw") /
        sum(col("__raw")).over(perConv))
    weighted.groupBy(col("__t").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("__u"), col("__cus")).as("n_conversions"),
        sum(col("__w")).as("credit"))
  }

  /** Markov removal-effect attribution (Anderl et al.'s data-driven
    * multi-touch model, publicly described in "Mapping the Customer
    * Journey", 2014): build the first-order Markov chain over per-user
    * channel paths — `(start) → touches… → (conv)|(null)`, touches
    * taken strictly before the user's FIRST conversion — then score
    * each channel by how much the chain's conversion probability drops
    * when that channel is removed (its transitions redirected to
    * `(null)`). Unlike last-touch [[attribution]], this credits
    * assisting channels.
    *
    * The absorption probability is computed by `iterations` synchronous
    * fixed-point steps (the K-step absorption probability — the same
    * truncation discipline as [[Graph.pageRank]]; it converges
    * geometrically and extra steps past convergence are harmless). ALL
    * removals are solved simultaneously under a composite
    * `(removed, state)` key — one join+agg pipeline per step, never a
    * per-channel loop.
    *
    * State names `(start)`, `(conv)`, `(null)`, `(none)` are reserved;
    * a channel literally named one of these would collide (not checked
    * — rename upstream).
    *
    * Returns one row per channel:
    * `(channel: string, base_cvr, removed_cvr, removal_effect,
    * attribution: double)` — `removal_effect = max(0, 1 −
    * removed_cvr/base_cvr)`, `attribution` its share of the sum (NULL
    * when no removal has any effect or there are no conversions).
    *
    * Plan: path edges from one exchange on the entity (the
    * [[sessionize]] window discipline); transition probabilities from
    * one partial-agg shuffle on the edge; the removal-replicated edge
    * frame is `localCheckpoint`ed ONCE (size ≤ (C+1)·E for C channels
    * and E ≤ (C+2)² edges — channel cardinality, never rows) and each
    * step, one round of an [[Iterate]] loop, joins and aggregates on
    * the composite key. Counts and
    * probabilities exact rationals; the fixed-point sums are χ²-tier
    * floats.
    */
  def markovAttribution(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      channelCol: String,
      convChannel: String,
      iterations: Int = 20
  ): MayFail[DataFrame] = MayFail {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val base = df.filter(col(tsCol).isNotNull && col(channelCol).isNotNull)
      .select(col(userCol).as("__u"), col(idCol).as("__id"),
        col(channelCol).cast("string").as("__c"),
        unix_micros(col(tsCol)).as("__us"))
    val convs = base.filter(col("__c") === convChannel)
      .groupBy("__u").agg(min(struct(col("__us"), col("__id"))).as("__ck"))
    val touches = base.filter(col("__c") =!= convChannel)
      .join(convs, Seq("__u"), "left")
      .filter(col("__ck").isNull ||
        struct(col("__us"), col("__id")) < col("__ck"))
    val w = Window.partitionBy("__u").orderBy(col("__us"), col("__id"))
    val seq0 = touches
      .withColumn("__rn", row_number().over(w))
      .withColumn("__next", lead(col("__c"), 1).over(w))
    val eMid = seq0.select(col("__c").as("from"),
      coalesce(col("__next"),
        when(col("__ck").isNotNull, lit("(conv)"))
          .otherwise(lit("(null)"))).as("to"))
    val eStart = seq0.filter(col("__rn") === 1)
      .select(lit("(start)").as("from"), col("__c").as("to"))
    val eDirect = convs
      .join(touches.select("__u").distinct(), Seq("__u"), "left_anti")
      .select(lit("(start)").as("from"), lit("(conv)").as("to"))
    val probs = eMid.unionByName(eStart).unionByName(eDirect)
      .groupBy("from", "to").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("from")))
      .select("from", "to", "p")
    val removals = touches.select(col("__c").as("removed")).distinct()
      .unionByName(df.sparkSession.range(1)
        .select(lit("(none)").as("removed")))
    val redges = removals.crossJoin(probs)
      .filter(col("from") =!= col("removed"))
      .withColumn("to", when(col("to") === col("removed"), lit("(null)"))
        .otherwise(col("to")))
      .localCheckpoint(true)
    val p = Iterate(redges.select(col("removed"), col("from").as("state"))
        .distinct()
        .withColumn("p", lit(0.0)), iterations) { (p, _) =>
      redges.alias("e")
        .join(p.alias("pk"),
          col("e.removed") === col("pk.removed") &&
            col("e.to") === col("pk.state"), "left")
        .select(col("e.removed").as("removed"), col("e.from").as("state"),
          (col("e.p") * when(col("e.to") === "(conv)", lit(1.0))
            .when(col("e.to") === "(null)", lit(0.0))
            .otherwise(coalesce(col("pk.p"), lit(0.0)))).as("__t"))
        .groupBy("removed", "state").agg(sum(col("__t")).as("p"))
    }.state
    graft.physical.Optimise.releaseCheckpoint(redges)
    val baseP = p.filter(col("removed") === "(none)" &&
        col("state") === "(start)")
      .select(col("p").as("__base"))
    val tot = Window.partitionBy()
    p.filter(col("removed") =!= "(none)" && col("state") === "(start)")
      .select(col("removed").as("channel"), col("p").as("removed_cvr"))
      .crossJoin(broadcast(baseP))
      .withColumn("removal_effect",
        when(col("__base") > 0,
          greatest(lit(1.0) - col("removed_cvr") / col("__base"),
            lit(0.0))))
      .withColumn("attribution",
        when(sum(col("removal_effect")).over(tot) > 0,
          col("removal_effect") / sum(col("removal_effect")).over(tot)))
      .select(col("channel"), col("__base").as("base_cvr"),
        col("removed_cvr"), col("removal_effect"), col("attribution"))
  }

  /** Top-k opening paths: each entity's first `maxLen` event types in
    * order joined with `sep`, counted across entities, heaviest first
    * (path ascending as the deterministic tiebreak). "What do users do
    * first" — the onboarding/drop-off companion to [[funnel]].
    *
    * Returns `(path: string, n: bigint)`, `k` rows.
    *
    * Plan: one exchange on the entity; a row_number pass BOUNDS the
    * per-entity state to `maxLen` rows BEFORE the collect (an entity
    * with 10⁹ events contributes maxLen rows to the sort-collect, so
    * per-group memory is O(maxLen)); then a partial-agg shuffle on the
    * path string — at most |types|^maxLen distinct values — and a
    * TakeOrderedAndProject top-k.
    */
  def topPaths(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      userCol: String,
      typeCol: String,
      maxLen: Int,
      k: Int,
      sep: String = ">"
  ): MayFail[DataFrame] = MayFail {
    require(maxLen >= 1, s"maxLen must be >= 1: $maxLen")
    require(k >= 1, s"k must be >= 1: $k")
    val w = Window.partitionBy(col(userCol)).orderBy(col("__us"), col(idCol))
    df.filter(col(tsCol).isNotNull)
      .select(col(userCol), col(idCol), col(typeCol).as("__t"),
        unix_micros(col(tsCol)).as("__us"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLen)
      .groupBy(col(userCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__rn"), col("__t")))),
          x => x.getField("__t")), sep).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Conversion-rate time series with WILSON score intervals — the
    * dashboard readout done right: per `bucketSec` bucket, the share
    * of entities that performed `fromEvent` and ALSO `toEvent` within
    * the same bucket, with the Wilson 95% band instead of the normal
    * approximation (Wilson stays inside [0,1] and behaves at small n
    * and extreme rates — the difference between a credible and a
    * nonsense error bar on a low-traffic day).
    *
    *   center = (p + z²/2n) / (1 + z²/n)
    *   half   = z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)
    *
    * Only buckets with at least one base entity appear. Counts exact;
    * the interval arithmetic is a FIXED op-order IEEE chain from exact
    * integers (√ is correctly rounded by the standard), so the oracle
    * replays it bit-for-bit — still round when gating, by convention.
    *
    * Returns `(bucket_ts: timestamp, n, k: bigint, rate, ci_low,
    * ci_high: double)`.
    *
    * Plan: one partial agg to (bucket, entity) flags, one to buckets.
    */
  def conversionSeries(
      df: DataFrame,
      tsCol: String,
      entityCol: String,
      typeCol: String,
      fromEvent: String,
      toEvent: String,
      bucketSec: Long,
      z: Double = 1.96
  ): MayFail[DataFrame] = MayFail {
    require(bucketSec >= 1, s"bucketSec must be >= 1: $bucketSec")
    require(z > 0, s"z must be > 0: $z")
    val bucket = timestamp_seconds(
      floor(unix_timestamp(col(tsCol)) / bucketSec) * bucketSec)
    val flags = df
      .filter(col(tsCol).isNotNull &&
        col(typeCol).isin(fromEvent, toEvent))
      .select(bucket.as("bucket_ts"), col(entityCol).as("__e"),
        col(typeCol).as("__t"))
      .groupBy("bucket_ts", "__e")
      .agg(max((col("__t") === fromEvent).cast("int")).as("__from"),
        max((col("__t") === toEvent).cast("int")).as("__to"))
      .filter(col("__from") === 1)
    val counts = flags.groupBy("bucket_ts")
      .agg(count(lit(1)).as("n"), sum(col("__to")).as("k"))
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))) / denom
    counts.select(col("bucket_ts"), col("n"), col("k"),
      p.as("rate"), (center - half).as("ci_low"),
      (center + half).as("ci_high"))
  }

  /** Frequent co-occurrence pairs (market-basket mining, the Apriori
    * 2-itemset pass): every unordered item pair appearing together in
    * ≥ `minSupport` baskets, with its lift — "parts ordered together",
    * "events co-firing per session", "tags co-labelled per document".
    *
    * Scale discipline: (1) APRIORI PRUNE — an item in < `minSupport`
    * baskets cannot be in a frequent pair, so infrequent items drop
    * BEFORE the quadratic step (on long-tailed item vocabularies this
    * removes most of the join input); (2) the per-basket self-join is
    * quadratic in basket size by nature, so a basket whose SURVIVING
    * item count exceeds `maxBasket` fails loudly (`raise_error`) instead
    * of silently exploding the shuffle — raise the knob consciously or
    * pre-cap baskets. Lift = P(a,b)/(P(a)·P(b)) =
    * n_pairs·n_baskets/(sup_a·sup_b) — > 1 means genuinely associated,
    * every product cast to double BEFORE multiplying (corpus-scale
    * counts overflow BIGINT).
    *
    * Returns `(item_a, item_b, n_pairs: bigint, lift: double ROUNDED
    * at 6)`, item_a < item_b. */
  def frequentPairs(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 2L,
      maxBasket: Int = 1024
  ): MayFail[DataFrame] = MayFail {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    require(maxBasket >= 2, s"maxBasket must be >= 2: $maxBasket")
    val it = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
      .localCheckpoint()
    val sup = it.groupBy("i").agg(count(lit(1)).as("s"))
    val pruned = it
      .join(sup.filter(col("s") >= minSupport).select("i"), Seq("i"))
    val sz = pruned.groupBy("b").agg(count(lit(1)).as("__sz"))
    // guard rides the item column itself (not a dropped helper column):
    // Catalyst prunes unused projections, which would silently skip a
    // raise_error attached to a column nothing reads
    val guarded = pruned.join(sz, Seq("b"))
      .select(col("b"),
        when(col("__sz") > maxBasket,
          raise_error(lit(s"frequentPairs: a basket holds more than " +
            s"$maxBasket frequent items — its pair count is quadratic; " +
            "raise maxBasket consciously or pre-cap baskets")))
          .otherwise(col("i")).as("i"))
    val pairs = guarded.select(col("b"), col("i").as("item_a"))
      .join(guarded.select(col("b"), col("i").as("item_b")), Seq("b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minSupport)
    val totals = it.agg(count_distinct(col("b")).as("__n"))
    pairs
      .join(sup.select(col("i").as("item_a"), col("s").as("__sa")),
        Seq("item_a"))
      .join(sup.select(col("i").as("item_b"), col("s").as("__sb")),
        Seq("item_b"))
      .crossJoin(broadcast(totals))
      .withColumn("lift",
        round(col("n_pairs").cast("double") * col("__n").cast("double") /
          (col("__sa").cast("double") * col("__sb").cast("double")) +
          lit(1e-9), 6))
      .select("item_a", "item_b", "n_pairs", "lift")
  }
}
