package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding-distribution monitoring: per-label centroids and
  * between-cohort centroid drift — the check a training pipeline runs
  * when a new crawl/snapshot lands ("did the class prototypes move?")
  * and the input to nearest-class-mean labeling. Pipeline extension
  * (no reference equivalent); designed Spark-first.
  *
  * Engine-exact arithmetic: float means are addition-order-dependent in
  * IEEE, so every vector component is fixed-pointed FIRST —
  * `floor(x * 2^shift)` is an exact double op (scaling by a power of
  * two never rounds) — and all aggregation happens on LONG sums, which
  * are order-independent. Centroids divide two exact integers in
  * doubles (deterministic); drift squares exact-integer cross products
  * in doubles (deterministic: the inputs are < 2^53) and sums them as
  * DECIMAL, so any engine reproduces every output bit.
  *
  * Scale shape: one posexplode of the vectors into (label, pos) keyed
  * rows — the only exchange; cardinality after aggregation is
  * labels × dims, broadcast-sized for any real label set. No vector is
  * ever collected; no pairwise anything.
  */
object Drift {

  private val Shift = 20
  private val ScaleD = math.pow(2, Shift) // 1048576.0

  /** (label, pos, q) fixed-point component rows. NaN and NULL
    * components are DROPPED before counting — `floor(NaN)` codegens to
    * long 0, so an unfiltered NaN (a failed encoder's output) would
    * silently pull the centroid toward 0, and a null would inflate `n`
    * while skipping the sum; dropping keeps each (label, pos) mean a
    * mean of its VALID values. */
  private def qRows(df: DataFrame, vecCol: String, labelCol: String,
                    extra: Seq[Column] = Nil): DataFrame =
    df.select((col(labelCol).as("label") +: extra) :+
        posexplode(col(vecCol)).as(Seq("pos", "e")): _*)
      .filter(col("e").isNotNull && !isnan(col("e").cast("double")))
      .withColumn("q", floor(col("e").cast("double") * lit(ScaleD)))
      .drop("e")

  /** Per-label centroids: (label, pos, n, sum_q, centroid) with
    * `centroid = (sum_q / 2^20) / n` — the class prototype at ~1e-6
    * component resolution, bit-reproducible across engines and runs. */
  def labelCentroids(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    qRows(df, vecCol, labelCol)
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("n"),
        col("sum_q"),
        ((col("sum_q").cast("double") / lit(ScaleD)) /
          col("n").cast("double")).as("centroid"))

  /** Centroid drift between two cohorts of the same corpus (ref vs
    * cur, split by `refCond` — e.g. snapshot id, time window, source):
    * per label, the L2 distance between the cohorts' centroids.
    *
    * Arithmetic that cannot overflow at ANY cohort size: the cohort
    * sums are exact longs; each per-dimension mean `s / n / 2^20`
    * is the correctly-rounded double of an exact rational
    * (deterministic on every IEEE engine — no long product `sa*nb`
    * whose 2^63 ceiling a 10^7-row cohort would cross); the squared
    * difference accumulates as DECIMAL(38,18) (capacity 10^20 —
    * embeddings with components beyond 10^9 do not exist), and one
    * sqrt finishes per label.
    *
    * Output: (label, n_ref, n_cur, drift_nano) — the distance in
    * integer NANOS (`floor(d * 1e9 + 0.5)`): the decimal→double
    * conversion feeding the sqrt is correctly rounded in the JVM but
    * double-rounded through some engines' int128-scaled decimals
    * (measured: 1-ulp disagreement vs DuckDB), so the raw double is
    * not comparable bit-for-bit and the nano grid absorbs it. Labels
    * present in only one cohort are omitted (no centroid to compare).
    */
  def centroidDrift(df: DataFrame, vecCol: String, labelCol: String,
                    refCond: Column): DataFrame = {
    val g = qRows(df, vecCol, labelCol, Seq(refCond.as("is_ref")))
      .groupBy(col("label"), col("pos"), col("is_ref"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
    val refs = g.filter(col("is_ref"))
      .select(col("label"), col("pos"), col("s").as("sa"),
        col("n").as("na"))
    val curs = g.filter(!col("is_ref"))
      .select(col("label"), col("pos"), col("s").as("sb"),
        col("n").as("nb"))
    val d = col("sa").cast("double") / col("na").cast("double") /
      lit(ScaleD) -
      col("sb").cast("double") / col("nb").cast("double") / lit(ScaleD)
    refs.join(curs, Seq("label", "pos"))
      .select(col("label"), col("na"), col("nb"),
        (d * d).cast(DecimalType(38, 18)).as("t2"))
      .groupBy(col("label"))
      .agg(min(col("na")).as("n_ref"), min(col("nb")).as("n_cur"),
        sum(col("t2")).as("num"))
      .select(col("label"), col("n_ref"), col("n_cur"),
        floor(sqrt(col("num").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("drift_nano"))
  }

  /** Population Stability Index between two cohorts of a numeric
    * column — the standard production-ML drift alarm (PSI < 0.1 stable,
    * 0.1–0.25 moderate shift, > 0.25 investigate): equal-width bins over
    * the POOLED min/max, Laplace-smoothed bin shares
    * `p = (c+1)/(n+bins)` so empty bins stay finite, and
    * `PSI = Σ (p−q)·ln(p/q)`.
    *
    * Engine-exact: bin assignment is integer comparisons on the shared
    * edges, each bin's term rounds to integer micros BEFORE the final
    * sum (the library's convention — log-domain sums reorder under
    * parallelism; 10 integer micros cannot). The per-cohort bin tables
    * are `bins` rows; the only corpus-wide work is one min/max
    * aggregate and one binned count per cohort — two narrow scans, no
    * join wider than `bins` rows. NULL and NaN values are excluded
    * (they carry no position on the value axis).
    *
    * Output (one row): (n_a, n_b, psi_micro); NULL psi when either
    * cohort is empty or the pooled range is degenerate (min == max).
    */
  def valuePsi(a: DataFrame, b: DataFrame, valueCol: String,
               bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // NaN must be dropped alongside NULL: Spark orders NaN greatest, so a
    // single NaN would poison the pooled max and turn every binIndex
    // division into NaN (ANSI floor(NaN) then throws). Mirrors qRows.
    val av = a.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val bv = b.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val pooled = av.unionAll(bv)
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    def binned(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(pooled))
        .select(binIndex(col("v"), col("lo"), col("hi"), bins).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("c"))
    // one slice: bare range() defaults to defaultParallelism tasks
    // for a `bins`-row frame
    val allBins = av.sparkSession.range(0L, bins.toLong, 1L, 1)
      .select(col("id").cast("int").as("bin"))
    def shares(df: DataFrame, cName: String, nName: String): DataFrame = {
      val n = df.agg(sum(col("c")).as(nName))
      allBins.join(df, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("c"), lit(0L)).as(cName))
        .crossJoin(broadcast(n))
    }
    val pa = shares(binned(av), "ca", "na")
    val pb = shares(binned(bv), "cb", "nb")
    val p = (col("ca") + 1).cast("double") /
      (col("na") + bins).cast("double")
    val q = (col("cb") + 1).cast("double") /
      (col("nb") + bins).cast("double")
    val termMicro = floor((p - q) * log(p / q) * lit(1e6) + lit(0.5))
      .cast("long")
    val degenerate = pooled.select(
      (col("lo").isNull || col("lo") === col("hi")).as("deg"))
    pa.join(pb, "bin")
      .crossJoin(broadcast(degenerate))
      .agg(min(col("na")).as("n_a"), min(col("nb")).as("n_b"),
        sum(termMicro).as("sum_micro"), min(col("deg")).as("deg"))
      .select(coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0 && !col("deg"),
          col("sum_micro")).as("psi_micro"))
  }

  /** THE equal-width bin index every PSI surface shares:
    * `floor((v − lo) / (hi − lo) · bins)` clamped to `bins − 1`, with a
    * degenerate range (lo == hi — ANSI division by zero otherwise)
    * routing everything to bin 0. [[valuePsi]] and the streaming
    * monitor's fixed-edge binning must stay bit-identical or the
    * "same arithmetic as batch PSI" contract silently breaks — edit
    * here, never inline. */
  def binIndex(v: Column, lo: Column, hi: Column, bins: Int): Column =
    when(hi === lo, lit(0))
      .otherwise(least(floor((v - lo) / (hi - lo) * lit(bins))
        .cast("int"), lit(bins - 1)))

  /** PSI per GROUP against one reference bin table — the monitoring
    * core behind a streaming drift alarm: callers bin values upstream
    * (fixed, pre-agreed edges — the contract any incremental monitor
    * needs, since edges must not move while state accumulates) and
    * hand this (group, bin, c) counts; every group is scored against
    * the same reference with the [[valuePsi]] arithmetic (Laplace
    * smoothing, per-bin integer-micro terms, engine-exact).
    *
    * Bins absent from a group (or the reference) count 0 via the grid
    * join, so a group that saw values in only one bin still pays the
    * full divergence. Shapes: the grid is groups × `bins` rows; the
    * reference is `bins` rows and broadcasts.
    *
    * Output: (group, n, psi_micro) — one row per group present in
    * `counts`.
    */
  def psiFromBinCounts(counts: DataFrame, groupCol: String,
                       binCol: String, cCol: String,
                       ref: DataFrame, refBinCol: String,
                       refCCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // a bin id outside [0, bins) means the caller binned with DIFFERENT
    // edges than it declared — its mass would inflate every group total
    // while its own divergence term silently vanished from the grid, so
    // the contract break fails LOUDLY instead
    val checkedBin = when(col(binCol).between(0, bins - 1),
      col(binCol).cast("int")).otherwise(raise_error(concat(
      lit(s"psiFromBinCounts: bin out of [0, $bins): "),
      col(binCol).cast("string"))).cast("int"))
    val c = counts.select(col(groupCol).as("g"),
      checkedBin.as("bin"), col(cCol).cast("long").as("c"))
    val r = ref.select(col(refBinCol).cast("int").as("bin"),
      col(refCCol).cast("long").as("cr"))
    val nr = r.agg(sum(col("cr")).as("n_r"))
    val ng = c.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
    // one slice, same rationale as valuePsi's allBins
    val allBins = counts.sparkSession.range(0L, bins.toLong, 1L, 1)
      .select(col("id").cast("int").as("bin"))
    val grid = ng.crossJoin(allBins)
      .join(c, Seq("g", "bin"), "left")
      .join(broadcast(r), Seq("bin"), "left")
      .crossJoin(broadcast(nr))
    val p = (coalesce(col("c"), lit(0L)) + 1).cast("double") /
      (col("n_g") + bins).cast("double")
    val q = (coalesce(col("cr"), lit(0L)) + 1).cast("double") /
      (col("n_r") + bins).cast("double")
    val termMicro = floor((p - q) * log(p / q) * lit(1e6) + lit(0.5))
      .cast("long")
    grid.select(col("g"), col("n_g"), termMicro.as("tm"))
      .groupBy(col("g"))
      .agg(min(col("n_g")).as("n"), sum(col("tm")).as("psi_micro"))
      .select(col("g").as(groupCol), col("n"), col("psi_micro"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the bin-free
    * companion to [[valuePsi]]: `KS = max_v |F_a(v) − F_b(v)|` over the
    * pooled empirical CDFs. PSI answers "how much did the distribution
    * move" through a fixed binning; KS answers "what is the largest
    * CDF gap anywhere" with no binning choice at all.
    *
    * Scale shape (the [[Classifier.aucByLabel]] pattern, then one step
    * further): both cohorts compress to per-DISTINCT-value counts
    * first, and the cumulative sums run as a TWO-LEVEL prefix — values
    * hash into `buckets` ordered range buckets, each bucket's running
    * sum is a window PARTITIONED by bucket (parallel, spill-safe), and
    * the tiny per-bucket totals (≤ `buckets` rows) produce each
    * bucket's exclusive offset through a broadcast triangular
    * self-join — no global-ordered pass anywhere in the plan.
    * The old single global `Window.orderBy(v)` put EVERY distinct value
    * through one partition — fine for integer-ish domains, a
    * single-task sort of a corpus-sized frame for continuous doubles.
    * Results are identical: fa/fb = within-bucket prefix + bucket
    * offset. Degenerate ranges (constant, ±Inf endpoints, NaN max)
    * collapse to one bucket, which is exactly the old shape. Each CDF
    * gap is two exact integer ratios in doubles, micro-rounded BEFORE
    * the max, so the statistic reproduces on any engine. NULLs are
    * excluded.
    *
    * Output (one row): (n_a, n_b, ks_micro); NULL ks when either
    * cohort is empty.
    */
  def valueKs(a: DataFrame, b: DataFrame, valueCol: String,
              buckets: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def counted(df: DataFrame, cName: String): DataFrame =
      df.select(col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as(cName))
    // shared: the distinct-value count table feeds FOUR consumers
    // (range, bucket totals, the windowed final pass, cohort totals),
    // each of which would otherwise re-run both cohort scans + the
    // full-outer join
    val g0 = Reuse.shared(
      counted(a, "ca").join(counted(b, "cb"), Seq("v"), "full_outer")
        .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
    val range = g0.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    // bucket index: monotone in v; any non-finite span (constant range,
    // infinite endpoints, NaN present — NaN sorts greatest into hi)
    // falls back to the single bucket 0, i.e. the old global shape
    val span = col("hi") - col("lo")
    val bucketExpr = when(col("lo").isNull || span === 0.0d ||
        isnan(span) || span === lit(Double.PositiveInfinity), lit(0))
      .otherwise(least(lit(buckets - 1), greatest(lit(0),
        floor((col("v") - col("lo")) / span * buckets).cast("int"))))
    val g = g0.crossJoin(broadcast(range)).withColumn("bk", bucketExpr)
    // exclusive per-bucket offsets via a broadcast triangular self-join
    // over the ≤`buckets` bucket totals — a global-ordered window here
    // would be bounded by construction but still single-task (and trip
    // Spark's "No Partition Defined" warning in every caller's log)
    val bt = g.groupBy(col("bk"))
      .agg(sum(col("ca")).as("bca"), sum(col("cb")).as("bcb"))
    val offsets = bt.select(col("bk"))
      .join(broadcast(bt.select(col("bk").as("bk2"),
        col("bca").as("bca2"), col("bcb").as("bcb2"))),
        col("bk2") < col("bk"), "left")
      .groupBy(col("bk"))
      .agg(coalesce(sum(col("bca2")), lit(0L)).as("oa"),
        coalesce(sum(col("bcb2")), lit(0L)).as("ob"))
    val totals = g0.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val wi = Window.partitionBy(col("bk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // greatest(·,1) keeps the division ANSI-safe when a cohort is
    // empty — ks_micro is NULLed below in that case anyway
    val gapMicro = floor(abs(
      col("fa").cast("double") / greatest(col("n_a"), lit(1L)).cast("double") -
        col("fb").cast("double") / greatest(col("n_b"), lit(1L)).cast("double"))
      * lit(1e6) + lit(0.5)).cast("long")
    g.join(broadcast(offsets), "bk")
      .select((sum(col("ca")).over(wi) + col("oa")).as("fa"),
        (sum(col("cb")).over(wi) + col("ob")).as("fb"))
      .crossJoin(broadcast(totals))
      .agg(min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"),
        max(gapMicro).as("gap"))
      .select(coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("gap"))
          .as("ks_micro"))
  }
}
