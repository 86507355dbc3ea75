package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.SortableDoubleBits
import graft.sources.Tables

/** Exact per-group quantiles with scale-independent memory.
  *
  * Why: the r10 skew soak measured the boundary of the classic exact
  * median (`percentile`, a per-group count-map buffer): a Zipf hot key
  * with ~40M distinct values completes at 1000x on a 48 GB heap at
  * 1.52x the GK sketch, and 50M distinct values on one key was then
  * measured FATAL (OOM) in the 4 GB heap a normal executor gets
  * (docs/SCALING.md rounds 11–12, a historical measurement). The
  * usual answer is "switch to the sketch", which gives up exactness.
  * This operator keeps exactness at ANY group cardinality by
  * binary-searching the VALUE DOMAIN of the oversized groups instead
  * of buffering their values. The unweighted and the weighted exact
  * operators share ONE narrowing core over weight ranks — unweighted
  * is unit weight:
  *
  *  1. One algebraic pass counts rows per key (partial aggregation
  *     makes this skew-immune — measured).
  *  2. Keys at or under `hotThreshold` rows take the classic exact
  *     plan (count-map percentile, or the weighted cumsum replay);
  *     its buffer is bounded by the THRESHOLD — a knob — not by the
  *     data.
  *  3. Each oversized ("hot") key's rows are extracted once, and each
  *     requested (key, p) pair needs the elements at weight ranks k1
  *     and k2 of the key's weight-expanded multiset: unweighted
  *     k1 = ⌊p(n−1)⌋+1, k2 = ⌈p(n−1)⌉+1 interpolated by the fraction;
  *     weighted k1 = k2 = max(1, ⌈p·W⌉). The ranks are located by
  *     iterated histogram refinement over the ORDER-PRESERVING BIT
  *     IMAGE of the value ([[graft.functions.SortableDoubleBits]]):
  *     each pass buckets the pair's current [lo, hi] bit interval into
  *     `buckets` integer-exact sub-ranges, sums (weight, rows) per
  *     bucket — O(buckets) state per pair — and narrows to the bucket
  *     where the cumulative weight reaches the ranks. Integer interval
  *     arithmetic means the histogram a pass counts and the range the
  *     next pass narrows to can never disagree; the interval shrinks
  *     by ~the bucket count per pass, so ≤ ⌈64 / log2(buckets)⌉ + 1
  *     passes cover the whole double domain. ALL requested quantiles
  *     of ALL hot keys narrow inside the SAME per-pass job.
  *  4. Three exact endgames per pair: a single-bit-value interval IS
  *     the answer (plateau); ranks k1 ≠ k2 falling in different
  *     buckets mean the quantile straddles a bucket edge with exactly
  *     k1 weight at or below it, so the nearest row on each side holds
  *     the two elements; otherwise once the interval holds ≤ `finish`
  *     rows they are collected and walked to the ranks.
  *
  * Cost shape: 1 full pass for counts, 1 full pass that EXTRACTS the
  * hot keys' rows into a DISK_ONLY persisted subset (at Zipf(1.1) a
  * minority of the corpus), then per narrowing pass ONE raw RDD job
  * over that subset's cached scan, and at most one endgame job. With
  * the default `finish` the pass count is usually 1-2. Hot results
  * resolve EAGERLY and the subset is unpersisted before returning, so
  * the returned lazy plan is just the small-key plan plus a literal
  * hot-result table. Executor memory per pair is
  * O(max(hotThreshold, finish, buckets)) — all knobs, none scaling
  * with the data; no task and not the driver ever holds more than
  * `CellBound` histogram cells.
  *
  * Numerics: unweighted quantiles interpolate as v1 + (v2−v1)·frac —
  * the rule Spark's `percentile` and DuckDB's `quantile_cont` apply,
  * with the rank position computed in double like both engines. NaN
  * and null values are excluded (DuckDB semantics; Spark's
  * `percentile` sorts NaN last instead — don't feed NaN to either and
  * expect cross-engine agreement). −0.0 orders just below +0.0 in bit
  * space; both compare numerically equal, so any selected order
  * statistic is numerically correct.
  *
  * This extends the engine's own exact-median operator (`q_median`,
  * [[graft.operators.Analytics.medianPricePerPriority]]) past the
  * group size where its per-group buffer stops fitting an executor —
  * a capability the reference pipeline (single-node pandas at
  * sample_size=888) never needs, and a 100 TB group-by cannot live
  * without.
  */
object Quantiles {

  /** Most (pair, bucket) histogram cells a narrowing pass lets one
    * task, one reduce partition or the driver hold. Under it a pass is
    * one single-stage dense fold whose merged array the driver scans;
    * above it cells combine sparsely and the same edge scan runs on
    * the executors, one band of pairs per reduce partition.
    */
  private val CellBound = 1 << 20

  /** One-job histogram pass over the hot subset's cached scan:
    * per-partition long-array fold, then combine. `size` longs of
    * state per task — a function of the knobs, never of the data.
    * Below 2^16 longs the per-task arrays come straight back to the
    * driver (ONE single-stage job, zero shuffle); above it a depth-2
    * tree reduce caps driver traffic at ~sqrt(partitions) arrays for
    * one tiny extra stage.
    */
  private def histAggregate(rdd: RDD[InternalRow], size: Int)(
      fold: (Array[Long], InternalRow) => Unit): Array[Long] = {
    val comb = (a: Array[Long], b: Array[Long]) => {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    val parts = rdd.mapPartitions { it =>
      val h = new Array[Long](size)
      it.foreach(fold(h, _))
      Iterator.single(h)
    }
    if (size <= (1 << 16)) parts.reduce(comb) else parts.treeReduce(comb, depth = 2)
  }

  /** How [[auto]] computes its quantiles. `Exact` routes per key from
    * pass-0 counts (classic count-map percentile under the hot
    * threshold, value-domain narrowing above — the decision the engine
    * makes itself); `Sketch(accuracy)` is the explicit opt-in to the
    * mergeable GK estimate (`percentile_approx`) when an approximate
    * answer is acceptable and one pass is worth more than exactness.
    */
  sealed trait QuantileMode
  object QuantileMode {
    case object Exact extends QuantileMode
    final case class Sketch(accuracy: Int = 10000) extends QuantileMode
  }

  /** How the WEIGHTED exact path treats a key over `hotThreshold` rows.
    * Unlike the unweighted case — where the classic count-map buffer
    * OOMs past executor memory and narrowing is the only exact option —
    * the weighted cumsum replay SORTS (window sorts spill, never OOM),
    * so an oversized key has two viable exact plans whose crossover is
    * measured in both regimes (docs/SCALING.md round 12): one
    * serialized-but-spilling sort task beats the narrowing's extra
    * full-fact passes 4.1x on a single wide host, while the narrowing
    * wins 3.8x in an executor-sized (4 GiB) JVM and is the only path
    * whose hot-task time shrinks as executors are added.
    *
    *  - `CostAware` (default): route PER KEY on estimated cost. The
    *    serialized replay costs ~n_k rows times a spill multiplier
    *    (how far the key's sort working set overflows one task's share
    *    of execution memory); the narrowing costs ~γ·(N + passes·n_k)
    *    scan-equivalent rows spread over the cluster — both sides
    *    computable from pass-0 counts alone. Constants calibrated on
    *    the two measured regimes (γ = 16 reproduces both verdicts with
    *    ~20x margin each way). `hotThreshold = Long.MaxValue` sends
    *    every key to the replay.
    *  - `Narrow`: every oversized key narrows (the round-12 behavior;
    *    gate surfaces pin this so the narrowing machinery stays
    *    exercised).
    */
  sealed trait HotRoute
  object HotRoute {
    case object CostAware extends HotRoute
    case object Narrow extends HotRoute
  }

  /** One front door for per-key quantiles at any scale — the router
    * over what were three separate APIs (classic exact `percentile`,
    * the GK sketch, and the narrowing loop). Returns the uniform long
    * format (`key`, `p` double, `quantile` double) for every mode.
    *
    *  - `mode = Exact` (default): [[exactQuantilesAnyScale]] — every
    *    key exact; groups over `hotThreshold` rows take the
    *    O(buckets)-state narrowing path, the rest the classic
    *    count-map whose buffer the threshold caps. No knob changes
    *    needed across scale: the default threshold keeps the classic
    *    buffer executor-sized and the narrowing path has no
    *    data-scaling state (50M+ distinct values on one key were
    *    measured surviving in a 4 GiB JVM, docs/SCALING.md rounds
    *    11–12).
    *  - `mode = Sketch(acc)`: `percentile_approx` per key — one pass,
    *    mergeable, bounded rank error; for when the caller asks for
    *    an estimate, never chosen implicitly.
    *  - `weight = Some(col)`: weighted LOWER quantiles. Exact mode
    *    routes through [[exactWeightedQuantilesAnyScale]] (per-key
    *    replay-vs-narrowing routing, see `route`); `Sketch(k)` is the
    *    bounded-error one-aggregation estimate via
    *    [[approxWeightedQuantiles]] (deterministic priority sampling,
    *    rank error ~k^(-1/2)) and needs `ident` — the columns whose
    *    md5 drives the sampling — to be reproducible.
    */
  def auto(
      rows: DataFrame, key: String, value: String, ps: Seq[Double],
      mode: QuantileMode = QuantileMode.Exact,
      weight: Option[String] = None,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096,
      route: HotRoute = HotRoute.CostAware,
      ident: Seq[String] = Nil): DataFrame = (mode, weight) match {
    case (QuantileMode.Exact, None) =>
      exactQuantilesAnyScale(rows, key, value, ps,
        hotThreshold, buckets, finish, maxHotKeys)
    case (QuantileMode.Exact, Some(w)) =>
      exactWeightedQuantilesAnyScale(rows, key, value, w, ps,
        hotThreshold, buckets, finish, maxHotKeys, route)
    case (QuantileMode.Sketch(acc), None) =>
      checkOutput(key, ps)
      val psLit = lit(ps.toArray)
      rows.filter(col(value).isNotNull && !isnan(col(value).cast("double")))
        .groupBy(col(key).as("__k"))
        .agg(percentile_approx(col(value).cast("double"), psLit, lit(acc))
          .as("__qs"))
        .select(col("__k"), posexplode(col("__qs")).as(Seq("__pi", "__med")))
        .select(col("__k").as(key),
          element_at(psLit, col("__pi") + 1).as("p"),
          col("__med").as("quantile"))
    case (QuantileMode.Sketch(acc), Some(w)) =>
      require(ident.nonEmpty,
        "weighted Sketch mode samples deterministically: pass ident = " +
          "the columns that uniquely identify a row (they seed the " +
          "per-row sampling hash)")
      approxWeightedQuantiles(rows, key, value, w, ps, ident, sampleK = acc)
  }

  private def checkOutput(key: String, ps: Seq[Double]): Unit = {
    require(ps.nonEmpty && ps.distinct.size == ps.size &&
      ps.forall(p => p >= 0.0 && p <= 1.0),
      s"ps must be distinct quantiles in [0, 1], got $ps")
    require(key != "p" && key != "quantile",
      s"key column '$key' collides with the fixed output columns " +
        "(key, p, quantile) — alias it before calling")
  }

  private def checkKnobs(hotThreshold: Long, buckets: Int, finish: Long,
      maxHotKeys: Int): Unit = {
    require(buckets >= 2 && buckets <= CellBound - 2,
      s"buckets=$buckets must lie in [2, ${CellBound - 2}]")
    require(hotThreshold >= 1 && maxHotKeys >= 1,
      s"bad knobs: hotThreshold=$hotThreshold maxHotKeys=$maxHotKeys")
    require(finish >= 1 && finish <= 100000000L,
      s"finish=$finish must fit a collected per-key array")
  }

  private def checkHotCount(n: Int, hotThreshold: Long, maxHotKeys: Int): Unit =
    require(n <= maxHotKeys,
      s"$n keys exceed hotThreshold=$hotThreshold (cap $maxHotKeys); " +
        "raise the threshold — a workload where this many keys are oversized " +
        "is big everywhere, not skewed")

  /** Exact median of `value` per `key`, any group size — the p = 0.5
    * case of [[exactQuantileAnyScale]], returned as (`key`, `median`).
    */
  def exactMedianAnyScale(
      rows: DataFrame, key: String, value: String,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame =
    exactQuantileAnyScale(rows, key, value, 0.5,
      hotThreshold, buckets, finish, maxHotKeys)
      .withColumnRenamed("quantile", "median")

  /** One exact quantile per key: the |ps| = 1 case of
    * [[exactQuantilesAnyScale]], returned as (`key`, `quantile`).
    */
  def exactQuantileAnyScale(
      rows: DataFrame, key: String, value: String, p: Double,
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame =
    exactQuantilesAnyScale(rows, key, value, Seq(p),
      hotThreshold, buckets, finish, maxHotKeys)
      .select(col(key), col("quantile"))

  /** Exact linear-interpolated quantiles of `value` per `key`, any
    * group size, all `ps` sharing the discovery/extraction passes and
    * every narrowing job.
    *
    * @param ps distinct quantiles in [0, 1]; interpolation semantics
    *   match Spark `percentile` / DuckDB `quantile_cont`.
    * @param hotThreshold groups larger than this take the narrowing
    *   path; smaller ones the classic count-map percentile (whose
    *   buffer this caps). Tune to the largest per-key buffer an
    *   executor should hold.
    * @param buckets histogram resolution per narrowing pass (memory
    *   per (key, quantile) during the pass; fewer buckets = more
    *   passes).
    * @param finish collect-and-select once a pair's candidate interval
    *   holds at most this many rows.
    * @param maxHotKeys guard on the driver-side state: more hot keys
    *   than this fails fast with advice to raise the threshold.
    * @return one row per (distinct key, p): (`key` as named,
    *   `p` double, `quantile` double), nulls/NaNs in `value` ignored;
    *   groups with no remaining rows are absent. `key` must not be
    *   named `p` or `quantile` (the fixed output columns).
    *
    * @note SNAPSHOT ASSUMPTION: hot/small classification comes from an
    *   eager pass-0 count, but the small-key path in the returned plan
    *   is lazy over `rows`. The source must be stable between the call
    *   and consumption (a file scan is; a non-deterministic or mutated
    *   source is not) — otherwise a group that grows past the
    *   threshold after pass 0 silently takes the unbounded count-map
    *   path this operator exists to avoid. Persist `rows` for the
    *   call's lifetime if the source can move.
    */
  def exactQuantilesAnyScale(
      rows: DataFrame, key: String, value: String, ps: Seq[Double],
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096): DataFrame = {
    checkOutput(key, ps)
    checkKnobs(hotThreshold, buckets, finish, maxHotKeys)
    val v = col(value).cast("double")
    val base = rows
      .filter(col(value).isNotNull && !isnan(v))
      .select(col(key).as("__k"), v.as("__v"), lit(1L).as("__w"))

    // pass 0: count + value bracket per key (algebraic, skew-immune);
    // the bracket converts to bit space on the driver, so the full
    // corpus never evaluates the bit expression — only hot rows do
    val hot = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), min(col("__v")).as("__lo"),
        max(col("__v")).as("__hi"))
      .filter(col("__n") > hotThreshold).collect()
    checkHotCount(hot.length, hotThreshold, maxHotKeys)
    val hotKeys = hot.map(_.get(0))

    // small path: classic count-map percentile, all ps in one buffer
    val psLit = lit(ps.toArray)
    val small = smallKeys(base, hotKeys)
      .groupBy(col("__k"))
      .agg(percentile(col("__v"), psLit).as("__qs"))
      .select(col("__k"), posexplode(col("__qs")).as(Seq("__pi", "__med")))
      .select(col("__k"), element_at(psLit, col("__pi") + 1).as("__p"),
        col("__med"))
    withHotKeys(key, base, small, hotKeys, ps, weighted = false,
      buckets, finish) { _ =>
      hot.map { r =>
        // min/max may report either of ±0.0 (they compare equal as
        // doubles); widen the bit bracket to cover both so no row can
        // fall outside it
        val loV = r.getDouble(2)
        val hiV = r.getDouble(3)
        HotKey(r.getLong(1), r.getLong(1),
          SortableDoubleBits.toSortable(if (loV == 0.0) -0.0 else loV),
          SortableDoubleBits.toSortable(if (hiV == 0.0) 0.0 else hiV))
      }
    }
  }

  /** Exact LOWER weighted quantiles of `value` per `key`, weighted by
    * the integral column `weight`, any group size. Semantics per
    * (key, p): the smallest value v whose cumulative weight
    * cumw(v) = Σ weight over rows with value ≤ v reaches
    * T = max(1, ⌈p·W⌉), W the key's total weight — at p = 0.5 exactly
    * the classic `2·cumw ≥ W → min(value)` lower weighted median (the
    * cumsum-replay formulation [[Analytics.weightedMedian]] computes
    * with a per-key sort window, which this extends past the group
    * size where that sort's task is executor-shaped).
    *
    * Groups at or under `hotThreshold` ROWS take the windowed-cumsum
    * replay directly (per-key sort bounded by the knob); oversized
    * groups the `route` sends to narrowing run the same narrowing core
    * as [[exactQuantilesAnyScale]] — T is the T-th element of the
    * key's weight-expanded multiset, so the core locates weight ranks
    * k1 = k2 = T with no interpolation.
    *
    * Contracts: `weight` must be integral-valued and positive — rows
    * with null/≤ 0 weight or null/NaN value are EXCLUDED (a zero
    * weight cannot move cumw; excluding it matches the replay oracle
    * whenever ties share the boundary, and l_quantity-style weights
    * are ≥ 1 by construction); weights are summed as longs (Σ must
    * fit). The pass-0 snapshot assumption of
    * [[exactQuantilesAnyScale]] applies unchanged.
    *
    * @return one row per (distinct key, p): (`key`, `p` double,
    *   `quantile` double).
    */
  def exactWeightedQuantilesAnyScale(
      rows: DataFrame, key: String, value: String, weight: String,
      ps: Seq[Double],
      hotThreshold: Long = 4000000L,
      buckets: Int = 8192,
      finish: Long = 1048576L,
      maxHotKeys: Int = 4096,
      route: HotRoute = HotRoute.CostAware): DataFrame = {
    checkOutput(key, ps)
    checkKnobs(hotThreshold, buckets, finish, maxHotKeys)
    val spark = rows.sparkSession
    val v = col(value).cast("double")
    val wLong = col(weight).cast("long")
    val keep = col(value).isNotNull && !isnan(v) &&
      col(weight).isNotNull && col(weight) > 0
    val base = rows.filter(keep)
      .select(col(key).as("__k"), v.as("__v"), wLong.as("__w"))

    // classification pass: WHICH keys exceed hotThreshold, the corpus
    // size for the router, and the eager integral-weight check.
    // LEAN on purpose: per-key count only — no rollup (its Expand
    // feeds the aggregation TWICE the rows, measured +50% on the
    // 600M-row decade), no value brackets (keys that narrow get exact
    // stats from their extracted subset below), and the per-key result
    // persists DISK_ONLY just long enough that the corpus total plus
    // the global integral verdict are one O(|keys|) follow-up job, not
    // a second scan of the fact. The integral contract is ENFORCED,
    // not assumed: a fractional weight would otherwise truncate
    // silently (0 < w < 1 passes the `> 0` filter yet contributes ZERO
    // weight after the long cast). A per-row raise_error guard was
    // tried instead and REJECTED by measurement: inside the replay's
    // 600M-row window pipeline it cost ~1.8x bracketed same-run wall
    // (docs/SCALING.md round 13).
    val counts = rows.filter(keep)
      .select(col(key).as("__k"), wLong.as("__w"),
        (col(weight).cast("double") === wLong.cast("double")).as("__wint"))
      .groupBy(col("__k")).agg(
        count(lit(1)).as("__n"), min(col("__wint")).as("__allint"))
      .persist(StorageLevel.DISK_ONLY)
    val (over, global) =
      try (counts.filter(col("__n") > hotThreshold).collect(),
        counts.agg(sum(col("__n")), min(col("__allint"))).head())
      finally counts.unpersist()
    require(global.isNullAt(1) || global.getBoolean(1),
      s"weight column '$weight' holds non-integral values — the " +
        "weighted quantile contract is integral positive weights " +
        "(a fractional weight would truncate silently); scale weights " +
        "to integers before calling")

    // Router cost model (see [[HotRoute]]): a key narrows only when
    // its single sorted window task — n rows times a spill multiplier
    // for how far the working set overflows one task's execution-
    // memory share — would outlast the narrowing's cluster-spread
    // passes (γ·(N + passes·n) / parallelism). Constants calibrated on
    // the two measured regimes (docs/SCALING.md rounds 12-13): the
    // 32-core 48 GiB host with a 40M-row hot key must pick the replay
    // (measured 4.1x better), the 4 GiB executor-sized JVM with a
    // 50M-distinct key must pick the narrowing (measured 3.8x better);
    // γ = 16 reproduces both with ~2-20x margin. Measured router
    // overhead on a single host: the classification pass (~1.2x over
    // the oracle-best plan at the 600M decade; a cluster spreads it
    // across executors like any other scan).
    val hotKeys: Array[Any] = route match {
      case HotRoute.Narrow => over.map(_.get(0))
      case HotRoute.CostAware =>
        val totalRows = if (global.isNullAt(0)) 0L else global.getLong(0)
        val parallelism =
          math.max(1, spark.sparkContext.defaultParallelism).toDouble
        val taskMem =
          Runtime.getRuntime.maxMemory.toDouble * 0.3 / parallelism
        val rowBytes = 48.0 // key + double value + long weight + sort overhead
        val narrowPasses = 3.0 // extraction + ~2 shared histogram passes
        val gamma = 16.0 // narrowing per-row machinery vs one window pass
        over.filter { r =>
          val n = r.getLong(1).toDouble
          val spill = math.max(1.0, n * rowBytes / taskMem)
          gamma * (totalRows + narrowPasses * n) / parallelism < n * spill
        }.map(_.get(0))
    }
    checkHotCount(hotKeys.length, hotThreshold, maxHotKeys)

    // small path: windowed cumsum replay; the RANGE default frame sums
    // through value ties, so cumw is a function of the VALUE — the
    // exact cumw(v) the definition wants. T uses the same double
    // multiply as the hot path so both paths agree bit-for-bit.
    val wByV = Window.partitionBy(col("__k")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__k"))
    val small = smallKeys(base, hotKeys)
      .withColumn("__cw", sum(col("__w")).over(wByV))
      .withColumn("__tw", sum(col("__w")).over(wAll))
      .select(col("__k"), col("__v"), col("__cw"), col("__tw"),
        explode(lit(ps.toArray)).as("__p"))
      .withColumn("__t",
        greatest(lit(1L), ceil(col("__p") * col("__tw")).cast("long")))
      .filter(col("__cw") >= col("__t"))
      .groupBy(col("__k"), col("__p"))
      .agg(min(col("__v")).as("__med"))
    // the EXACT per-key stats the narrowing needs — row count, total
    // weight W, bit brackets — ride one cheap aggregate over the
    // (persisted, small) extracted subset, so replay-routed runs never
    // compute them
    withHotKeys(key, base, small, hotKeys, ps, weighted = true,
      buckets, finish) { hotRows =>
      val stats = hotRows.groupBy(col("__ki")).agg(count(lit(1)),
        sum(col("__w")), min(col("__b")), max(col("__b"))).collect()
        .map(r => r.getInt(0) ->
          HotKey(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      hotKeys.indices.map(stats).toArray
    }
  }

  /** `base` minus the hot keys. Joins against driver-built key tables
    * are NULL-SAFE (`<=>`): the null surrogate is the canonical hot
    * key, and an equality join would silently route a hot null group
    * back to the unbounded small-key plan.
    */
  private def smallKeys(base: DataFrame, hotKeys: Array[Any]): DataFrame =
    if (hotKeys.isEmpty) base
    else base.join(broadcast(keyTable(base, hotKeys)),
      col("__k") <=> col("__hk"), "left_anti")

  /** (`__hk`, dense key index `__ki`) for the hot keys. */
  private def keyTable(base: DataFrame, hotKeys: Array[Any]): DataFrame =
    base.sparkSession.createDataFrame(
      hotKeys.zipWithIndex.map { case (k, ki) => Row(k, ki) }.toSeq.asJava,
      StructType(Seq(StructField("__hk", base.schema("__k").dataType),
        StructField("__ki", IntegerType))))

  /** A hot key's exact stats: rows, total weight, and its bit bracket. */
  private final case class HotKey(rows: Long, weight: Long, lo: Long, hi: Long)

  /** The long output (`key`, `p`, `quantile`): `small` (`__k`, `__p`,
    * `__med`) for the keys under the threshold, plus every hot key
    * narrowed by [[narrow]] over its extracted subset. One extraction
    * pass; every later job reads the hot subset, not the full fact.
    * DISK_ONLY: predictable, no executor-memory claim beyond the write
    * buffers. (An A/B against localCheckpoint showed no driver-gap
    * win, and the eager checkpoint's separate materialization job cost
    * more than the persist's pipelined first-pass fill.) `stats` reads
    * each key's [[HotKey]], indexed by `__ki`, from the caller's
    * pass-0 counts or from the persisted (`__ki`, `__b`, `__w`)
    * subset it is given.
    */
  private def withHotKeys(key: String, base: DataFrame, small: DataFrame,
      hotKeys: Array[Any], ps: Seq[Double], weighted: Boolean,
      buckets: Int, finish: Long)(
      stats: DataFrame => Array[HotKey]): DataFrame = {
    val all = if (hotKeys.isEmpty) small else {
      val hotRows = base
        .join(broadcast(keyTable(base, hotKeys)), col("__k") <=> col("__hk"))
        .select(col("__ki"),
          SortableDoubleBits.sortableBits(col("__v")).as("__b"), col("__w"))
        .persist(StorageLevel.DISK_ONLY)
      val results =
        try narrow(hotRows.queryExecution.toRdd, stats(hotRows), ps,
          weighted, buckets, finish)
        finally hotRows.unpersist()
      small.unionByName(base.sparkSession.createDataFrame(
        results.indices.map(i =>
          Row(hotKeys(i / ps.size), ps(i % ps.size), results(i))).asJava,
        StructType(Seq(StructField("__k", base.schema("__k").dataType),
          StructField("__p", DoubleType), StructField("__med", DoubleType)))))
    }
    all.select(col("__k").as(key), col("__p").as("p"), col("__med").as("quantile"))
  }

  /** Narrowing state of one (hot key `ki`, p) pair: the quantile is
    * v1 + (v2 − v1)·frac over the elements at weight ranks k1 and k2
    * (1-based) of the key's weight-expanded multiset. Tasks receive
    * the pairs in their closures and read each pass's geometry off
    * them.
    */
  private final class Pair(val ki: Int, val k1: Long, val k2: Long,
      val frac: Double, var lo: Long, var hi: Long, var rows: Long)
      extends Serializable {
    var below: Long = 0L // weight of the key's rows with bits < lo
    var cut: Option[Long] = None // straddle: exactly k1 weight at bits <= cut
    var result: Option[Double] = None
    // this pass's integer-exact bucket geometry over the bit interval
    private var shift, sLo, sHi, width = 0L

    def open(finish: Long): Boolean =
      result.isEmpty && cut.isEmpty && lo != hi && rows > finish

    /** Sets this pass's geometry. A mixed-sign interval wider than
      * Long.MaxValue would overflow (bits − lo); shifting both ends by
      * one bit is order-preserving and never needed twice.
      */
    def bucketize(buckets: Int): Unit = {
      shift = if (lo < 0 && hi > 0 &&
        BigInt(hi) - BigInt(lo) >= BigInt(Long.MaxValue)) 1L else 0L
      sLo = lo >> shift
      sHi = hi >> shift
      width = (sHi - sLo) / buckets + 1
    }

    /** The bucketing function. Rows outside [lo, hi] land in the
      * sentinel cells 0 and buckets + 1, so cumulative weights stay
      * ABSOLUTE ranks and nothing carries between passes except the
      * interval itself.
      */
    def cell(b: Long, buckets: Int): Int =
      if (b < lo) 0
      else if (b > hi) buckets + 1
      else (((b >> shift) - sLo) / width).toInt + 1

    /** The upper bit edge of bucket `bkt`. */
    def edge(bkt: Int): Long =
      math.min(hi, (math.min(sHi, sLo + (bkt + 1) * width - 1) << shift) |
        ((1L << shift) - 1))

    def narrowTo(bkt: Int, e: Edge): Unit = {
      hi = edge(bkt)
      lo = math.max(lo, (sLo + bkt * width) << shift)
      below = e.cum - e.weight
      rows = e.rows
    }
  }

  /** The indexes of `pairs` per key index: every pair of a key reads
    * the same scan of its rows.
    */
  private def slotsByKey(pairs: Array[Pair], nKeys: Int): Array[Array[Int]] = {
    val m = Array.fill(nKeys)(Array.newBuilder[Int])
    pairs.zipWithIndex.foreach { case (s, j) => m(s.ki) += j }
    m.map(_.result())
  }

  /** Where one pair's cumulative weight first reaches k1 (cell1, the
    * cumulative weight there, that cell's weight and rows) and k2
    * (cell2).
    */
  private final case class Edge(cell1: Int, cum: Long, weight: Long,
      rows: Long, cell2: Int)

  /** The rank rule, the same on the driver and on the executors: `h`
    * holds (weight, rows) per cell of pair `s` from `off`.
    */
  private def edgeScan(h: Array[Long], off: Int, nCells: Int, s: Pair): Edge = {
    var cum = 0L
    var e: Edge = null
    var i = 0
    while (i < nCells) {
      val w = h(off + 2 * i)
      cum += w
      if (e == null && cum >= s.k1) e = Edge(i, cum, w, h(off + 2 * i + 1), -1)
      if (cum >= s.k2) return e.copy(cell2 = i)
      i += 1
    }
    throw new IllegalStateException(s"pass histogram never reached ranks " +
      s"k1=${s.k1} k2=${s.k2} — narrowing invariant broken")
  }

  /** One narrowing pass's rank location: an [[Edge]] per active pair,
    * from ONE job over the hot subset's cached scan with the geometry
    * in the task closure (zero planning per pass). Under `CellBound`
    * the dense per-task histograms merge on the driver, which scans
    * them; above it each task combines at most `CellBound` sparse
    * cells at a time, a shuffle sends each band of `CellBound / nCells`
    * pairs to one reduce partition, and the edge scan runs there —
    * only the edges come back.
    */
  private def locate(hotScan: RDD[InternalRow], active: Array[Pair],
      nKeys: Int, buckets: Int): Array[Edge] = {
    val m = active.length
    val n = buckets + 2
    val slots = slotsByKey(active, nKeys)
    if (m.toLong * n <= CellBound) {
      val h = histAggregate(hotScan, m * n * 2) { (h, row) =>
        val js = slots(row.getInt(0))
        val b = row.getLong(1)
        var i = 0
        while (i < js.length) {
          val off = 2 * (js(i) * n + active(js(i)).cell(b, buckets))
          h(off) += row.getLong(2)
          h(off + 1) += 1L
          i += 1
        }
      }
      Array.tabulate(m)(j => edgeScan(h, 2 * j * n, n, active(j)))
    } else {
      val band = CellBound / n
      val maxSlots = slots.map(_.length).max
      hotScan
        .mapPartitions { rows =>
          // map-side combine, flushed whenever the task's sparse cells
          // could pass CellBound; each flush ships one packed
          // (cell, weight, rows) array per band
          Iterator.continually {
            val cells = mutable.LongMap.empty[Array[Long]]
            while (rows.hasNext && cells.size + maxSlots <= CellBound) {
              val row = rows.next()
              val b = row.getLong(1)
              slots(row.getInt(0)).foreach { j =>
                val c = cells.getOrElseUpdate(
                  j.toLong * n + active(j).cell(b, buckets), new Array[Long](2))
                c(0) += row.getLong(2)
                c(1) += 1L
              }
            }
            val packed = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
            cells.foreach { case (i, c) =>
              packed.getOrElseUpdate(i / n / band, new mutable.ArrayBuilder.ofLong)
                .addAll(Array(i, c(0), c(1)))
            }
            packed.iterator.map { case (bi, a) => (bi.toInt, a.result()) }.toSeq
          }.takeWhile(_.nonEmpty).flatten
        }
        .partitionBy(new HashPartitioner((m + band - 1) / band))
        .mapPartitionsWithIndex { (bi, it) =>
          val first = bi * band
          val size = math.min(band, m - first)
          val h = new Array[Long](2 * size * n)
          it.foreach { case (_, a) =>
            var k = 0
            while (k < a.length) {
              val off = 2 * (a(k) - first.toLong * n).toInt
              h(off) += a(k + 1)
              h(off + 1) += a(k + 2)
              k += 3
            }
          }
          Iterator.tabulate(size)(j =>
            (first + j) -> edgeScan(h, 2 * j * n, n, active(first + j)))
        }
        .collect().sortBy(_._1).map(_._2)
    }
  }

  /** The shared narrowing core: the value of every (hot key, p) pair,
    * indexed ki·|ps| + pi. `hotScan` rows are (ki int, bits long,
    * weight long). Unweighted ranks are unit-weight order statistics
    * k1 = ⌊p(n−1)⌋+1, k2 = ⌈p(n−1)⌉+1; weighted ranks are
    * k1 = k2 = max(1, ⌈p·W⌉), the lower weighted quantile.
    */
  private def narrow(hotScan: RDD[InternalRow], keys: Array[HotKey],
      ps: Seq[Double], weighted: Boolean, buckets: Int,
      finish: Long): Array[Double] = {
    val pairs = keys.zipWithIndex.flatMap { case (h, ki) =>
      ps.map { p =>
        if (weighted) {
          val t = math.max(1L, math.ceil(p * h.weight).toLong)
          new Pair(ki, t, t, 0.0, h.lo, h.hi, h.rows)
        } else {
          val pos = p * (h.rows - 1)
          new Pair(ki, math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1,
            pos - math.floor(pos), h.lo, h.hi, h.rows)
        }
      }
    }

    // interval shrinks ~buckets-fold per pass (half that on the one
    // possible mixed-sign shifted pass); this bound is generous
    val maxIter = 66 / (63 - java.lang.Long.numberOfLeadingZeros(buckets.toLong)) + 4
    var iter = 0
    while (pairs.exists(_.open(finish)) && iter < maxIter) {
      iter += 1
      val active = pairs.filter(_.open(finish))
      active.foreach(_.bucketize(buckets))
      active.zip(locate(hotScan, active, keys.length, buckets)).foreach {
        case (s, e) =>
          val (b1, b2) = (e.cell1 - 1, e.cell2 - 1)
          require(b1 >= 0 && b1 < buckets && b2 >= 0 && b2 < buckets,
            s"rank left the bracketed interval (b1=$b1 b2=$b2) — " +
              "narrowing invariant broken")
          // b1 != b2: k2 = k1 + 1 and exactly k1 weight sits at or
          // below the upper bit edge of bucket b1, so the nearest rows
          // on each side of that edge are the two elements
          if (b1 == b2) s.narrowTo(b1, e) else s.cut = Some(s.edge(b1))
      }
    }
    require(!pairs.exists(_.open(finish)),
      s"quantile narrowing did not converge in $maxIter passes")

    // plateau endgame: a single-bit interval IS the value
    pairs.filter(s => s.result.isEmpty && s.cut.isEmpty && s.lo == s.hi)
      .foreach(s => s.result = Some(SortableDoubleBits.fromSortable(s.lo)))
    endgame(hotScan, pairs.filter(_.result.isEmpty), keys.length)
    pairs.map(_.result.getOrElse(throw new IllegalStateException(
      "a hot (key, p) resolved no result — endgame invariant broken")))
  }

  /** Straddle and collect endgames in ONE job over the hot subset's
    * cached scan. A straddle pair keeps each task's nearest bits on
    * either side of its cut; a collect pair ships its ≤ `finish`
    * interval rows. Per pair, the reduce side walks the sorted
    * (bits, weight) rows from the weight below them to ranks k1 and
    * k2 (a straddle pair's two nearest rows start at k1 − 1); the
    * driver interpolates.
    */
  private def endgame(hotScan: RDD[InternalRow], ends: Array[Pair],
      nKeys: Int): Unit = if (ends.nonEmpty) {
    val m = ends.length
    val slots = slotsByKey(ends, nKeys)
    hotScan.mapPartitions { rows =>
      // Long.MinValue / MaxValue are NaN bit images, never a row's bits
      val lt = Array.fill(m)(Long.MinValue)
      val gt = Array.fill(m)(Long.MaxValue)
      rows.flatMap { row =>
        val b = row.getLong(1)
        slots(row.getInt(0)).flatMap { e =>
          val s = ends(e)
          s.cut match {
            case Some(c) =>
              if (b <= c) lt(e) = math.max(lt(e), b) else gt(e) = math.min(gt(e), b)
              None
            case None =>
              if (b >= s.lo && b <= s.hi) Some((e, (b, row.getLong(2)))) else None
          }
        }
      } ++ ends.indices.iterator.filter(ends(_).cut.isDefined).flatMap(e =>
        Iterator((e, (lt(e), 1L)), (e, (gt(e), 1L))))
    }.groupByKey(math.max(1, math.min(m, hotScan.getNumPartitions)))
      .map { case (e, cells) =>
        val s = ends(e)
        val (sorted, start) = s.cut match {
          case Some(c) =>
            val bs = cells.map(_._1)
            (Seq(bs.filter(_ <= c).max, bs.filter(_ > c).min).map((_, 1L)), s.k1 - 1)
          case None => (cells.toSeq.sortBy(_._1), s.below)
        }
        var acc = start
        var (b1, b2) = (Long.MinValue, Long.MinValue)
        sorted.foreach { case (b, w) =>
          acc += w
          if (b1 == Long.MinValue && acc >= s.k1) b1 = b
          if (b2 == Long.MinValue && acc >= s.k2) b2 = b
        }
        (e, b1, b2)
      }
      .collect()
      .foreach { case (e, b1, b2) =>
        require(b1 != Long.MinValue && b2 != Long.MinValue,
          "an endgame walk reached no rank — endgame invariant broken")
        val (v1, v2) = (SortableDoubleBits.fromSortable(b1),
          SortableDoubleBits.fromSortable(b2))
        // equal elements return v1 directly: Inf + (Inf-Inf)*f would
        // manufacture NaN where percentile/quantile_cont return Inf
        ends(e).result = Some(if (v1 == v2) v1 else v1 + (v2 - v1) * ends(e).frac)
      }
  }

  /** `q_median_narrow` gate surface: the narrowing median against the
    * classic-percentile groups the oracle can replay — hotThreshold
    * forced low so every group takes the narrowing path, buckets kept
    * small so the gate exercises multiple refinement passes and the
    * collect endgame, not just one histogram.
    */
  def medianNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_returnflag"), round(col("quantile"), 4).as("med"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_quantile_narrow` gate surface: the general-p narrowing
    * quantile (p90 here — frac-weighted interpolation, not the
    * median's midpoint) against DuckDB `quantile_cont`; knobs forced
    * low like the median gate so refinement and the endgames run.
    */
  def quantileNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_linenumber", "l_extendedprice", Seq(0.9),
      hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_linenumber"), round(col("quantile"), 4).as("p90"))
      .orderBy(col("l_linenumber"))
  }

  /** `q_quantiles_multi` gate surface: p50/p90/p99 per group through
    * ONE shared set of narrowing passes, long format, against three
    * DuckDB `quantile_cont` calls unioned — proves cross-engine that
    * pass-sharing changes nothing about any individual quantile.
    */
  def quantilesNarrowMulti(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice",
      Seq(0.5, 0.9, 0.99), hotThreshold = 100L, buckets = 64, finish = 48L)
      .select(col("l_returnflag"), col("p"), round(col("quantile"), 4).as("q"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  /** Bounded-error weighted quantiles in ONE aggregation pass —
    * the approximate path the exact narrowing was missing (a user
    * wanting a cheap weighted p50 at 100 TB should not have to pay
    * narrowing passes). Method: deterministic PRIORITY SAMPLING
    * (Duffield–Lund–Thorup): each row draws u ∈ (0, 1] from the md5
    * of its `ident` columns and gets priority w/u; per key the
    * `sampleK`+1 highest-priority rows are kept by the engine's own
    * bounded-heap aggregate (`graft_topk` — heaps combine map-side,
    * so only O(sampleK) state per key ever shuffles, the same shape
    * GK's unweighted sketch gets from `percentile_approx`). With
    * threshold τ = the (sampleK+1)-th priority, each sampled row's
    * adjusted weight max(w, τ) makes every subset weight-sum
    * unbiased, so the weighted quantile read off the sorted sample
    * estimates the true one with rank error ~sampleK^(-1/2) — and a
    * key with ≤ sampleK rows is EXACT (τ = 0 keeps raw weights).
    * All array post-processing (τ, adjust, sort, cumulative fold)
    * runs on the O(sampleK) aggregate result, never the raw rows.
    *
    * Deterministic by construction: the md5 draw replaces the RNG, so
    * reruns, retries, and both gate engines see the same sample —
    * the same discipline as `text_weighted_sample`'s
    * Efraimidis–Spirakis sampler.
    *
    * Semantics estimated: the LOWER weighted quantile (smallest v
    * whose cumulative weight reaches p·W — the same statistic as
    * [[exactWeightedQuantilesAnyScale]]). Rows with null/NaN value or
    * null/non-positive weight are excluded. Fractional weights are
    * ACCEPTED here (weights participate as doubles; only the exact
    * path's long-rank arithmetic demands integral weights).
    *
    * @param ident  columns whose concatenation identifies a row —
    *   seeds the per-row sampling hash; duplicates share a draw
    *   (harmless at sketch accuracy)
    * @param sampleK  per-key sample size: rank error ~1/sqrt(sampleK)
    *   (default 10000 ≈ 1%), executor state per key ~32·sampleK bytes
    * @return one row per (distinct key, p): (`key`, `p` double,
    *   `quantile` double)
    */
  def approxWeightedQuantiles(
      rows: DataFrame, key: String, value: String, weight: String,
      ps: Seq[Double], ident: Seq[String],
      sampleK: Int = 10000): DataFrame = {
    checkOutput(key, ps)
    require(ident.nonEmpty, "ident columns seed the deterministic draw")
    require(sampleK >= 16 && sampleK <= 10000000,
      s"sampleK=$sampleK out of the executor-sized range")
    val v = col(value).cast("double")
    val wD = col(weight).cast("double")
    val keep = col(value).isNotNull && !isnan(v) &&
      col(weight).isNotNull && col(weight) > 0
    // u ∈ (0, 1]: 60-bit md5 slice, +1 so the division never sees 0
    val u = (conv(substring(md5(concat_ws("|", ident.map(col): _*)
      .cast("binary")), 1, 15), 16, 10).cast("double") + lit(1.0)) /
      lit(math.pow(2.0, 60))
    val psLit = lit(ps.toArray)
    rows.filter(keep)
      .select(col(key).as("__k"), v.as("__v"), wD.as("__w"),
        (wD / u).as("__pri"))
      .groupBy(col("__k"))
      .agg(graft.functions.TopKFunctions.topK(
        struct(col("__pri"), col("__v"), col("__w")), sampleK + 1).as("__arr"))
      .withColumn("__tau",
        when(size(col("__arr")) > sampleK,
          element_at(col("__arr"), sampleK + 1).getField("__pri"))
          .otherwise(lit(0.0)))
      // adjusted sample in VALUE order; (v, w) structs sort by v first
      .withColumn("__sorted", array_sort(transform(
        slice(col("__arr"), 1, sampleK),
        x => struct(x.getField("__v").as("v"),
          greatest(x.getField("__w"), col("__tau")).as("w")))))
      .withColumn("__tw",
        aggregate(col("__sorted"), lit(0.0), (a, x) => a + x.getField("w")))
      .select(col("__k"), col("__sorted"), col("__tw"),
        explode(psLit).as("__p"))
      .withColumn("__t", col("__p") * col("__tw"))
      // smallest sampled v whose cumulative adjusted weight reaches
      // p·W; the coalesce absorbs the one fp edge (T = W undershot by
      // the rounding of the final partial sum) with the max value
      .select(col("__k").as(key), col("__p").as("p"), coalesce(expr(
        """aggregate(__sorted,
          |  struct(CAST(0.0 AS DOUBLE) AS acc, CAST(NULL AS DOUBLE) AS res),
          |  (a, x) -> CASE
          |    WHEN a.res IS NOT NULL THEN a
          |    WHEN a.acc + x.w >= __t
          |      THEN struct(a.acc + x.w AS acc, x.v AS res)
          |    ELSE struct(a.acc + x.w AS acc, CAST(NULL AS DOUBLE) AS res)
          |  END,
          |  a -> a.res)""".stripMargin),
        element_at(col("__sorted"), -1).getField("v")).as("quantile"))
  }

  /** `q_approx_weighted_quantile` gate surface: the weighted sketch's
    * contract — the returned value's WEIGHT RANK is within the sample
    * bound of the target — made recordable, mirroring
    * [[Analytics.approxQuantileGate]]. Per group the estimate's
    * empirical weight rank (Σ weight over rows with value ≤ est over
    * total weight, one broadcast-join pass back over the data) is
    * checked against |rank − p| ≤ `epsCheck` (default 0.02 ≈ 2σ
    * headroom over the nominal 1/sqrt(10000) = 1%; the md5 draw is
    * deterministic, so the verdict is stable per dataset). The oracle
    * recomputes the exact group count/weight and predicts both
    * verdicts true, so a rank excursion fails the hash gate.
    */
  def approxWeightedQuantileGate(spark: SparkSession, dir: String,
      sampleK: Int = 10000, epsCheck: Double = 0.02): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    val est = auto(l, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9),
      mode = QuantileMode.Sketch(sampleK), weight = Some("l_quantity"),
      ident = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag"))
      .agg(max(when(col("p") === 0.5, col("quantile"))).as("e50"),
        max(when(col("p") === 0.9, col("quantile"))).as("e90"))
    def rankOk(le: Column, tw: Column, p: Double): Column =
      abs(le.cast("double") / tw.cast("double") - lit(p)) <= lit(epsCheck)
    l.join(broadcast(est), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("w_total"),
        sum(when(col("l_extendedprice") <= col("e50"),
          col("l_quantity").cast("long")).otherwise(0L)).as("le50"),
        sum(when(col("l_extendedprice") <= col("e90"),
          col("l_quantity").cast("long")).otherwise(0L)).as("le90"))
      .select(col("l_returnflag"), col("n_rows"), col("w_total"),
        rankOk(col("le50"), col("w_total"), 0.5).as("p50_rank_ok"),
        rankOk(col("le90"), col("w_total"), 0.9).as("p90_rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_median_auto` gate surface: the same statistic as
    * `q_weighted_median_narrow` but through the DEFAULT cost-aware
    * route — at gate scale the model routes every over-threshold key
    * to the windowed replay, so this pins both that the router is
    * semantics-preserving (identical oracle as the narrow gate) and
    * that the replay path behind the router computes the same
    * statistic the narrowing does.
    */
  def weightedMedianAuto(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      weight = Some("l_quantity"), hotThreshold = 100L)
      .select(col("l_returnflag"), round(col("quantile"), 4).as("wmed"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_median_narrow` gate surface: the weighted narrowing
    * median (quantity-weighted price per return flag) against the
    * DuckDB cumsum-replay oracle (`2·cumw ≥ W → min(value)`), knobs
    * forced low so every group takes the narrowing path and the
    * executor-side fold endgame runs, not just one histogram. The same
    * statistic [[Analytics.weightedMedian]] computes with a per-key
    * sort window — this is its any-scale twin through the [[auto]]
    * front door.
    */
  def weightedMedianNarrow(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.5),
      weight = Some("l_quantity"),
      hotThreshold = 100L, buckets = 64, finish = 48L,
      route = HotRoute.Narrow)
      .select(col("l_returnflag"),
        round(col("quantile"), 4).as("wmed"))
      .orderBy(col("l_returnflag"))
  }

  /** `q_weighted_quantiles_multi` gate surface: p25/p50/p90 weighted
    * quantiles per group through ONE shared set of narrowing passes —
    * the weighted twin of `q_quantiles_multi`, proving cross-engine
    * that pass-sharing changes nothing about any individual weight
    * rank. Oracle: three unioned DuckDB cumsum replays
    * (min value with cumw ≥ ⌈p·W⌉).
    */
  def weightedQuantilesNarrowMulti(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(spark, dir, "lineitem")
    auto(l, "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.9),
      weight = Some("l_quantity"),
      hotThreshold = 100L, buckets = 64, finish = 48L,
      route = HotRoute.Narrow)
      .select(col("l_returnflag"), col("p"),
        round(col("quantile"), 4).as("q"))
      .orderBy(col("l_returnflag"), col("p"))
  }
}
