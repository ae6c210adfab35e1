package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Reusable relational operator shapes — the engine's equivalents of the
 * reference's hand-rolled join/lookup loops, re-expressed as declarative
 * DataFrame compositions that Catalyst can push down, reorder and broadcast.
 * See SURVEY.md §2.3/§2.4/§2.5 for the operator inventory (J4–J9, A1–A3).
 */
object relational {

  /**
   * J4/J6 — keep-first-match left join. The reference probes a build-side
   * array with `.find(...)` (first match wins, `Pembelian/run.js:191-195`) or
   * issues a per-row query keeping `result[0]` (`ProductionOrderStatus/
   * run.js:101-125`). Here: deterministically rank the right side per key
   * and keep rank 1, then ordinary left join — one shuffle on the join key,
   * broadcastable when `right` is a dim.
   *
   * @param tiebreak ordering that defines "first" (the reference is
   *                 nondeterministic; we require an explicit order).
   */
  def keepFirstMatch(left: DataFrame, right: DataFrame, keys: Seq[String],
                     tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak: _*)
    val firstOnly = right
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    left.join(firstOnly, keys, "left")
  }

  /**
   * A1/A2 — argmax per group: the whole row holding the max of `ordCol`
   * within each group (`$group {$first: "$$ROOT"}` after `$sort`,
   * `MigrationLogFunc/index.js:32-42`; `top(1) ... order by finish desc`,
   * `Pembelian/run.js:44-46`). Single shuffle on the group keys.
   *
   * @param tiebreak extra ordering columns to make the pick deterministic.
   */
  def argmaxPerGroup(df: DataFrame, groupKeys: Seq[String], ordCol: Column,
                     tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*)
      .orderBy((ordCol.desc +: tiebreak): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * J8 — as-of (point-in-time) join: for each left row, the single right row
   * with the greatest `rightTs <= leftTs` within the same key (latest
   * currency rate at-or-before the document date,
   * `GarmentTotalHutang/run.js:121-133`). Left-preserving: unmatched left
   * rows survive with nulls.
   *
   * Plan shape: equi-join on `keys` (shuffle or broadcast) + range predicate,
   * then a window keeping the latest right match per left row. At scale the
   * equi-key carries the shuffle; the range filter prunes within partitions.
   *
   * @param leftId   unique left row id (tie scope for the window)
   * @param tiebreak deterministic pick among equal `rightTs` values
   */
  def asOfJoin(left: DataFrame, right: DataFrame, on: Column,
               leftTs: Column, rightTs: Column, leftId: Column,
               tiebreak: Seq[Column] = Nil): DataFrame = {
    val joined = left.join(right, on && rightTs <= leftTs, "left")
    val w = Window.partitionBy(leftId)
      .orderBy((rightTs.desc_nulls_last +: tiebreak): _*)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * J5/U3 — explode an array-of-struct child while preserving parents with
   * empty/null children (the reference's nest-then-flatten round trip,
   * `ShipmentDocument/run.js:144-152`, and the `[].concat.apply` flatten,
   * `Pembelian/run.js:282`).
   */
  def explodePreservingParent(df: DataFrame, arrayCol: String,
                              as: String): DataFrame =
    df.withColumn(as, explode_outer(col(arrayCol))).drop(arrayCol)

  /**
   * J5 inverse — re-nest a child table under its parent as an
   * array-of-struct column (the document shape the reference assembles
   * row-by-row in JS, `ShipmentDocument/run.js:144-152`: shipment →
   * details → items → packingReceiptItems). One shuffle on the parent
   * key (groupBy collect_list), left-preserving: parents without
   * children get an empty array, ready for `explode_outer` back out.
   *
   * @param childCols child columns to pack into the struct (all
   *                  non-key columns when empty)
   */
  def nestChildren(parent: DataFrame, child: DataFrame, keys: Seq[String],
                   as: String, childCols: Seq[String] = Nil): DataFrame = {
    val cols = if (childCols.nonEmpty) childCols
      else child.columns.filterNot(keys.contains).toSeq
    val packed = child
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(cols.map(col): _*)).as(as))
    parent.join(packed, keys, "left")
      .withColumn(as, coalesce(col(as), array().cast(
        packed.schema(as).dataType.simpleString)))
  }

  /** P4 — NOT-IN (anti) filter on a literal list
    * (`createdby not in ('dev','unit-test')`, `Pembelian/run.js:166-167`).
    * Reference semantics: NULLs are *kept* (SQL NOT IN would drop them —
    * the reference's JS `.indexOf` check keeps them; encode deliberately). */
  def notInKeepNulls(df: DataFrame, c: Column, values: Seq[String]): DataFrame =
    df.filter(c.isNull || !c.isin(values: _*))

  /** S2/P2 — incremental watermark scan: rows strictly newer than the last
    * successful run (`lastmodifiedutc > :watermark`,
    * `Pembelian/run.js:120-170`). The predicate is a plain Catalyst filter
    * so it pushes down to parquet/JDBC scans. */
  def incrementalScan(df: DataFrame, tsCol: Column, watermark: Column,
                      inclusive: Boolean = false): DataFrame =
    df.filter(if (inclusive) tsCol >= watermark else tsCol > watermark)

  /**
   * A5 at scale — contiguous global row counter WITHOUT the
   * single-reducer sort (`TotalHutang/run.js:205-217` emits a running
   * insert counter; `row_number().over(Window.orderBy(...))` reproduces
   * it but moves every row to one reducer — fine for a nightly delta,
   * fatal for a backfill).
   *
   * Shape: range-repartition on the ordering key (each partition then
   * holds a contiguous, sorted key range), number rows inside each
   * partition, and add per-partition offsets — prefix sums over the
   * partition-size list, a model-parameter-sized driver step of the same
   * class as a watermark read, re-embedded as a literal map lookup.
   * Bit-identical to the global window when `order` is a unique total
   * order (required; range boundaries may split ties otherwise).
   *
   * The ranged intermediate is pinned: it feeds both the size count and
   * the final projection, and must not be recomputed (a re-sampled range
   * shuffle could place boundaries differently).
   */
  def contiguousRowNumber(df: DataFrame, order: Seq[Column], as: String,
                          numPartitions: Option[Int] = None): DataFrame = {
    val parted = numPartitions
      .map(n => df.repartitionByRange(n, order: _*))
      .getOrElse(df.repartitionByRange(order: _*))
    val local = graft.ops.materialize(
      parted.withColumn("__pid", spark_partition_id())
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__pid")).orderBy(order: _*))))
    val sizes = local.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = sizes
      .scanLeft((-1, 0L, 0L)) { case ((_, _, cum), (p, n)) => (p, cum, cum + n) }
      .drop(1).map { case (p, off, _) => p -> off }.toMap
    local
      .withColumn(as, (col("__rn") + element_at(typedLit(offsets), col("__pid")))
        .cast("long"))
      .drop("__pid", "__rn")
  }

  /**
   * [[contiguousRowNumber]] with the range boundaries PRE-SAMPLED from
   * a column-pruned pass, eliminating the RangePartitioner's
   * double-execution of the input plan (the q63 profile, BASELINE r16:
   * `repartitionByRange`'s sampling pass re-runs the whole upstream
   * join — all payload columns — before the real shuffle runs it
   * again).
   *
   * How: one cheap pass collects a bounded deterministic key sample
   * (smallest `xxhash64(keys)` via TakeOrdered — one map pass + driver
   * merge, no full sort; on `sampleSource` if given, else on
   * `df.select(order)`, which Catalyst column-prunes through the
   * upstream joins) and cuts it into `n−1` boundary keys. Each row's
   * bucket is then a PURE FUNCTION of its key — Σ 1[key ≥ boundary] —
   * so the wide row moves through ONE hash exchange on the bucket id
   * and the input plan executes exactly once.
   *
   * Correctness does not depend on the boundaries at all: global
   * contiguity comes from summing bucket sizes in BUCKET order (not
   * partition order — a hash partition may hold several buckets; the
   * within-partition window partitions by bucket), equal keys share a
   * bucket by construction, and the within-bucket `row_number` orders
   * by the full key — so the output is bit-identical to
   * [[contiguousRowNumber]] under the same unique-total-order
   * contract, for ANY boundary choice (RelationalOpsSpec asserts
   * parity, including under adversarial fixed boundaries). Boundaries
   * only govern balance; the hash-of-key sample effectively samples
   * DISTINCT keys (all copies of a key rank together), which biases
   * balance on heavily duplicated keys — acceptable for a counter
   * whose skew failure mode is a slow task, never a wrong number.
   *
   * Null key columns compare null against boundary structs and land
   * in the lowest bucket (the RangePartitioner's nulls-first side);
   * counter values are unaffected (the window orders nulls first
   * within the bucket).
   */
  def contiguousRowNumberSampledRange(df: DataFrame, order: Seq[Column],
                                      as: String,
                                      numPartitions: Option[Int] = None,
                                      sampleSource: Option[DataFrame] = None)
      : DataFrame = {
    val spark = df.sparkSession
    val n = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val keyed = sampleSource.getOrElse(df)
    // bounded deterministic sample: 64 candidates per target partition
    // (shared with contiguousPrefixSum — see sampledBoundaryBucket)
    val bucket = sampledBoundaryBucket(keyed, order, n)
    val local = graft.ops.materialize(
      df.withColumn("__bk", bucket)
        .repartition(n, col("__bk"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__bk")).orderBy(order: _*))))
    val sizes = local.groupBy(col("__bk")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = sizes
      .scanLeft((-1, 0L, 0L)) { case ((_, _, cum), (b, c)) => (b, cum, cum + c) }
      .drop(1).map { case (b, off, _) => b -> off }.toMap
    local
      .withColumn(as, (col("__rn") + element_at(typedLit(offsets), col("__bk")))
        .cast("long"))
      .drop("__bk", "__rn")
  }

  /** Driver-side ordering matching Spark's ascending-nulls-first sort
    * EXACTLY — Catalyst's own interpreted ordering over converted rows
    * ([[org.apache.spark.sql.graft.RowOrderingBridge]]), not a
    * hand-rolled approximation. Exactness is load-bearing since the
    * r19 binary-search bucket: the in-plan search is monotone only if
    * the driver-sorted boundary sequence is sorted under the
    * EXECUTOR's comparison (a Java `String.compareTo` driver sort
    * diverges from UTF8String's unsigned-UTF-8-byte order on
    * supplementary characters, and `Double.compare` on two longs past
    * 2^53 can call distinct keys equal). */
  private def sortKeyOrdering(schema: org.apache.spark.sql.types.StructType)
      : Ordering[org.apache.spark.sql.Row] =
    org.apache.spark.sql.graft.RowOrderingBridge.externalRowOrdering(schema)

  /**
   * Narrow-shuffle twin of [[contiguousRowNumber]]: the counter is
   * computed over a PROJECTION of (order columns, synthetic row id)
   * and joined back by the id, so the range exchange and the
   * per-partition sort only ever carry the narrow rows. Worth it when
   * the payload is wide (q63's fact is 15 columns of strings): at
   * spill-bound scale the default form pays the sort's disk bandwidth
   * on every payload byte, while this form pays it on the key columns
   * only and moves the payload once through a hash exchange with no
   * sort. At small SF the extra join-back loses — the DEFAULT stays
   * [[contiguousRowNumber]]; measured deltas live in BASELINE.md.
   *
   * Same uniqueness contract as the default (bit-identical only when
   * `order` is a unique total order); the synthetic id is minted on a
   * pinned copy of the input so both the narrow pass and the join-back
   * see identical ids.
   */
  def contiguousRowNumberViaJoin(df: DataFrame, order: Seq[Column],
                                 as: String,
                                 numPartitions: Option[Int] = None)
      : DataFrame = {
    val mid = "__graft_mid"
    val withMid = graft.ops.materialize(
      df.withColumn(mid, monotonically_increasing_id()))
    val aliased = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }
    // r19: the narrow counter uses the SAMPLED range form — the
    // RangePartitioner's sampling pass re-read the pinned projection a
    // second time; the boundary sample reads only the key columns once
    val counter = contiguousRowNumberSampledRange(
        withMid.select(aliased :+ col(mid): _*),
        order.indices.map(i => col(s"__o$i")), as, numPartitions)
      .select(col(mid), col(as))
    withMid.join(counter, mid).drop(mid)
  }

  /**
   * Auto-selecting form of the contiguous counter: picks the wide
   * single-execution sort ([[contiguousRowNumberSampledRange]] — r19;
   * previously the double-executing [[contiguousRowNumber]]) while the
   * payload sort is expected to fit in memory, and the narrow
   * keys-only counter + join-back ([[contiguousRowNumberViaJoin]])
   * once it would spill. Both twins are bit-identical (spec'd, plus symmetric-diff 0
   * at sf16 / 75 M rows), so a wrong pick costs only time — never
   * correctness.
   *
   * The rule encodes the MEASURED crossover (BASELINE.md r15, q63 at
   * sf0.1/sf4/sf16): the wide form wins while its sort stays in memory
   * (sf0.1: 4.98 vs 6.3 s — the join-back costs more than an in-memory
   * sort saves), the narrow form wins 1.6× once the payload sort
   * spills (sf16: 127.2 vs 79.8 s), and the gap grows with payload
   * bytes per sorted row. "Would it spill" is decided by
   * [[counterSortEstimate]]: the SCAN bytes feeding the plan — the sum
   * of the optimized plan's leaf statistics (file sizes for parquet
   * scans), times a configurable columnar→row expansion factor
   * (`spark.graft.counter.scanExpansion`, default 10: the q63 fact
   * measures ~12× — 2.5 GB of parquet decodes to ~30 GB of unsafe
   * rows, which is what the sort actually buffers; columnar
   * compression does real work on string facts) — against a sort
   * budget resolved as: the `sortBudgetBytes` argument, else the
   * `spark.graft.counter.sortBudgetBytes` session conf, else HALF the
   * cluster's aggregate BlockManager capacity (the unified memory
   * manager guarantees execution only `1 − storageFraction` = 50% of
   * the region against storage eviction — the share a sort can count
   * on before spilling). Calibration anchor (BASELINE r16): at sf16
   * with a 57 GB region the wide form measured 189.8 s against the
   * narrow form's ~80 s — est 3.4 GB × 10 = 34 GB > 28.5 GB budget
   * correctly picks narrow, where the earlier ×4-vs-full-capacity
   * model picked wide.
   *
   * Leaf sums, NOT the root estimate: without column statistics
   * Catalyst propagates join sizes multiplicatively, so any join-fed
   * input inflates to nonsense (q63's 3-way join at sf0.1 estimated
   * 1.2e20 bytes — the root estimate routed EVERY join-fed pipeline to
   * the narrow form, measurably the wrong call in-memory; caught by
   * the r16 full-registry bench). Leaves double-count a table scanned
   * twice (q63 reads orders three times), which errs toward narrow —
   * the form whose worst case is a modest join-back, never a spill.
   * Still a COARSE switch: a 100 TB estimate against a few-TB budget
   * is orders of magnitude past the crossover, the only regime where
   * the choice matters; deployments near the boundary pin the conf.
   */
  def contiguousRowNumberAuto(df: DataFrame, order: Seq[Column], as: String,
                              numPartitions: Option[Int] = None,
                              sortBudgetBytes: Option[Long] = None)
      : DataFrame = {
    val (est, budget) = counterSortEstimate(df, sortBudgetBytes)
    if (est > budget) contiguousRowNumberViaJoin(df, order, as, numPartitions)
    // r19: the in-memory branch is the SAMPLED range form. The r17
    // measurement that kept the raw repartitionByRange here was a tie
    // only because of the linear 31-compare bucket expression; with
    // the binary-search bucket the sampled form wins outright at
    // sf0.1 (Q63Scale min-of-5: 3.59 s vs 4.32 s wide) AND executes
    // the upstream plan once instead of twice — the property that
    // actually matters when the plan above the counter is a 100 TB
    // join (the RangePartitioner re-runs the whole child for its
    // sample; guide §2.4 "remove shuffles/passes outright").
    else contiguousRowNumberSampledRange(df, order, as,
      Some(numPartitions.getOrElse(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)))
  }

  /** The (estimated sort bytes, budget bytes) pair
    * [[contiguousRowNumberAuto]] dispatches on — exposed so probes and
    * operators share ONE decision rule. Analysis-only; runs no jobs. */
  private[graft] def counterSortEstimate(df: DataFrame,
      sortBudgetBytes: Option[Long] = None): (BigInt, BigInt) = {
    val spark = df.sparkSession
    val budget: BigInt = BigInt(sortBudgetBytes
      .orElse(spark.conf.getOption("spark.graft.counter.sortBudgetBytes")
        .map(_.toLong))
      .getOrElse(spark.sparkContext.getExecutorMemoryStatus
        .values.map(_._1).sum / 2))
    val expansion = spark.conf
      .getOption("spark.graft.counter.scanExpansion")
      .map(_.toDouble).getOrElse(10.0)
    val scanBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    ((BigDecimal(scanBytes) * expansion).toBigInt, budget)
  }

  /** Shared boundary-sampling bucket of the sampled-range counters: a
    * bounded deterministic sample of the order key from a
    * COLUMN-PRUNED projection of `keyed` (Catalyst drops every other
    * column, so expensive expressions elsewhere in the row are NOT
    * evaluated by the sampling pass), sorted driver-side with Spark's
    * EXACT ascending-nulls-first semantics ([[sortKeyOrdering]] —
    * Catalyst's interpreted ordering), `n−1` quantile boundaries, and
    * a pure BINARY-SEARCH bucket expression: ⌈log₂(n)⌉ struct
    * comparisons per row instead of the r18 linear Σ over all
    * boundaries (31 compares at n = 32 — the constant that made the
    * sampled counter measure a tie against the double-executing wide
    * form at sf0.1, BASELINE r17). The search computes exactly
    * #{boundaries ≤ key}: boundaries ascend under the SAME total
    * order the executor's `>=` uses (the bridge ordering — exactness
    * is what licenses a binary search; see RowOrderingBridge), so the
    * predicate `key >= b(i)` is monotone in i and the tree's leaf
    * equals the linear count on every input. Rows whose key holds a
    * NULL field are excluded from the BOUNDARY SET (r20, ADVICE fix:
    * `lit(null)` renders as NullType, so a null boundary field would
    * ride NullType coercion instead of guaranteed nulls-first
    * semantics — and any boundary subset is correctness-neutral);
    * null-keyed DATA rows still bucket fine: every comparison against
    * a null-free boundary resolves, and an all-null key descends to
    * bucket 0, the RangePartitioner's nulls-first side.
    *
    * Plan growth is BOUNDED in the partition count (r20, VERDICT r19
    * item 2): the boundary count is capped at
    * `spark.graft.counter.maxBoundaries` (default 1024) independent of
    * `n`, so the embedded struct literals, the when-tree size and the
    * driver-side sample collect stay flat as shuffle partitions grow
    * to production counts (10³–10⁵ would otherwise blow the 64 KB
    * Janino method limit and fall back to interpreted eval — the exact
    * codegen failure mode this operator exists to avoid). A capped
    * bucket count bounds THIS pass's parallelism at maxBoundaries+1
    * partitions — ~10³ windowed partitions is ample for a counter
    * pass, and deployments that disagree raise the conf. */
  private def sampledBoundaryBucket(keyed: DataFrame, order: Seq[Column],
                                    n: Int): Column = {
    val key = "spark.graft.counter.maxBoundaries"
    val maxB = keyed.sparkSession.conf.getOption(key).map(v =>
      v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be an integer, got '$v'"))).getOrElse(1024)
    val nb = math.min(n, math.max(1, maxB))
    val aliased = order.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }
    val kCols = order.indices.map(i => col(s"__k$i"))
    val sample = keyed.select(aliased: _*)
      .select(struct(kCols: _*).as("__k"))
      .orderBy(xxhash64(col("__k")))
      .limit(nb * 64)
      .collect().map(_.getStruct(0))
      .filter(r => !r.anyNull)
    val boundaries: IndexedSeq[org.apache.spark.sql.Row] =
      if (sample.length < 2 || nb < 2) IndexedSeq.empty
      else {
        implicit val rowOrd: Ordering[org.apache.spark.sql.Row] =
          sortKeyOrdering(sample.head.schema)
        val sorted = sample.sorted
        (1 until nb).map(i => sorted(i * sorted.length / nb))
          .distinct.filter(_ != sorted.head).toIndexedSeq
      }
    val sk = struct(order: _*)
    def structLit(r: org.apache.spark.sql.Row): Column =
      struct(r.toSeq.map(v => lit(v)): _*)
    // balanced when-tree over the bucket range [lo, hi]: testing
    // boundary mid−1 splits it; depth ⌈log₂(m+1)⌉ for m boundaries
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(sk >= structLit(boundaries(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    if (boundaries.isEmpty) lit(0) else search(0, boundaries.length)
  }

  /**
   * The [[contiguousRowNumber]] pattern generalized to a running SUM:
   * inclusive prefix sum of `value` over a unique total `order`,
   * without `sum().over(Window.orderBy)`'s single reducer. Shape:
   * sampled-boundary range buckets, window WITHIN each bucket,
   * per-bucket totals as a driver-side prefix-summed offset map — and
   * the same bit-parity guarantee (integer values sum associatively;
   * double values would not reassociate identically, so `value` must
   * be integral).
   *
   * r18: the range step is [[sampledBoundaryBucket]], NOT
   * `repartitionByRange` — the RangePartitioner's sampling pass
   * executes the FULL upstream plan a second time, and every serious
   * caller of this operator feeds it an expensive derived value
   * (q136/q138: `size(Bpe.tokenIds(...))` — the whole BPE encode ran
   * twice; exact-token shard manifests re-ran their token count the
   * same way). The pruned boundary sample evaluates only the order
   * columns; the value expression runs exactly once, in the bucketed
   * pass. Output is bit-identical (prefix sums depend only on the
   * total order, and bucket totals are exact), asserted in
   * RelationalOpsSpec against the single-reducer window.
   */
  def contiguousPrefixSum(df: DataFrame, order: Seq[Column], value: Column,
                          as: String,
                          numPartitions: Option[Int] = None,
                          sampleSource: Option[DataFrame] = None): DataFrame = {
    val n = numPartitions.getOrElse(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // r19: boundary sample from `sampleSource` when given — the pruned
    // sample pass on `df` itself still evaluates any FILTER above the
    // scan, and every serious caller filters on the expensive derived
    // value (packTokenSequences: `size(ids) > 0` forces the whole BPE
    // encode in the sampling pass). A key-only superset source makes
    // the sample a pure column-pruned scan; output is bit-identical
    // for ANY boundary choice (the operator's documented property).
    val bucket = sampledBoundaryBucket(sampleSource.getOrElse(df), order, n)
    val local = graft.ops.materialize(
      df.withColumn("__bk", bucket)
        .repartition(n, col("__bk"))
        .withColumn("__v", value.cast("long"))
        .withColumn("__ps", sum(col("__v")).over(
          Window.partitionBy(col("__bk")).orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val totals = local.groupBy(col("__bk")).agg(sum(col("__v")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = totals
      .scanLeft((-1, 0L, 0L)) { case ((_, _, cum), (p, t)) => (p, cum, cum + t) }
      .drop(1).map { case (p, off, _) => p -> off }.toMap
    local
      .withColumn(as, (col("__ps") + element_at(typedLit(offsets), col("__bk")))
        .cast("long"))
      .drop("__bk", "__ps", "__v")
  }
}
