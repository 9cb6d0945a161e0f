package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Point-in-time / as-of join — the engine's flagship custom operator.
  *
  * Semantics: for each probe row `(entity, ts, ...)`, attach the payload of
  * the latest build row with the same entity and `build.ts <= probe.ts`
  * (inclusive; left-join semantics — unmatched probes keep null payload).
  * This is the relational form of the reference's positional cross-modality
  * alignment contract (`test_data.py:11-25,82-89`: row i of the audio matrix
  * IS row i of the video matrix for the same recording) once every modality
  * lives in one `(entity, ts)`-keyed table.
  *
  * Scale design (the part Catalyst cannot pick for us — SURVEY.md §4.1):
  * a naive window `partitionBy(entity)` puts every row of a hot entity
  * (hot phash cluster, north rule) into ONE task. Instead both sides are
  * *time-bucketed*: `bucket = floor(ts / bucketWidth)` acts as the salt, so
  * one entity spreads over (ts-range / bucketWidth) tasks. Correctness across
  * bucket boundaries is restored by a cheap "carry-in" pre-pass: per
  * (entity, bucket) the latest build row is reduced (tiny — one row per
  * bucket), then a running max over the per-entity bucket timeline yields,
  * for every bucket that contains probes, the latest build row from any
  * EARLIER bucket. That carry row is injected at the head of the bucket, and
  * the in-bucket merge is then purely local. Total shuffle: one hash exchange
  * of both sides on (entity, bucket) + a negligible exchange of the bucket
  * timeline. No build row is replicated more than once.
  *
  * Two physical strategies, same semantics (both verified against DuckDB's
  * native `ASOF JOIN` oracle):
  *   - [[asOf]]: union + cumulative `last(..., ignoreNulls)` window — pure
  *     Catalyst, whole-stage-codegen'd, AQE-eligible. Default.
  *   - [[asOfMerge]]: explicit `repartitionByRange(entity, bucket)` +
  *     `sortWithinPartitions(entity, bucket, ts, tag)` + a single-pass
  *     `mapPartitions` streaming merge — the north rule's explicitly
  *     materialized sort-merge formulation, and the faster path when the
  *     downstream consumes (entity, ts)-sorted output (ordering is preserved,
  *     so a following window/agg needs no new sort).
  *
  * Zero temporal leakage by construction: a probe can only ever see build
  * rows ordered at-or-before itself (`orderBy(ts, tag)` with build tag < probe
  * tag); the emitted `asof_src_ts` column lets the leakage-audit test assert
  * `asof_src_ts <= ts` on every output row (BASELINE.json north_star).
  */
object AsOfJoin {
  private val B = "__asof_bucket"
  private val TAG = "__asof_tag"
  private val PAY = "__asof_pay"
  private val PRB = "__asof_probe"

  /** Name of the emitted match-source-timestamp column (leakage audit). */
  val SrcTs = "asof_src_ts"

  /** Shared prep: dedupe build per (entity, ts), bucket both sides, compute
    * carry-in rows, and union build + carry + probe rows into one tagged
    * relation ready for a per-(entity, bucket) cumulative merge.
    *
    * DIAMOND note (same analysis as `BucketedWindows`): the deduped build
    * relation feeds TWO subtrees (the per-bucket carry reduction and the
    * build rows of the union), and the probe side feeds two more (the
    * probe-bucket timeline and the probe rows). Catalyst cannot share them
    * (pruning narrows the timeline branches, so ReuseExchange never
    * fires), so everything below each branch executes once per branch.
    * When both inputs are parquet scans the narrow branches re-scan only
    * their pruned columns; a caller whose side embeds expensive derivation
    * materializes that side itself before calling. */
  private def prepUnion(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): (DataFrame, StructType, StructType) = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val clash = probes.columns.toSet.intersect(payload.toSet)
    require(clash.isEmpty, s"payload columns collide with probe columns: $clash — rename one side")
    require(!probes.columns.contains(SrcTs), s"probe side already has a '$SrcTs' column")

    val e = col(entityCol)
    // One build row per (entity, ts): deterministic max over the payload
    // struct. Duplicate build timestamps would otherwise make window `last`
    // order-dependent (nondeterministic across runs).
    val b0 = build
      .groupBy(e, col(tsCol))
      .agg(max(struct(payload.map(col): _*)).as(PAY))
      .withColumn(B, floor(col(tsCol) / bucketWidth))

    val payType = b0.schema(PAY).dataType
    val probeType = StructType(probes.schema.fields)

    // Latest build row per (entity, bucket) — tiny relation.
    val lastPerBucket = b0
      .groupBy(e, col(B))
      .agg(max(struct(col(tsCol).as(SrcTs), col(PAY))).as("__last"))

    // Bucket timeline per entity: buckets that contain probes (need a carry)
    // full-outer joined with buckets that contain builds (provide carries).
    val probeBuckets = probes
      .select(e, floor(col(tsCol) / bucketWidth).as(B))
      .distinct()
      .withColumn("__isP", lit(true))
    val wCarry = Window
      .partitionBy(e)
      .orderBy(col(B))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = probeBuckets
      .join(lastPerBucket, Seq(entityCol, B), "full_outer")
      .withColumn("__carry", max(col("__last")).over(wCarry))
      .where(col("__isP") && col("__carry").isNotNull)
      .select(
        e,
        col(B),
        col(s"__carry.$SrcTs").as(tsCol),
        lit(0).as(TAG),
        col(s"__carry.$PAY").as(PAY),
        lit(null).cast(probeType).as(PRB))

    val buildRows = b0.select(
      e, col(B), col(tsCol), lit(0).as(TAG), col(PAY), lit(null).cast(probeType).as(PRB))
    val probeRows = probes.select(
      e,
      floor(col(tsCol) / bucketWidth).as(B),
      col(tsCol),
      lit(1).as(TAG),
      lit(null).cast(payType).as(PAY),
      struct(probes.columns.map(col): _*).as(PRB))

    val unioned = buildRows.unionByName(carries).unionByName(probeRows)
    (unioned, probeType, payType.asInstanceOf[StructType])
  }

  /** Catalyst-native as-of join (union + bucketed cumulative window). */
  def asOf(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): DataFrame = {
    val (unioned, _, _) = prepUnion(probes, build, entityCol, tsCol, payload, bucketWidth)
    val w = Window
      .partitionBy(col(entityCol), col(B))
      .orderBy(col(tsCol).asc, col(TAG).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // Only build/carry rows feed the running "latest seen" state; probes read it.
    val matched = last(
      when(col(TAG) === 0, struct(col(tsCol).as(SrcTs), col(PAY))),
      ignoreNulls = true).over(w)
    val probeCols = probes.columns.map(c => col(s"$PRB.$c").as(c))
    val payCols = payload.map(c => col(s"__m.$PAY.$c").as(c))
    unioned
      .withColumn("__m", matched)
      .where(col(TAG) === 1)
      .select(probeCols ++ (col(s"__m.$SrcTs").as(SrcTs) +: payCols): _*)
  }

  /** As-of join with a STALENESS BOUND: identical to [[asOf]] but a match
    * older than `tolerance` time units is dropped (payload + src_ts go
    * null, left-join row kept) — "join the latest sensor reading, unless
    * it is more than an hour stale". Composes the proven operator with a
    * pure column post-predicate (Spark-first preference order (a)): the
    * filter runs inside the same whole-stage-codegen stage as the window
    * projection, so the bound costs zero extra exchanges. The leakage
    * invariant is unchanged (src_ts ∈ [ts − tolerance, ts]). */
  def asOfWithin(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long,
      tolerance: Long): DataFrame = {
    require(tolerance >= 0, "tolerance must be non-negative")
    val joined = asOf(probes, build, entityCol, tsCol, payload, bucketWidth)
      .withColumn("__fresh", col(SrcTs).isNotNull && col(tsCol) - col(SrcTs) <= tolerance)
    (SrcTs +: payload)
      .foldLeft(joined)((d, c) => d.withColumn(c, when(col("__fresh"), col(c))))
      .drop("__fresh")
  }

  /** Explicit sort-merge as-of join: repartitionByRange on (entity, bucket)
    * into `spark.sql.shuffle.partitions` partitions + secondary sort on
    * (ts, tag) + single-pass streaming merge. Output rows stay
    * (entity, bucket, ts)-sorted within partitions.
    *
    * The RangePartitioner SAMPLES its input to place the split bounds, so
    * the prep subtree (build dedupe, carry window, union) executes twice:
    * once for the sample job, once for the real shuffle. Nothing is staged
    * or pinned to avoid that; the per-layer benchmark reports the cost as
    * `asof_merge.scan_reads_per_row`. */
  def asOfMerge(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): DataFrame = {
    val (unioned, probeType, payType) = prepUnion(probes, build, entityCol, tsCol, payload, bucketWidth)
    // Range partitioning keeps every (entity, bucket) group in one partition
    // (equal keys compare equal → same range) while spreading a hot entity's
    // buckets across many partitions — the explicit skew treatment.
    val sorted = unioned
      .select(col(entityCol), col(B), col(tsCol), col(TAG), col(PAY), col(PRB))
      .repartitionByRange(
        probes.sparkSession.sessionState.conf.numShufflePartitions, col(entityCol), col(B))
      .sortWithinPartitions(col(entityCol), col(B), col(tsCol), col(TAG))

    // SrcTs carries the matched build row's ts — same type as the ts column
    // itself (hardcoding LongType would mis-encode int/timestamp ts inputs).
    val outSchema = StructType(
      probeType.fields ++
        (StructField(SrcTs, sorted.schema(tsCol).dataType, nullable = true) +:
          payType.fields.map(_.copy(nullable = true))))
    val payWidth = payType.fields.length

    sorted.mapPartitions { it =>
      var curEntity: Any = null
      var curBucket: Any = null
      var lastSrc: Any = null
      var lastPay: Row = null
      it.flatMap { r =>
        val ent = r.get(0)
        val bkt = r.get(1)
        if (ent != curEntity || bkt != curBucket) {
          curEntity = ent; curBucket = bkt
          lastSrc = null; lastPay = null
        }
        if (r.getInt(3) == 0) { // build or carry row: advance merge state
          lastSrc = r.get(2)
          lastPay = r.getStruct(4)
          Iterator.empty
        } else { // probe row: emit with current as-of state
          val p = r.getStruct(5)
          val pay: Seq[Any] =
            if (lastPay == null) Seq.fill[Any](payWidth)(null)
            else (0 until payWidth).map(lastPay.get)
          Iterator(Row.fromSeq(p.toSeq ++ (lastSrc +: pay)))
        }
      }
    }(Encoders.row(outSchema))
  }
}
