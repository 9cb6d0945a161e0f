package graft.ops

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint / lineage / resume — the engine's Iceberg-emulation layer
  * (SURVEY.md §7.3, FIXTURES.md §4).
  *
  * No Iceberg runtime ships in this environment, so "Iceberg table" is
  * Parquet data files + a self-managed snapshot/manifest subset: per-partition
  * manifest rows `(snapshotId, partition, inputFiles, rowCount,
  * featureDigest, completedAt)` stored as parquet under `<out>/_manifest`,
  * plus a JSON snapshot pointer `<out>/_snapshot_<id>.json`. This faithfully
  * upgrades the reference's own resume machinery: skip-if-exists
  * (`segment_features/segment_feature_extractor.py:47-49` and 8 sibling
  * sites), completed-set diff (`frame_features/video_batch.py:8-10`), and
  * the count-equality self-repair (`modalities/generate_depth_frames.py:47-55`).
  *
  * Scale notes: the manifest is O(partitions), never O(rows); the pending-work
  * computation is a broadcast `left_anti` join of the (small) manifest against
  * the partition list; digests are order-independent XORs of per-row xxhash64
  * so they are stable under any task/partition execution order.
  */
object Resume {

  /** Order-independent content digest of a partition: bitwise XOR of
    * per-row xxhash64 over the canonicalized row string (XOR: commutative,
    * associative, overflow-free under ANSI mode). Rounding the vector to 4dp
    * keeps the digest stable across fp-assoc-order differences. */
  def rowDigest(entity: Column, ts: Column, vec: Column): Column =
    xxhash64(concat_ws(",", entity, ts, to_json(graft.feats.VecOps.vecRound(vec.cast("array<double>"), 4))))

  private val DigestTmp = "__row_digest"

  private def manifestPath(outDir: String) = s"$outDir/_manifest"

  /** Read a `__part`-partitioned parquet tree with partition-column type
    * inference OFF, so `__part` comes back as the exact directory string for
    * ANY partition value. Inference would re-type e.g. a zero-padded "0001"
    * directory to int 1, making every string-compared prune silently match
    * zero rows (manifest rows written with empty stats, time travel
    * returning nothing). Shared by every sink that reads back what it wrote
    * (`graft.codec.DepthCodec.writeDepth` had re-grown the inference-ON
    * variant of this bug — round-3 advice). */
  private[graft] def readStringParts(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def readDataStringParts(spark: SparkSession, outDir: String): DataFrame =
    readStringParts(spark, s"$outDir/data")

  /** Filter `df` to rows whose `colName` is one of `values`: literal In-list
    * when small (prunable, no extra plan nodes), broadcast left-semi join
    * when large — an In-list over 10^5 partitions bloats the analyzed plan
    * and driver memory (every expression copy carries the whole list). The
    * semi-join branch still partition-prunes `__part` directory columns at
    * the scan via dynamic partition pruning. Shared with the other
    * partitioned sinks (DepthCodec) — every collected-values filter in the
    * engine goes through this one switch. */
  private[graft] def filterToValues(
      df: DataFrame,
      colName: String,
      values: Seq[Any],
      dataType: org.apache.spark.sql.types.DataType): DataFrame =
    if (values.length <= 1000) df.where(col(colName).isin(values: _*))
    else {
      val spark = df.sparkSession
      val valuesDf = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          values.map(v => org.apache.spark.sql.Row(v)).asJava),
        org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField(colName, dataType))))
      df.join(broadcast(valuesDf), Seq(colName), "left_semi")
    }

  /** Read the manifest (empty DataFrame with the right schema if absent). */
  def readManifest(spark: SparkSession, outDir: String): DataFrame = {
    val p = manifestPath(outDir)
    if (Files.exists(Paths.get(p)))
      spark.read.parquet(p)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "snapshotId LONG, partition STRING, inputFiles ARRAY<STRING>, " +
            "rowCount LONG, featureDigest LONG, completedAt LONG"))
  }

  /** Process `features` (must carry `partitionCol`) for the pending
    * partitions only, append the data as entity-partitioned parquet, then
    * append manifest rows carrying lineage (row counts + digests + input
    * files). Returns the number of partitions processed this invocation. */
  def processPending(
      spark: SparkSession,
      features: DataFrame,
      partitionCol: String,
      tsCol: String,
      vecCol: String,
      outDir: String,
      snapshotId: Long,
      maxPartitions: Int = Int.MaxValue): Long = {
    val manifest = readManifest(spark, outDir)
    // pending partitions are O(partitions) and capped by maxPartitions —
    // collect ONCE and reuse (count + work filter + read-back pruning).
    // The same aggregation also yields per-partition row counts (a count
    // instead of a distinct — identical shuffle), which size the writer
    // fan-out below.
    val pendingRows = features
      .groupBy(col(partitionCol).as("partition"))
      .agg(count(lit(1)).as("__rows"))
      .join(broadcast(manifest.select("partition")), Seq("partition"), "left_anti")
      .orderBy("partition")
      .limit(maxPartitions)
      .collect()
    val todoParts = pendingRows.map(_.get(0))
    if (todoParts.isEmpty) return 0L
    // Writer fan-out per partition (the hot-partition salt), sized from the
    // DATA instead of a constant (guide §6: target file sizes; a fixed salt
    // of 8 wrote 8 near-empty files per partition at small volume — 8× the
    // footer/open/commit cost on every read-back — while still capping
    // write parallelism at 8 for a genuinely hot partition). One writer per
    // ~200k rows (≈ tens of MB at this row width; override via
    // -Dgraft.resume.rowsPerWriter for other widths), clamped to [1, 8] —
    // the old constant is now the ceiling, reached exactly when a partition
    // is hot enough to need it.
    val rowsPerWriter = sys.props.getOrElse("graft.resume.rowsPerWriter", "200000").toLong
    val maxPartRows = pendingRows.map(_.getLong(1)).max
    val salt = math.max(1L, math.min(8L, (maxPartRows + rowsPerWriter - 1) / rowsPerWriter))

    val work = filterToValues(
      features, partitionCol, todoParts.toSeq, features.schema(partitionCol).dataType)
    // DYNAMIC partition overwrite, not append: a crashed prior attempt may
    // have left this partition's data files without a manifest row; an
    // append would double the rows and the read-back below would then
    // record the doubled stats as truth (audit blind to the corruption).
    // Overwrite replaces exactly the partitions written here — completed
    // partitions from earlier snapshots are untouched — making every
    // retry idempotent.
    work
      .withColumn("__part", col(partitionCol))
      // compact the layout before the partitioned write: without this every
      // upstream task writes its own file into every partition directory it
      // touches (tasks × partitions small files — footer/task overhead on
      // every later read). Hashing on (__part, salt) bounds the fan-in to
      // ≤`salt` files per partition while a hot partition still spreads
      // over `salt` writer tasks instead of collapsing onto one (salt is
      // data-sized above; 1 at small volume, up to 8 for hot partitions).
      .repartition(
        col("__part") +:
          (if (salt > 1) Seq(pmod(xxhash64(col(tsCol)), lit(salt))) else Nil): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__part")
      .parquet(s"$outDir/data")

    // Manifest stats from the files just WRITTEN, not a second evaluation of
    // `features` (round-1 issue: the expensive feature plan ran twice, and a
    // nondeterministic upstream could record stats that don't match the
    // persisted data, breaking the audit contract). `inputFiles` is the
    // Iceberg-manifest reading of lineage: the data files backing the
    // partition at this snapshot (input_file_name() of the read-back; always
    // file-backed here since we just wrote parquet).
    // Filter on the __part DIRECTORY column so the read-back partition-prunes
    // to the just-written directories (a semi-join on the data column would
    // rescan every historical partition's vectors). Inference-free read ⇒
    // the string compare is type-stable for any partition value; past 1000
    // partitions the filter switches to the same broadcast semi-join as the
    // work filter (maxPartitions defaults to unbounded, so a 10^5-partition
    // invocation must not rebuild the In-list here — round-3 advice).
    val written = filterToValues(
      readDataStringParts(spark, outDir), "__part",
      todoParts.map(_.toString).toSeq, org.apache.spark.sql.types.StringType)
    val inputs = written
      .withColumn("__file", input_file_name())
      .withColumn(DigestTmp, rowDigest(col(partitionCol), col(tsCol), col(vecCol)))
      .groupBy(col(partitionCol).as("partition"))
      .agg(
        sort_array(collect_set(when(length(col("__file")) > 0, col("__file")))).as("inputFiles"),
        count(lit(1)).as("rowCount"),
        expr(s"bit_xor(${DigestTmp})").as("featureDigest"))
      .withColumn("snapshotId", lit(snapshotId))
      .withColumn("completedAt", lit(snapshotId)) // deterministic stamp: snapshot id
      .select("snapshotId", "partition", "inputFiles", "rowCount", "featureDigest", "completedAt")
    // coalesce(1): the manifest delta is O(partitions-this-call) tiny rows;
    // without it every shuffle partition emits its own (mostly empty)
    // manifest file and the read-back pays per-file footer+task cost.
    inputs.coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(outDir))
    writeSnapshot(spark, outDir, snapshotId)
    todoParts.length.toLong
  }

  /** JSON snapshot pointer: snapshot id + manifest stats (Iceberg's
    * snapshot→manifest-list indirection reduced to what resume needs). */
  def writeSnapshot(spark: SparkSession, outDir: String, snapshotId: Long): Unit = {
    val m = readManifest(spark, outDir)
    val stats = m.agg(count(lit(1)), coalesce(sum("rowCount"), lit(0L))).head()
    val json =
      s"""{"snapshotId":$snapshotId,"partitions":${stats.getLong(0)},"rows":${stats.getLong(1)},"manifest":"${manifestPath(outDir)}"}"""
    Files.write(
      Paths.get(s"$outDir/_snapshot_$snapshotId.json"),
      json.getBytes("UTF-8"),
      StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Iceberg-style time travel: the table AS OF `snapshotId` — exactly the
    * partitions whose manifest row was committed at or before it. Each
    * partition is completed by exactly one snapshot (processPending skips
    * manifested partitions), so snapshot membership is a partition-level
    * property and the read partition-prunes on the `__part` directory
    * column: O(selected partitions) I/O, O(partitions) driver work. */
  def readAsOf(spark: SparkSession, outDir: String, snapshotId: Long): DataFrame = {
    val parts = readManifest(spark, outDir)
      .where(col("snapshotId") <= snapshotId)
      .select("partition")
      .distinct()
      .collect()
      .map(_.get(0).toString)
    // filterToValues, not a bare isin (round-6 directive #4): past 1000
    // partitions the In-list becomes a broadcast semi-join, keeping the
    // plan (and the driver's copies of it) O(1) in partition count
    filterToValues(
      readDataStringParts(spark, outDir), "__part", parts.toSeq,
      org.apache.spark.sql.types.StringType)
  }

  /** Full per-partition audit report in ONE data pass: manifest lineage
    * stats joined with a recount+redigest of the persisted data —
    * `(partition, rowCount, recount, audit_ok)` for every partition seen on
    * either side. [[audit]] is the mismatches-only view; callers that need
    * both the recount and the health flag (q_resume_audit previously ran
    * readAsOf + audit = two extra full data scans) use this directly. */
  /** Shared recompute-vs-manifest join: manifest rows full-outer joined
    * with a fresh recount + redigest of the persisted data, one data pass.
    * The inference-free read makes the data-side key a STRING; it is cast
    * to the manifest's native partition type before joining — a
    * string=long join would coerce BOTH sides to double and collapse
    * distinct 64-bit ids >= 2^53 (e.g. xxhash64-derived partitions). */
  private def manifestVsData(
      spark: SparkSession,
      outDir: String,
      partitionCol: String,
      tsCol: String,
      vecCol: String): DataFrame = {
    val manifest = readManifest(spark, outDir)
    val partType = manifest.schema("partition").dataType
    val recomputed = readDataStringParts(spark, outDir)
      .withColumn("partition", col("__part").cast(partType))
      .withColumn(DigestTmp, rowDigest(col(partitionCol), col(tsCol), col(vecCol)))
      .groupBy("partition")
      .agg(
        count(lit(1)).as("rc2"),
        expr(s"bit_xor(${DigestTmp})").as("fd2"))
    manifest.join(recomputed, Seq("partition"), "full_outer")
  }

  /** Full per-partition audit report: `(partition, rowCount, recount,
    * audit_ok)` for every partition seen on either side, one data pass.
    * [[audit]] is the mismatches-only view of the same join. */
  def auditReport(
      spark: SparkSession,
      outDir: String,
      partitionCol: String,
      tsCol: String,
      vecCol: String): DataFrame =
    manifestVsData(spark, outDir, partitionCol, tsCol, vecCol)
      .select(
        col("partition"),
        col("rowCount"),
        col("rc2").as("recount"),
        (col("rowCount").isNotNull && col("rc2").isNotNull &&
          col("rowCount") === col("rc2") &&
          col("featureDigest") === col("fd2")).as("audit_ok"))

  /** Audit: recompute row counts + digests from the written data and compare
    * with the manifest — the engine's form of the reference's
    * output-count==input-count self-check (A6/J5). Returns mismatching
    * partitions (empty = healthy). */
  def audit(
      spark: SparkSession,
      outDir: String,
      partitionCol: String,
      tsCol: String,
      vecCol: String): DataFrame =
    manifestVsData(spark, outDir, partitionCol, tsCol, vecCol)
      .where(
        col("rowCount").isNull || col("rc2").isNull ||
          col("rowCount") =!= col("rc2") || col("featureDigest") =!= col("fd2"))
      .select("partition", "rowCount", "rc2", "featureDigest", "fd2")
}
