package graft.operators

import graft.pipeline.Checkpoints.DatasetCheckpointOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Relational operator surface mirroring the reference engine's operator
  * inventory (supersonic cursor/core, see SURVEY.md §2.1–2.6), expressed
  * as pure `DataFrame => DataFrame` combinators so Catalyst plans and
  * optimizes the whole tree (predicate pushdown, column pruning, partial
  * aggregation, broadcast-vs-shuffle join selection are all automatic).
  *
  * Scale notes: every combinator is shuffle-aware — joins take a
  * `broadcastRight` hint for dimension tables, row-id assignment uses
  * distributed `zipWithIndex` (contiguous ids without a single-partition
  * window), and nothing collects to the driver.
  */
object Relational {

  // ===== Sources (reference: cursor/core/scan_view.h:33, generate.h:33,
  // cursor/infrastructure/table.h:49, file_io.h:64) =====

  /** ScanView — cursor over data; canonical source is a parquet scan. */
  def scanParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Table + TableRowWriter — appendable in-memory materialization
    * (reference: cursor/infrastructure/table.h:49). */
  def table(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

  /** Generate — N rows, zero data columns; pair with sequence()/consts
    * (reference: cursor/core/generate.h:33-36). */
  def generate(spark: SparkSession, n: Long): DataFrame = spark.range(n).toDF("seq")

  /** FileOutput sink (reference: cursor/infrastructure/file_io.h:64) —
    * parquet is our on-disk format.
    *
    * `codec` picks the parquet compression: "snappy" (default — fastest
    * scan) or "zstd" (the long-lived-store choice at 100 TB: materially
    * smaller footprint for near-snappy scan speed; `parquetColumnBytes`
    * MEASURES the delta from the file footers instead of asserting it). */
  def fileOutput(df: DataFrame, path: String, codec: String = "snappy"): Unit =
    df.write.mode("overwrite").option("compression", codec).parquet(path)

  /** Keyed upsert (MERGE latest-wins): rows from `updates` replace
    * same-key rows in `base`; new keys append. The incremental
    * corpus-refresh face a training-data pipeline runs daily (re-crawled
    * documents supersede stale ones). Built as
    * `updates ∪ (base ANTI-JOIN updates)` — one hash exchange per side
    * on the key, never a full-outer join (no wide coalesce row, half the
    * shuffled width), and both inputs must share a schema, checked up
    * front. Multi-row keys inside `updates` are the caller's contract
    * (dedup first — this operator does not pick among them). The anti
    * join is NULL-SAFE (`<=>`): a NULL-key update row replaces NULL-key
    * base rows instead of silently coexisting with them, so latest-wins
    * holds for every key value. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert: need at least one key column")
    require(base.columns.toSeq == updates.columns.toSeq,
      s"upsert: schemas must match: ${base.columns.toSeq} vs ${updates.columns.toSeq}")
    // explicit aliases: `updates` commonly DERIVES from `base` (re-priced
    // rows of the same table), and an unaliased self-join condition would
    // hit Spark's ambiguous-attribute resolution
    val b = base.alias("__ups_b")
    val u = updates.select(keys.map(col): _*).alias("__ups_u")
    val cond = keys.map(k => col(s"__ups_b.$k") <=> col(s"__ups_u.$k")).reduce(_ && _)
    updates.unionByName(b.join(u, cond, "left_anti"))
  }

  /** Apply an ordered change log (CDC) to a base table — `upsert`
    * generalized from one update batch to a full insert/update/delete
    * stream: each change row carries (keys, seqCol, opCol, payload) with
    * op ∈ {I, U, D}; per key the HIGHEST seq wins — I/U set the row's
    * new image, D removes the key. This is the merge a lakehouse CDC
    * sink runs on every sync cycle.
    *
    * Plan shape: ONE window over the changes partitioned by key (state
    * shards by key — no global funnel) picks each key's final op, then
    * one NULL-safe anti-join drops superseded base rows and the
    * surviving upsert images union in: one key exchange per side, never
    * a full-outer join, same as upsert.
    *
    * Contract: `seqCol` is unique per key (a real CDC stream's LSN /
    * commit timestamp); ties would make "latest" ambiguous, so the
    * window orders by (seq DESC) alone and duplicate seqs per key are
    * the caller's bug, as multi-row update keys are for upsert. */
  def applyChangeLog(base: DataFrame, changes: DataFrame, keys: Seq[String],
                     seqCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "applyChangeLog: need at least one key column")
    val payload = changes.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    require(base.columns.toSeq == payload,
      s"applyChangeLog: base schema ${base.columns.toSeq} must equal change payload $payload")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    val latest = changes
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    val upserts = latest.where(upper(col(opCol)).isin("I", "U"))
      .select(payload.map(col): _*)
    // EVERY touched key leaves base: replaced (I/U) or removed (D)
    val touched = latest.select(keys.map(col): _*).alias("__cdc_k")
    val b = base.alias("__cdc_b")
    val cond = keys.map(k => col(s"__cdc_b.$k") <=> col(s"__cdc_k.$k")).reduce(_ && _)
    upserts.unionByName(b.join(touched, cond, "left_anti"))
  }

  /** SCD2 (slowly-changing-dimension type 2) HISTORY build from the same
    * change-log shape [[applyChangeLog]] consumes: every I/U event opens a
    * version row — (payload, valid_from = its seq, valid_to = the next
    * event's seq for that key whatever its op, NULL while open,
    * is_current = open) — and D events close the preceding version
    * without emitting one. Re-inserts after a delete open a fresh version
    * naturally (the D closed the old one).
    *
    * ONE key-sharded window (lead over seq), no joins, no self-union —
    * the lakehouse "dimension history" materialization as a single pass
    * over the log. Same uniqueness contract on (key, seq) as
    * applyChangeLog. */
  def scd2History(changes: DataFrame, keys: Seq[String],
                  seqCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "scd2History: need at least one key column")
    val payload = changes.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    changes
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .where(upper(col(opCol)).isin("I", "U"))
      .select((payload.map(col) :+ col(seqCol).as("valid_from") :+
        col("valid_to") :+ col("valid_to").isNull.as("is_current")): _*)
  }

  /** Calendar dimension spine: one row per day in [start, end] with the
    * derived attributes every warehouse date dimension carries. ISO
    * day-of-week (1 = Monday) is computed from weekday() so engines with
    * Sunday-zero conventions replay it without ambiguity. A generator,
    * not a scan: the spine is bounded by the day span (36,525 rows per
    * century) — driver-trivial at any data scale. */
  def dateDimension(spark: SparkSession, start: String, end: String): DataFrame =
    spark.range(1)
      .select(explode(expr(
        s"sequence(to_date('$start'), to_date('$end'), interval 1 day)")).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("date"),
        year(col("d")).as("year"), quarter(col("d")).as("quarter"),
        month(col("d")).as("month"), dayofmonth(col("d")).as("day"),
        (expr("weekday(d)") + 1).as("isodow"),
        (expr("weekday(d)") >= 5).as("is_weekend"),
        (dayofmonth(col("d")) === 1).as("is_month_start"),
        (col("d") === last_day(col("d"))).as("is_month_end"))

  /** Point-in-time (as-of-version) join of facts against an SCD2 history
    * ([[scd2History]] output): each fact row picks up the dimension
    * version whose validity window [valid_from, valid_to) contains the
    * fact's sequence value — the warehouse PIT-lookup pattern. LEFT
    * join, so facts landing in a deleted period (or before the first
    * version) survive with NULL dimension payload; the SCD2 invariant
    * (non-overlapping windows per key) guarantees at most one match,
    * which the RelationalSpec asserts rather than assumes.
    *
    * Shape: one equi-join keyed on the dimension keys (the validity
    * bound rides along as a join residual) — shuffles shard by key,
    * never by time, so a long history never serializes. History payload
    * column names must not collide with fact columns (require()d). */
  def pointInTimeJoin(facts: DataFrame, history: DataFrame, keys: Seq[String],
                      factSeqCol: String, fromCol: String = "valid_from",
                      toCol: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty, "pointInTimeJoin: need at least one key column")
    val histPayload = history.columns.filterNot(c => keys.contains(c)).toSeq
    val collisions = histPayload.toSet.intersect(facts.columns.toSet)
    require(collisions.isEmpty,
      s"pointInTimeJoin: history payload collides with fact columns: $collisions")
    val h = keys.foldLeft(history)((d, k) => d.withColumnRenamed(k, s"__h_$k"))
    val cond = keys.map(k => facts(k) === h(s"__h_$k")).reduce(_ && _) &&
      facts(factSeqCol) >= h(fromCol) &&
      (h(toCol).isNull || facts(factSeqCol) < h(toCol))
    facts.join(h, cond, "left").drop(keys.map(k => s"__h_$k"): _*)
  }

  /** ORC face of the FileOutput/FileInput pair — Spark's second built-in
    * columnar format: same predicate-pushdown + column-pruning contract
    * as parquet (the spec asserts PushedFilters on the ORC scan), so a
    * deployment already standardized on ORC plugs in with two lines. */
  def orcOutput(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def orcInput(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro face of the FileOutput/FileInput pair (row-oriented interchange
    * format — the common Kafka/ingest wire format at pipeline edges).
    * The implementation ships inside spark-sql but its SHORT name is not
    * service-registered in this deployment, so the face addresses the
    * format by provider class. Read-side column pruning still applies at
    * the scan (row format: no predicate pushdown — filters evaluate
    * post-scan; keep Avro at the INGEST edge and convert to parquet/ORC
    * for the analytical store, which is the documented posture for a
    * 100 TB deployment). */
  private val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  def avroOutput(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(AvroProvider).save(path)

  def avroInput(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroProvider).load(path)

  /** Total on-disk (compressed) bytes of ONE column across every parquet
    * file in a directory, summed from the column-chunk metadata in the
    * file footers — a driver-side metadata walk, no data pages read.
    * This is how a storage-side claim ("int codes are smaller than the
    * strings they replace") gets MEASURED instead of asserted. */
  def parquetColumnBytes(spark: SparkSession, dir: String, column: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try r.getFooter.getBlocks.asScala.iterator
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == column)
          .map(_.getTotalSize).sum
        finally r.close()
      }.sum
  }

  /** Partitioned, size-targeted file output — the 100 TB writer shape:
    * directory-partition by low-cardinality columns (partition pruning on
    * read) and repartition so each partition directory gets
    * ceil(rows/targetRowsPerFile) files of roughly even size instead of
    * one file per upstream task (the small-files problem) or one giant
    * file per partition value (no read parallelism).
    */
  def fileOutputPartitioned(df: DataFrame, path: String,
                            partitionCols: Seq[String],
                            targetRowsPerFile: Long,
                            maxPartitionValues: Int = 10000): Unit = {
    require(partitionCols.nonEmpty, "fileOutputPartitioned: need partition columns")
    require(targetRowsPerFile > 0, "fileOutputPartitioned: targetRowsPerFile must be positive")
    // Per-partition-value row counts (map-side combined aggregation over the
    // low-cardinality partition columns — tiny result). Repartitioning by the
    // partition columns alone would funnel each value into ONE task → one
    // file per directory regardless of size; instead each value gets a salt
    // in [0, ceil(n_value/target)) so its rows spread over that many shuffle
    // buckets and each directory receives ≈ that many similarly-sized files.
    // Collected to the driver: cardinality = distinct partition-value
    // combinations, low by the directory-partitioning contract (each value
    // is a directory) — index-sized metadata, like IVF centroids. Collecting
    // once costs ONE pre-pass scan; keeping it distributed would scan the
    // input twice (totalFiles action + salt join).
    val perValueRows = df.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__files",
        greatest(lit(1L), ceil(col("__n") / lit(targetRowsPerFile.toDouble))).cast("int"))
      .drop("__n")
    // Cardinality guard: the low-cardinality contract is ENFORCED, not
    // assumed — collect is capped at maxPartitionValues + 1 rows (one job,
    // bounded driver memory) and overflow fails loudly instead of OOMing
    // the driver on a mistakenly high-cardinality partition column.
    val collected = perValueRows.limit(maxPartitionValues + 1).collect().toSeq
    require(collected.size <= maxPartitionValues,
      s"fileOutputPartitioned: more than $maxPartitionValues distinct partition values for " +
        s"${partitionCols.mkString(",")} — directory-partitioning needs a low-cardinality " +
        "column (raise maxPartitionValues only if you really want that many directories)")
    val totalFiles = collected.map(_.getAs[Int]("__files")).sum
    val perValue = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(collected, 1), perValueRows.schema)
    // The salt provides WRITE PARALLELISM (≈ one task per target file);
    // `maxRecordsPerFile` provides the hard SIZE BOUND — even when two salt
    // buckets of one value hash into the same task, the writer rolls to a
    // new file every targetRowsPerFile rows, so no directory ever gets one
    // giant file. 2x task head-room keeps bucket collisions rare.
    val shufflePartitions = math.max(1, totalFiles * 2)
    df.join(broadcast(perValue), partitionCols, "left")
      .withColumn("__salt", (rand(42L) * col("__files")).cast("int"))
      .repartition(shufflePartitions, (partitionCols.map(col) :+ col("__salt")): _*)
      .drop("__files", "__salt")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Per-file min/max statistics manifest of a parquet directory: one row
    * per file — (file, n_rows, min_v, max_v) over `statCol`. This is the
    * ingest-time half of manifest-based DATA SKIPPING (the mechanism
    * behind lakehouse table formats' file pruning): pay one scan when the
    * data lands, then every subsequent range query prunes whole files
    * from the listing instead of reading them. One scan, one partial/final
    * aggregation keyed by file name — no shuffle of data rows. */
  def fileStatsManifest(spark: SparkSession, dir: String, statCol: String): DataFrame =
    scanParquet(spark, dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(statCol)).as("min_v"), max(col(statCol)).as("max_v"))

  /** Manifest-pruned scan: read ONLY the files whose [min_v, max_v] range
    * intersects [lo, hi] — file-granular skipping, so callers re-apply
    * the exact row predicate on the result (this method applies it too,
    * for safety: pruning is an optimization, never a semantics change).
    * The manifest collect is file-list-sized driver metadata (~10^5 rows
    * at 100 TB — the same class as an IVF centroid set), vastly cheaper
    * than the scan it saves. Returns the filtered frame; `require`s the
    * manifest non-empty so a typo'd directory fails loudly instead of
    * scanning nothing. */
  def manifestPrunedScan(spark: SparkSession, manifest: DataFrame,
                         statCol: String, lo: Column, hi: Column): DataFrame = {
    val picked = manifest
      .where(col("max_v") >= lo && col("min_v") <= hi)
      .select("file").collect().map(_.getString(0))
    require(manifest.limit(1).count() > 0, "manifestPrunedScan: empty manifest")
    val base =
      if (picked.isEmpty) {
        // no file can match: an empty frame with the on-disk schema —
        // derived from one manifest file path, zero data pages read
        val any = manifest.select("file").limit(1).collect().head.getString(0)
        spark.read.parquet(any).where(lit(false))
      } else spark.read.parquet(picked: _*)
    base.where(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** Small-file compaction PLAN: assign files to target-sized output bins
    * by cumulative size — file i (in `fileCol` order) lands in bin
    * floor(cum_bytes_before_i / targetBytes). Deterministic, replayable
    * by any SQL engine (one window cumsum — the q_compact oracle), and
    * greedy in the FFD-lite sense: consecutive files pack until the
    * target overflows, so every bin except possibly the last holds ≥
    * targetBytes ÷ 2 on typical small-file distributions. The single
    * unpartitioned window is fine HERE because a compaction manifest is
    * file-list metadata, not data rows (bounded like fileStatsManifest's
    * collect). */
  def compactionPlan(manifest: DataFrame, fileCol: String, bytesCol: String,
                     targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "compactionPlan: targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(fileCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    manifest
      .withColumn("__cum", coalesce(sum(col(bytesCol)).over(w), lit(0L)))
      .withColumn("bin", expr(s"__cum div ${targetBytes}L"))
      .drop("__cum")
  }

  /** Execute a compaction plan over a parquet directory: list real file
    * sizes (driver-side metadata listing), plan bins with
    * `compactionPlan`, then rewrite each bin as ONE file via a
    * per-bin coalesced read → a directory with ≈ totalBytes/targetBytes
    * files replaces the small-file mess. Rows are preserved exactly
    * (spec-pinned); ordering within files is whatever the reads yield,
    * as with any parquet rewrite. Returns (files_before, files_after). */
  def compactParquetDir(spark: SparkSession, dir: String, outDir: String,
                        targetBytes: Long): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.toString, f.getLen))
      .sortBy(_._1)
    require(files.nonEmpty, s"compactParquetDir: no parquet files under $dir")
    val spark0 = spark
    import spark0.implicits._
    val plan = compactionPlan(files.toDF("file", "bytes"), "file", "bytes",
      targetBytes).select("file", "bin").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val bins = plan.groupBy(_._2).toSeq.sortBy(_._1)
    bins.foreach { case (bin, fs0) =>
      spark.read.parquet(fs0.map(_._1): _*).coalesce(1)
        .write.mode(if (bin == bins.head._1) "overwrite" else "append")
        .parquet(outDir)
    }
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.size, after)
  }

  /** CSV sink/source pair (reference FileOutput/FileInput's text-format
    * face, file_io.h:64): header row, explicit schema on read (inference
    * would re-scan and can widen types). Standard quoting/escaping —
    * commas and quotes in string fields survive the round trip. */
  def csvOutput(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def csvInput(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON-lines sink/source pair. NOTE: Spark omits NULL-valued fields
    * from written JSON objects (standard JSON-lines convention); the
    * explicit read schema restores them as NULLs. */
  def jsonOutput(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def jsonInput(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Plain-text line sink/source pair — the raw-crawl ingest face (WET
    * extracts, log files, one-document-per-line corpora). The source
    * yields a single `value` string column, one row per line; the sink
    * requires exactly one string column (Spark's text writer contract)
    * and writes no header or quoting — bytes in, bytes out, WITH the
    * line-format caveats made explicit (and spec-pinned): a `\n` or
    * bare `\r` inside a value splits it into multiple rows on read
    * (both are line terminators to the reader — caller escapes first),
    * and a NULL value is written as an empty line, so it reads back as
    * `""`, not NULL. Values must be newline-free; NULLs are the
    * caller's choice to pre-filter or accept the empty-string
    * round-trip.
    *
    * Scale notes: an uncompressed (or zstd/bzip2) text file splits
    * across tasks on line boundaries; GZIP DOES NOT SPLIT — one
    * 100 GB .gz file is one task, so compressed crawls must arrive as
    * many files (the standard WET layout) or use a splittable codec.
    * `codec = None` writes uncompressed. */
  def textOutput(df: DataFrame, path: String,
                 codec: Option[String] = None): Unit = {
    require(df.schema.length == 1 &&
      df.schema.head.dataType == org.apache.spark.sql.types.StringType,
      s"textOutput: need exactly one string column, got ${df.schema.simpleString}")
    val w = df.write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).text(path)
  }

  def textInput(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** XML sink/source pair (Spark 4 built-in XML source) — the dump-archive
    * ingest face: large public corpora (Wikipedia/arXiv-style dumps) ship
    * as one huge XML file of repeated `<rowTag>` records. Explicit schema
    * on read for the same reason as CSV/JSON (inference re-scans).
    *
    * Scale note: an XML file SPLITS across tasks (the reader scans for
    * `<rowTag>` boundaries past each split start), so one 100 GB dump
    * still parallelizes — unlike binaryFile ingest, no per-file
    * parallelism ceiling. Attributes map to `_attr`-prefixed fields. */
  def xmlOutput(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag).format("xml").save(path)

  def xmlInput(spark: SparkSession, path: String, schema: StructType,
               rowTag: String = "row"): DataFrame =
    spark.read.option("rowTag", rowTag).schema(schema).format("xml").load(path)

  /** Z-order (Morton) value of two non-negative integer keys: their bits
    * interleaved (x in even positions, y in odd), 21 bits each ⇒ a 42-bit
    * long. Sorting by this value clusters rows that are close in BOTH
    * dimensions, so parquet row-group min/max stats become selective for
    * predicates on EITHER column — the standard lakehouse data-skipping
    * layout for two frequent filter columns, where a plain sort only
    * serves its leading column. Pure integer arithmetic (shift/mask/sum
    * of disjoint powers), so it is codegen'd AND replayable in any SQL
    * engine (see the q_zorder oracle). Keys wider than 21 bits fold via
    * their low bits (locality degrades gracefully; full range needs a
    * wider curve). */
  def zorderValue(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits > 0 && bits <= 31, "zorderValue: bits must be in [1, 31]")
    zorderValueN(Seq(x, y), bits)
  }

  /** N-dimensional z-order (Morton) value: bit j of key i lands at curve
    * position j·k + i, so the k keys' bits interleave round-robin — the
    * k-dim generalization of [[zorderValue]] (lakehouse users routinely
    * z-order 3-4 filter columns). Default bit width 63/k keeps the curve
    * value inside a positive long (k=3 → 21 bits each, same per-key range
    * as the 2-D default). Same arithmetic contract as the 2-D face: pure
    * shift/mask/sum of disjoint powers — codegen'd, and replayable in any
    * SQL engine for a cross-engine oracle. Keys wider than `bits` fold via
    * their low bits (locality degrades gracefully). */
  def zorderValueN(keys: Seq[Column], bits: Int = 0): Column = {
    val k = keys.size
    require(k >= 2, s"zorderValueN: need at least 2 key columns, got $k")
    val b = if (bits > 0) bits else 63 / k
    require(b * k <= 63, s"zorderValueN: $k keys x $b bits overflow a long")
    val folded = keys.map(c => pmod(c.cast("long"), lit(1L << b)))
    (for { j <- 0 until b; i <- 0 until k } yield
      shiftright(folded(i), j).bitwiseAND(1) * lit(1L << (j * k + i)))
      .reduce(_ + _)
  }

  /** Write parquet laid out along the z-order curve of two keys:
    * repartitionByRange on the curve value (contiguous curve segments per
    * file ⇒ tight per-file min/max on both dimensions) with a sort inside
    * each partition. One range shuffle — the same cost as a plain sorted
    * write. */
  def zorderWrite(df: DataFrame, path: String, x: Column, y: Column,
                  numFiles: Int): Unit =
    zorderWriteN(df, path, Seq(x, y), numFiles, bits = 21)

  /** N-dimensional [[zorderWrite]]: range-partition + sort on the k-dim
    * curve value — contiguous curve segments per file ⇒ tight per-file
    * min/max on ALL k dimensions. One range shuffle, the cost of a plain
    * sorted write. */
  def zorderWriteN(df: DataFrame, path: String, keys: Seq[Column],
                   numFiles: Int, bits: Int = 0): Unit = {
    df.withColumn("__z", zorderValueN(keys, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed table write: pre-shuffles the data into `numBuckets` by the
    * join keys at write time, so later equi-joins/aggregations on those
    * keys run with NO exchange — the 100 TB co-located-join strategy
    * (pay the shuffle once at ingest, not per query). Requires a saved
    * table (bucketing metadata lives in the catalog). */
  def bucketedWrite(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  // ===== Projection / compute / filter (reference: cursor/core/project.h:31,
  // compute.h:33, filter.h:36) =====

  /** Project — reorder/drop/rename columns. */
  def project(cols: Column*)(df: DataFrame): DataFrame = df.select(cols: _*)

  /** Compute — evaluate expression tree per row block. */
  def compute(exprs: Column*)(df: DataFrame): DataFrame = df.select(exprs: _*)

  /** Filter — predicate + projection (reference evaluates the predicate into
    * a selection vector then compacts; Tungsten does the same internally). */
  def filter(cond: Column, proj: Seq[Column] = Nil)(df: DataFrame): DataFrame = {
    val f = df.filter(cond)
    if (proj.isEmpty) f else f.select(proj: _*)
  }

  // ===== Row-ids (reference rowid_t, types.h:252-256) =====

  /** Attach a contiguous 0-based rowid. Distributed two-pass zipWithIndex —
    * unlike a global `row_number()` window this does NOT funnel the data
    * through one partition, so it survives 100 TB inputs.
    *
    * COST: dropping to `df.rdd` leaves columnar execution — the extra
    * count job of zipWithIndex plus Row conversion and loss of
    * whole-stage codegen downstream. That is the price of globally
    * contiguous ids; callers that only need uniqueness should use
    * `monotonically_increasing_id()` instead (stays in codegen, no extra
    * job, ids sparse). */
  def withRowid(df: DataFrame, col: String = "rowid"): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(col, LongType, nullable = false))
    df.sparkSession.createDataFrame(
      df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** Rowid in a given total order (sort first, then contiguous ids). */
  def withRowidOrdered(df: DataFrame, order: Seq[Column], col: String = "rowid"): DataFrame =
    withRowid(df.orderBy(order: _*), col)

  /** ScanViewWithSelection — scan through a rowid selection vector; rows may
    * repeat or drop, output follows selection order (reference:
    * scan_view.h:42-47, view_cursor.h:36-43). The selection is a DataFrame
    * of (position, rowid) pairs so the "vector" itself is distributed. */
  def scanWithSelection(df: DataFrame, selection: DataFrame,
                        posCol: String = "pos", ridCol: String = "rowid"): DataFrame =
    selection.join(withRowid(df, "__rid"), col(ridCol) === col("__rid"), "inner")
      .orderBy(posCol)
      .drop("__rid", posCol, ridCol)

  // ===== Joins (reference: cursor/core/hash_join.h:35, rowid_merge_join.h:28,
  // foreign_filter.h:22) =====

  /** KeyUniqueness hint on the hash-join build side (reference:
    * proto/supersonic.proto:115-118). In Spark the hash table handles
    * duplicate keys natively, so the hint carries no planning meaning —
    * UNIQUE is an assertable CONTRACT instead: `hashJoin` verifies it when
    * key columns are supplied, failing fast where the reference would
    * silently rely on the caller's claim. */
  sealed trait KeyUniqueness
  case object UniqueKey extends KeyUniqueness
  case object NotUniqueKey extends KeyUniqueness

  private val SupportedJoinTypes =
    Set("inner", "left", "left_outer", "right", "right_outer", "full", "full_outer", "outer")

  /** HashJoinOperation — equi-join, INNER / LEFT_OUTER / RIGHT_OUTER /
    * FULL_OUTER (the reference's JoinType enum declares all four,
    * proto/supersonic.proto:108-113, though its own hash join implements
    * only the first two, hash_join.h:37-38 — RIGHT/FULL here are a
    * documented superset). NULL keys never match (Spark equi-join
    * semantics agree). `broadcastRight` maps the reference's "rhs fully
    * materialized in memory" (hash_join.cc:91-95) to a broadcast-hash
    * join; otherwise Catalyst/AQE picks shuffle-hash vs sort-merge from
    * stats. Note broadcast is ignored by Spark for RIGHT/FULL outer (the
    * build side must see all rows) — AQE falls back to shuffle.
    *
    * @param rhsUniqueness UNIQUE asserts rhs `rhsKeyCols` are unique
    *                      (runs one small verification job, like
    *                      rowidMergeJoin's integrity check)
    */
  def hashJoin(lhs: DataFrame, rhs: DataFrame, joinExpr: Column,
               joinType: String = "inner", broadcastRight: Boolean = false,
               proj: Seq[Column] = Nil,
               rhsUniqueness: KeyUniqueness = NotUniqueKey,
               rhsKeyCols: Seq[String] = Nil): DataFrame = {
    require(SupportedJoinTypes.contains(joinType.toLowerCase(java.util.Locale.ROOT)),
      s"hashJoin: unsupported join type '$joinType'")
    if (rhsUniqueness == UniqueKey && rhsKeyCols.nonEmpty) {
      // reserved output name: a bare .count() would collide with an rhs
      // key column itself named "count"
      val dups = rhs.groupBy(rhsKeyCols.map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
        .where(col("__cnt") > 1).limit(1).count()
      require(dups == 0,
        s"hashJoin: KeyUniqueness=UNIQUE violated on (${rhsKeyCols.mkString(", ")})")
    }
    val r = if (broadcastRight) broadcast(rhs) else rhs
    val j = lhs.join(r, joinExpr, joinType)
    if (proj.isEmpty) j else j.select(proj: _*)
  }

  /** LookupIndex.MultiLookup (reference: cursor/base/lookup_index.h:33-80) —
    * a join IS the multi-lookup; expose for API parity. Always broadcasts the
    * index side (reference requires it to fit in memory too).
    */
  def lookup(queries: DataFrame, index: DataFrame, keys: Seq[String]): DataFrame =
    queries.join(broadcast(index), keys, "inner")

  /** Bloom join — bloom-filter pre-filtered equi-join for the shape where
    * the build side is too big to broadcast but selective against the
    * probe side: most probe rows won't find a partner, yet a plain
    * shuffle join ships ALL of them. Build a bloom filter over the build
    * side's join keys (one aggregation job; the filter is
    * expectedItems/fpp-bounded — ~1.1 MB for 1M keys at 3%), cut the
    * probe side with a codegen'd `might_contain` BEFORE its exchange,
    * then run the exact join. False positives only cost shuffled bytes —
    * the join removes them; false negatives are impossible, so the result
    * EQUALS the plain join (the q_bloom_join oracle is the plain join).
    *
    * At 100 TB the probe-side exchange is the dominant cost of this
    * shape; a 3%-fpp bloom cuts it to matched-rows + 3% of the rest.
    * Restricted to inner/left_semi: for outer joins the probe side is
    * preserved, so pre-filtering it would change the result.
    */
  def bloomJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                buildKey: String, joinType: String = "inner",
                expectedItems: Long = 1L << 20, fpp: Double = 0.03): DataFrame = {
    require(Set("inner", "left_semi", "semi").contains(joinType.toLowerCase(java.util.Locale.ROOT)),
      s"bloomJoin: probe-side pre-filtering requires inner or left_semi, got '$joinType'")
    val bf = build.stat.bloomFilter(buildKey, expectedItems, fpp)
    val pruned = probe.where(
      graft.functions.BloomExpressions.bloom_might_contain(col(probeKey), bf))
    pruned.join(build, col(probeKey) === col(buildKey),
      if (joinType.toLowerCase(java.util.Locale.ROOT) == "inner") "inner" else "left_semi")
  }

  /** RowidMergeJoin — inner join of lhs's sorted NOT NULL int64 key against
    * rhs's 0-based row-id; errors if a key has no matching rhs row
    * (referential integrity, reference: rowid_merge_join.h:28-44).
    */
  def rowidMergeJoin(lhs: DataFrame, keyCol: String, rhs: DataFrame,
                     rhsOrder: Seq[Column], checkIntegrity: Boolean = false): DataFrame = {
    val indexed = withRowidOrdered(rhs, rhsOrder, "__rid")
    if (checkIntegrity) {
      val missing = lhs.join(indexed, col(keyCol) === col("__rid"), "left_anti").limit(1).count()
      require(missing == 0, s"RowidMergeJoin: key $keyCol references missing row-id")
    }
    lhs.join(indexed, col(keyCol) === col("__rid"), "inner").drop("__rid")
  }

  /** ForeignFilter — semi-join of input's fk against a key list, rewriting
    * the fk to the filter's row-id (reference: foreign_filter.h:22-47).
    *
    * SCALE CONTRACT: the filter side pays `withRowidOrdered` (a full sort
    * plus the zipWithIndex de-columnarization, see withRowid) because the
    * fk→rowid rewrite demands globally contiguous ids. Keep the FILTER
    * side the small side — mirroring the reference, whose filter list is
    * an in-memory view; `input` streams through a plain equi-join. */
  def foreignFilter(input: DataFrame, fkCol: String, filterDf: DataFrame,
                    keyCol: String): DataFrame = {
    val keyed = withRowidOrdered(filterDf.select(col(keyCol)), Seq(col(keyCol)), "__newid")
    input.join(keyed, col(fkCol) === col(keyCol), "inner")
      .drop(fkCol, keyCol)
      .withColumnRenamed("__newid", fkCol)
  }

  /** Range (interval-containment) join — capability superset: attach each
    * left "point" row to every right interval row containing it
    * (pointExpr ∈ [startExpr, endExpr]), plus optional equi `keys`.
    *
    * A raw inequality join plans as BroadcastNestedLoopJoin — all-pairs
    * work and build-side-in-memory, which dies at scale. This bucketizes
    * the domain instead: each interval explodes into the buckets it
    * covers (len/bucketWidth + 1 copies), each point lands in exactly one
    * bucket, the join is equi on (keys :+ bucket), and the exact
    * containment predicate filters afterwards. The shuffle moves each
    * point once and each interval O(len/bucketWidth) times — never the
    * cross product — and a point meets an interval in exactly one bucket,
    * so no dedup pass is needed. Pick bucketWidth ≈ the typical interval
    * length (fewer interval copies, small per-bucket candidate sets).
    *
    * All three expressions must share one numeric domain (e.g.
    * `unix_millis` of a timestamp); column names must not clash across
    * the two inputs. Degenerate intervals (end < start) are dropped, as
    * in SQL BETWEEN semantics.
    *
    * Scale note — the KEYLESS case: with no equi keys the shuffle key is
    * `__b` alone, whose cardinality is time-domain ÷ bucketWidth —
    * INDEPENDENT of data size (e.g. ~85 thirty-day buckets over a 7-year
    * domain), so at 100 TB the probe would run at most that many tasks
    * wide with hot-bucket skew. `saltBuckets` restores parallelism: each
    * point gets a deterministic salt in [0, S) and each interval copy is
    * exploded across ALL S salts, so the join key becomes (__b, __salt) —
    * S× more partitions at the price of S× interval duplication (cheap
    * when the interval side is the small one, the common shape). A point
    * still meets an interval in exactly one (bucket, salt) pair, so
    * results are identical and no dedup pass is needed.
    *
    * @param saltBuckets 0 (default) = auto: min(spark.sql.shuffle
    *                    .partitions, 64) when `keys` is empty, no salting
    *                    otherwise — capped because auto-salting multiplies
    *                    the INTERVAL side's shuffle volume by S, and a
    *                    2000-partition cluster conf must not silently
    *                    2000× a large interval side; raise it explicitly
    *                    when the interval side is known-small;
    *                    1 = never salt; >1 = explicit salt fan-out.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                pointExpr: Column, startExpr: Column, endExpr: Column,
                bucketWidth: Long, saltBuckets: Int = 0): DataFrame = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    require(saltBuckets >= 0, "rangeJoin: saltBuckets must be >= 0")
    val salts =
      if (saltBuckets > 0) saltBuckets
      else if (keys.nonEmpty) 1
      else autoSaltFromConf(
        points.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    // Materialize the domain expressions once (the join would otherwise
    // re-evaluate them per candidate comparison), and repartition the
    // point side on the bucket (+salt) key: the candidate probe is the
    // expensive step (per-bucket points × intervals), and this exchange
    // spreads it across the cluster even when the upstream scan has few
    // tasks — it is the same exchange a shuffle-hash join on the bucket
    // would need. The salt hashes ALL point columns, so identical buckets
    // spread evenly and deterministically.
    val p0 = points.withColumn("__pt", pointExpr)
      .withColumn("__b", floor(col("__pt") / bucketWidth).cast("long"))
    val p1 = if (salts > 1)
      p0.withColumn("__salt",
        pmod(xxhash64(points.columns.map(col) :+ col("__pt"): _*), lit(salts)))
    else p0
    val saltKeys = if (salts > 1) Seq("__salt") else Nil
    val joinKeys = (keys ++ Seq("__b") ++ saltKeys).toSeq
    val p = p1.repartition(joinKeys.map(col): _*)
    val i0 = intervals.withColumn("__s", startExpr).withColumn("__e", endExpr)
      .where(col("__e") >= col("__s")) // sequence() would run backwards otherwise
      .withColumn("__b", explode(sequence(
        floor(col("__s") / bucketWidth).cast("long"),
        floor(col("__e") / bucketWidth).cast("long"))))
    val i = if (salts > 1)
      i0.withColumn("__salt", explode(sequence(lit(0L), lit(salts - 1L))))
    else i0
    p.join(i, joinKeys, "inner")
      .where(col("__pt") >= col("__s") && col("__pt") <= col("__e"))
      .drop((Seq("__b", "__pt", "__s", "__e") ++ saltKeys): _*)
  }

  /** Auto-salt fan-out from the session's shuffle-partition conf value,
    * capped at 64 (see [[rangeJoin]]'s saltBuckets doc). Stock Spark
    * type-checks this conf as an int, but some vendor distros accept
    * sentinels like "auto" — a non-numeric value must degrade to the cap,
    * not throw inside the planner. */
  private[operators] def autoSaltFromConf(confValue: String): Int =
    math.min(64, math.max(1, scala.util.Try(confValue.toInt).getOrElse(64)))

  /** Pick a [[rangeJoin]] bucketWidth from the interval-length
    * distribution instead of by hand (a 100 TB user who guesses the width
    * wrong either explodes every interval into thousands of copies —
    * width too small — or funnels all points into a handful of buckets —
    * width too big). One `approxQuantile` pass over the computed length:
    * width = the `percentile`-th length + 1, so at least that fraction of
    * intervals lands in at most 2 buckets and total duplication is
    * bounded by the tail above the percentile. */
  def chooseRangeBucketWidth(intervals: DataFrame, startExpr: Column,
                             endExpr: Column,
                             percentile: Double = 0.9): Long = {
    require(percentile > 0 && percentile <= 1,
      "chooseRangeBucketWidth: percentile must be in (0, 1]")
    val len = intervals
      .select((endExpr.cast("double") - startExpr.cast("double")).as("__len"))
      .where(col("__len") >= 0)
    val q = len.stat.approxQuantile("__len", Array(percentile), 0.01)
    math.max(1L, q.headOption.map(_.toLong + 1L).getOrElse(1L))
  }

  /** As-of join (capability superset; the reference has no temporal joins,
    * SURVEY §2.3): for each left row, attach the latest right row whose
    * time ≤ the left row's time, per key.
    *
    * Spark-first design: instead of a range join (which Catalyst plans as
    * a broadcast nested loop), the two sides are UNIONed and a single
    * window pass per key carries the last-seen right values forward — one
    * shuffle on the key, linear work, no quadratic candidate pairs. This
    * is the standard distributed as-of formulation.
    *
    * All right values are carried as ONE struct so `last(ignoreNulls)` is
    * non-null whenever ANY right row matched: a matched right row whose
    * value column happens to be NULL correctly yields NULL instead of
    * falling back to an older non-null row. Same-timestamp right rows get
    * a deterministic tiebreak (xxhash64 of the value struct — the largest
    * hash wins), so the carried value is stable run to run.
    *
    * @param valueCols right-side columns to attach (must not clash with
    *                  left column names)
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               valueCols: Seq[String]): DataFrame = {
    val vStructType = StructType(valueCols.map(c => right.schema(c)))
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), lit(0).as("__side"),
        struct(valueCols.map(col): _*).as("__vals")): _*)
      .withColumn("__tie", xxhash64(col("__vals")))
    val lTagged = left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
      .withColumn("__vals", lit(null).cast(vStructType))
      .withColumn("__tie", lit(0L))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // right rows sort before left rows at equal time (tag 0 < 1) so a
    // same-instant right row IS visible to the left row (ASOF <= semantics)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__c", last(col("__vals"), ignoreNulls = true).over(w))
    val outCols = left.columns.map(col) ++
      valueCols.map(c => col("__c").getField(c).as(c))
    carried.where(col("__side") === 1).select(outCols.toSeq: _*)
  }

  // ===== Sort / limit / merge (reference: cursor/core/sort.h:89,
  // limit.h:30, merge_union_all.h:33) =====

  /** Sort — full sort; reference NULL ordering is nulls-smallest which is
    * Spark's default (asc_nulls_first / desc_nulls_last). */
  def sort(order: Column*)(df: DataFrame): DataFrame = df.orderBy(order: _*)

  /** ExtendedSort — sort with optional case-insensitive keys and LIMIT
    * (top-k) (reference: sort.h:103-106, proto/specification.proto:13-31).
    * Catalyst compiles orderBy+limit into TakeOrderedAndProject — a true
    * distributed top-k, no global sort. */
  def extendedSort(order: Seq[Column], limit: Option[Int] = None)(df: DataFrame): DataFrame = {
    val s = df.orderBy(order: _*)
    limit.map(s.limit).getOrElse(s)
  }

  def caseInsensitive(c: Column): Column = lower(c)

  /** Limit — offset + limit (reference: cursor/core/limit.h:30-33). */
  def limitOffset(offset: Int, limit: Int)(df: DataFrame): DataFrame =
    df.offset(offset).limit(limit)

  /** MergeUnionAll — k-way merge of same-schema sorted inputs; sortedness of
    * the result is the contract (reference: merge_union_all.h:33-46). */
  def mergeUnionAll(inputs: Seq[DataFrame], order: Seq[Column]): DataFrame =
    inputs.reduce(_.unionAll(_)).orderBy(order: _*)

  // ===== Set ops / DAG plumbing (§2.6) =====

  def unionAll(a: DataFrame, b: DataFrame): DataFrame = a.unionAll(b)
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** BufferedSplitter — share one stream among N consumers (reference:
    * splitter.h:79-120): a lazy stagePersist the returned frame owns. */
  def splitter(df: DataFrame): DataFrame = df.stagePersist(false)

  /** Coalesce — zip columns of N equal-length inputs side by side; fails on
    * duplicate names (reference: cursor/core/coalesce.h:36-44 — NOT SQL
    * COALESCE).
    *
    * FAST PATH: when every input is a deterministic projection of the SAME
    * analyzed parent plan (the common shape — the reference's Coalesce
    * zips projections of one cursor), the zip IS a single select on that
    * parent: the merged Project plans zero extra jobs, stays columnar and
    * inside whole-stage codegen. General fallback: rowid zip-join (N
    * zipWithIndex passes + N−1 joins) for inputs with unrelated lineage,
    * where only a positional id can align rows. */
  def coalesceColumns(inputs: Seq[DataFrame]): DataFrame = {
    val all = inputs.flatMap(_.columns)
    require(all.distinct.size == all.size,
      s"Coalesce: duplicate column names in ${all.mkString(",")}")
    sameParentProjection(inputs).getOrElse(
      inputs.map(withRowid(_, "__zip")).reduce(_.join(_, "__zip")).drop("__zip"))
  }

  /** The zero-job Coalesce rewrite: if every input's analyzed plan is a
    * Project over one IDENTICAL child plan (attribute ids included — plan
    * object equality, not just sameResult, so no attribute remapping is
    * ever needed) and every projected expression is deterministic (a
    * nondeterministic projection — rand() — must NOT collapse from N
    * evaluations to one shared row stream), splice the project lists into
    * one Project over the shared parent. */
  private def sameParentProjection(inputs: Seq[DataFrame]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val plans = inputs.map(_.queryExecution.analyzed)
    val projs = plans.collect { case p: Project => p }
    if (projs.size != plans.size) return None
    val parent = projs.head.child
    if (!projs.tail.forall(_.child == parent)) return None
    if (!projs.forall(_.projectList.forall(_.deterministic))) return None
    Some(ColumnBridge.ofRows(inputs.head.sparkSession,
      Project(projs.flatMap(_.projectList), parent)))
  }

  /** SpyOperation / ViewPrinter — debug tee (reference: cursor/core/spy.h).
    * `observe` attaches metrics without breaking the plan. */
  def spy(df: DataFrame, name: String, metrics: Column*): DataFrame =
    if (metrics.isEmpty) df.observe(name, count(lit(1)).as("rows"))
    else df.observe(name, metrics.head, metrics.tail: _*)

  /** Snapshot diff — what changed between two versions of a keyed table
    * (the audit step between corpus releases: which documents were added,
    * dropped, or edited). ONE full-outer join on the key (each side pays
    * exactly one key exchange — the minimum for any diff; at cluster
    * scale both sides shard on the same key so the join is co-located
    * after the exchanges) with presence markers; payload comparison is
    * NULL-safe per column (`<=>`). Unchanged rows are dropped INSIDE the
    * join projection — the dominant case at 100 TB (most rows don't
    * change between releases) never leaves the operator. Keys must be
    * non-null (the using-columns join would split a NULL key across
    * sides); enforce upstream with Checks.NotNull. Output: keyCols ++
    * (status ∈ added|removed|changed). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff: need at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff: need at least one compare column")
    val o = oldDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"__o_$c")) :+ lit(1).as("__in_old"): _*)
    val n = newDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"__n_$c")) :+ lit(1).as("__in_new"): _*)
    val differs = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    o.join(n, keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(differs, lit("changed"))
          .otherwise(lit("unchanged")).as("status"): _*)
      .where(col("status") =!= "unchanged")
  }

  /** Quarantine CSV ingestion — the dead-letter-queue pattern for dirty
    * feeds: rows that fail the declared schema land in a quarantine
    * frame (with their raw line preserved for triage) instead of
    * aborting the load or silently nulling fields. PERMISSIVE parse +
    * corrupt-record column; the parsed frame is persisted once because
    * Spark forbids filtering on the corrupt column over a lazy CSV
    * relation (the parser would need to run twice and could disagree
    * with itself). Both returned frames read it and own its blocks (see
    * Checkpoints). Returns (good, quarantined) — good drops the marker
    * column, quarantined is (raw_line). */
  def readCsvQuarantine(spark: SparkSession, path: String,
                        schema: StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add(StructField("_corrupt_record",
      org.apache.spark.sql.types.StringType, nullable = true))
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .stagePersist(false)
    val good = raw.where(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }

  /** Hybrid skew join — the hot/cold split that keeps ONE pathological
    * key from serializing a 100 TB join: keys whose left-side count
    * exceeds `hotThreshold` take the BROADCAST path (the hot rows join
    * map-side, never shuffled to a single reducer), everything else takes
    * the normal shuffle join; the union is exactly the plain join (which
    * IS the oracle, the bloomJoin standard). The hot-key set is driver
    * metadata bounded by `maxHotKeys` (a loud require — if millions of
    * keys are "hot", the threshold is wrong, not the join). Inner joins
    * only (split-and-union needs both sides of a row class to land in
    * exactly one leg). */
  def skewHybridJoin(left: DataFrame, right: DataFrame, leftKey: String,
                     rightKey: String, hotThreshold: Long,
                     maxHotKeys: Int = 10000): DataFrame = {
    require(hotThreshold >= 1, "skewHybridJoin: hotThreshold must be >= 1")
    val hot = left.groupBy(col(leftKey)).agg(count(lit(1)).as("__c"))
      .where(col("__c") > hotThreshold)
      .limit(maxHotKeys + 1).collect().map(_.get(0))
    require(hot.length <= maxHotKeys,
      s"skewHybridJoin: more than $maxHotKeys hot keys above $hotThreshold — raise the threshold")
    if (hot.isEmpty) left.join(right, col(leftKey) === col(rightKey))
    else {
      val cold = left.where(!col(leftKey).isin(hot: _*) || col(leftKey).isNull)
        .join(right, col(leftKey) === col(rightKey))
      val hotJoin = left.where(col(leftKey).isin(hot: _*))
        .join(broadcast(right.where(col(rightKey).isin(hot: _*))),
          col(leftKey) === col(rightKey))
      cold.unionByName(hotJoin)
    }
  }

  /** Exact inner-equi-join cardinality WITHOUT executing the join — the
    * planning statistic (sum over matched keys of |L_k|·|R_k|) an engine
    * consults before choosing a join strategy, and the guard a pipeline
    * runs before an expensive join to catch key-explosion early (a
    * many-to-many key that would produce 10^12 rows shows up here as a
    * number, not an OOM). Cost: one count aggregation per side (partial
    * map-side combine) + a join of the KEY-COUNT tables — cardinality
    * |keys|, not |rows|. NULL keys never match (dropped on both sides,
    * matching join semantics). Output 1 row: (n_left, n_right,
    * matched_keys, join_rows). */
  def joinCardinality(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String): DataFrame = {
    val lc = left.where(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__lc"))
    val rc = right.where(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__rc"))
    val matched = lc.join(rc, Seq("__k"))
      .agg(count(lit(1)).as("matched_keys"),
        coalesce(sum(col("__lc") * col("__rc")), lit(0L)).as("join_rows"))
    val lt = left.agg(count(lit(1)).as("n_left"))
    val rt = right.agg(count(lit(1)).as("n_right"))
    lt.crossJoin(broadcast(rt)).crossJoin(broadcast(matched))
      .select(col("n_left"), col("n_right"), col("matched_keys"), col("join_rows"))
  }

  // =========================================================================
  // Versioned snapshots (time travel)
  // =========================================================================

  /** Append one commit to a table's version log: a JSON line per action
    * under `<table>/_log/v<version>.json`, each either adding or removing
    * a DATA DIRECTORY (a parquet write target under the table root) —
    * the commit-log shape lakehouse formats use for time travel. The log
    * is driver-side metadata by design: one small file per commit,
    * O(versions · files) total, exactly the class of bounded state the
    * manifest operators already keep ([[fileStatsManifest]]).
    *
    * Writes are atomic-ish (temp file + move) so a concurrent reader
    * never sees a half-written commit; version numbers must be dense
    * increasing from 0 and are require()d fresh. */
  def commitVersion(tableDir: String, version: Int,
                    adds: Seq[String], removes: Seq[String]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(version >= 0, "commitVersion: version must be >= 0")
    require(adds.nonEmpty || removes.nonEmpty, "commitVersion: empty commit")
    val log = Paths.get(tableDir, "_log")
    Files.createDirectories(log)
    val target = log.resolve(f"v$version%05d.json")
    require(!Files.exists(target), s"commitVersion: version $version exists")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines =
      adds.map(f => s"""{"version":$version,"action":"add","file":"${esc(f)}"}""") ++
      removes.map(f => s"""{"version":$version,"action":"remove","file":"${esc(f)}"}""")
    val tmp = log.resolve(f".v$version%05d.json.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The active data directories of a table as of `asOf` (inclusive;
    * None = latest): fold the commit log in version order, adds minus
    * removes. Pure JVM metadata walk — no Spark job. */
  def snapshotFiles(tableDir: String, asOf: Option[Int]): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val log = Paths.get(tableDir, "_log")
    require(Files.isDirectory(log), s"snapshotFiles: no _log under $tableDir")
    val commits = Files.list(log).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d{5}\\.json")).toSeq
      .sortBy(_.getFileName.toString)
      .filter(p => asOf.forall(v =>
        p.getFileName.toString.stripPrefix("v").stripSuffix(".json").toInt <= v))
    require(commits.nonEmpty, s"snapshotFiles: no commits <= $asOf")
    val active = scala.collection.mutable.LinkedHashSet[String]()
    val FileRx = """"action":"(add|remove)","file":"((?:[^"\\]|\\.)*)"""".r.unanchored
    commits.foreach { p =>
      Files.readAllLines(p).asScala.foreach {
        case FileRx(action, f) =>
          val file = f.replace("\\\"", "\"").replace("\\\\", "\\")
          if (action == "add") active += file else active -= file
        case _ => ()
      }
    }
    require(active.nonEmpty, s"snapshotFiles: snapshot at $asOf is empty")
    active.toSeq
  }

  /** Read a versioned table as of a version (time travel): resolve the
    * commit log, scan exactly the active directories. The scan is a
    * normal multi-path parquet read — pushdown, pruning and AQE all
    * apply; only the LOG walk is driver-side. With `mergeSchema` the
    * scan unions the per-file schemas (schema evolution across
    * commits: columns added in later versions read as NULL from older
    * files) — footer-merge cost only, the data path is unchanged. */
  def readSnapshot(spark: SparkSession, tableDir: String,
                   asOf: Option[Int] = None,
                   mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(snapshotFiles(tableDir, asOf): _*)

  /** Banding join: classify facts against a SMALL table of half-open
    * [lo, hi) bands (tax brackets, grade bands, price tiers) — a pure
    * theta-join, so the right physical plan is a broadcast nested-loop
    * with the band table (bounded metadata) on the build side; the fact
    * side streams with no exchange at all. This is the complement of
    * [[rangeJoin]], which handles big-×-big interval matching via
    * bucketizing — here the interval side is known-small, and
    * bucketizing would only add an exchange. A fact matching k
    * overlapping bands emits k rows; non-matching facts drop (inner).
    * The BNLJ plan is spec-asserted — the forbidden-crossJoin rule
    * excludes unbounded sides, not a broadcast band table. */
  def bandJoin(facts: DataFrame, bands: DataFrame, valueCol: String,
               loCol: String, hiCol: String): DataFrame =
    facts.join(org.apache.spark.sql.functions.broadcast(bands),
      col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol), "inner")

  /** ANSI `NOT IN (subquery)` with the full three-valued semantics — the
    * SQL trap a plain anti-join silently gets wrong: `x NOT IN (S)`
    * unrolls to `x≠s₁ AND x≠s₂ AND …`, so ONE NULL in S makes every
    * conjunction UNKNOWN (no row ever qualifies), and a NULL x is
    * likewise never kept. A null-oblivious LEFT ANTI keeps such rows and
    * corrupts the result.
    *
    * Shape: one scalar aggregate of the subquery side (total + null
    * count — broadcast, one row) plus one left anti join on the
    * non-NULL subquery values; the anti join itself can broadcast or
    * shuffle as sizes dictate. An empty S keeps everything (vacuous
    * truth), INCLUDING NULL x — per the standard. */
  def notInSubquery(df: DataFrame, valueCol: String, sub: DataFrame,
                    subCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast => bc}
    val stats = sub.agg(count(lit(1)).as("__s_total"),
      sum(when(col(subCol).isNull, 1L).otherwise(0L)).as("__s_nulls"))
    val vals = sub.where(col(subCol).isNotNull)
      .select(col(subCol).as("__sv")).distinct()
    df.crossJoin(bc(stats))
      .where(coalesce(col("__s_nulls"), lit(0L)) === 0 &&
        (coalesce(col("__s_total"), lit(0L)) === 0 ||
          col(valueCol).isNotNull))
      .join(vals, col(valueCol) === col("__sv"), "left_anti")
      .drop("__s_total", "__s_nulls")
  }
}
