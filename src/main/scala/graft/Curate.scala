package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.pipeline.{Contamination, Dedup, Dsir, Packing, Sampling, Shards, TextAnalysis => T}

/** End-to-end curation pipeline record: the chain a pretraining-data run
  * actually executes — ingest → language/quality filter → exact dedup →
  * MinHash near-dedup → benchmark decontamination → DSIR target-domain
  * selection → recipe mix + epochs → greedy sequence packing →
  * shard manifest — with per-stage wall time and row counts, so the
  * engine has ONE reproducible artifact showing the stages composing,
  * not just each operator green in isolation.
  *
  * Every stage WRITES its output to parquet and the next stage reads
  * that artifact back — the production shape (stages are restartable,
  * lineage stays flat, and each stage's wall includes its write, which
  * is what a scheduler sees).
  *
  * Usage: graft.Curate <sfDir> <outDir> [evalParquetDir]
  * Session settings: the README table "Session settings".
  * `evalParquetDir`: a parquet of (doc_id, text) benchmark/eval docs for
  * the decontamination stage — a REAL run passes its held-out eval set
  * here; absent, the stage falls back to a deterministic 2% self-sample
  * so the demo record stays reproducible with no external input.
  * Prints one JSONL line per stage (name, rows, seconds and the schema
  * the next stage reads the artifact with) and a final one-line JSON
  * summary with the chain's Spark job count (same last-line contract as
  * graft.Bench).
  */
object Curate {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse(".scratch/curate_out")
    val spark = Sessions.start("graft-curate")
    new java.io.File(outDir).mkdirs()
    // External benchmark for stage 5 (decontaminate): a real run passes
    // the eval set it must not train on; the self-sample below is only
    // the zero-input demo default.
    val externalEval: Option[DataFrame] =
      args.lift(2).map(p => spark.read.parquet(p).select("doc_id", "text"))

    // every Spark job of the chain; read once spark.stop() has drained the bus
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val stages = collection.mutable.LinkedHashMap.empty[String, (Long, Double)]
    // The rows come from the write itself (an observed count), and the
    // artifact is read back with the written schema made nullable, as a
    // file source reads it: no schema-inference job and no count job.
    def stage(name: String)(build: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val df = build
      val written = Observation(s"curate_$name")
      df.observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$outDir/$name")
      val rows = written.get("rows").asInstanceOf[Long]
      val schema = ColumnBridge.asNullable(df.schema)
      val out = spark.read.schema(schema).parquet(s"$outDir/$name")
      val secs = (System.nanoTime() - t0) / 1e9
      stages(name) = (rows, secs)
      println(f"""{"stage":"$name","rows":$rows,"sec":$secs%.2f,"schema":${schema.json}}""")
      out
    }

    // 1. Ingest + per-doc text statistics (token counts, ratios, lang-id).
    val ingested = stage("ingest") {
      Tables.documents(spark, sfDir).select(
        col("doc_id"), col("text"), col("lang"), col("source"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.charCount(col("text")).as("n_chars_m"),
        T.punctRatio(col("text")).as("punct_ratio"),
        T.stopwordRatio(col("text")).as("stop_ratio"),
        T.langId(col("text")).as("lang_pred"))
    }

    // 2. Quality + language gate: length/punctuation bounds, and the
    // n-gram lang-id must agree with the declared tag (mismatches are
    // the classic mislabeled-crawl shard).
    val filtered = stage("quality_filter") {
      ingested.where(T.qualityOk(col("text"), minChars = 20, maxChars = 100000)
        && col("lang_pred") === col("lang"))
    }

    // 3. Exact dedup (normalized-hash groups, min-id survivor).
    val exact = stage("dedup_exact") {
      Dedup.exact(filtered, "text", "doc_id")
    }

    // 4. MinHash LSH near-dedup: banded candidates, exact Jaccard
    // verify, connected-component clusters, min-id survivor.
    val near = stage("dedup_near") {
      val pairs = Dedup.minhashNearDups(exact, "doc_id", "text",
        threshold = 0.8, numHashes = 32, bands = 8)
      Dedup.dropNearDuplicates(exact, pairs, "doc_id")
    }

    // 5. Benchmark decontamination: the externally-supplied eval set
    // (arg 3) when given — the production shape —
    // else a deterministic 2% hash-sample OF THE
    // DEDUPED corpus stands in for the eval benchmark; any surviving
    // training doc whose 3-gram shingles are ≥80% covered by the
    // benchmark's shingle set (the eval docs themselves at rate 1.0, and
    // any near-verbatim leak the dedup stages missed) is dropped. Two
    // (8-byte hash, id) shuffles — the eval side is the small one by
    // construction, exactly the 100 TB shape. Sampling AFTER dedup
    // matters on replica-dense corpora: a raw-corpus sample is a
    // near-copy of essentially every surviving cluster (each cluster
    // contributed ~replica-factor docs to the pool), so decontamination
    // would correctly-but-uselessly drop the whole corpus; a benchmark
    // drawn from the deduped pool keeps the drop proportional to the
    // benchmark, not the duplication (measured at the 30× replica:
    // sample-from-ingest dropped 1835 → 0, sample-from-deduped drops
    // the expected ~2% + leaks).
    val decon = stage("decontaminate") {
      val evalSet = externalEval.getOrElse(
        Sampling.bernoulli(near, Seq("doc_id"), 0.02))
      val rates = Contamination.ngramContamination(
        evalSet, near, "doc_id", "text", 3)
      near.join(rates.where(col("rate") >= 0.8).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }

    // 6. DSIR selection: hashed-bigram importance vs the src0-2 target
    // domain; keep the most target-like three quarters.
    val selected = stage("dsir_select") {
      val scored = Dsir.importanceScores(decon, decon.where(
        col("source").isin("src0", "src1", "src2")), "doc_id", "text", 512)
      decon.join(
        Dsir.selectTopFraction(scored, "doc_id", num = 3, den = 4)
          .where(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }

    // 7. Recipe mix + epochs: per-language corpora with en up-weighted
    // 4:1, then 1.5 deterministic epochs with per-epoch shuffle keys.
    val mixed = stage("mix_epochs") {
      val langs = Seq("en", "de", "es", "fr", "zh")
      val total = stages("dsir_select")._1
      val sources = langs.map { l =>
        (l, selected.where(col("lang") === l),
          if (l == "en") 4L else 1L)
      }
      val mix = Sampling.mixCorpora(sources, Seq("doc_id"),
        targetRows = math.max(1L, (total * 0.8).toLong),
        sourceCol = "mix_source", posCol = "mix_pos")
      Sampling.withEpochs(mix, Seq("doc_id"), epochs = 1.5)
    }

    // 8. Greedy token packing into fixed budgets (512-token sequences,
    // 64 parallel pack buckets). Row key folds the epoch so repeated
    // docs pack as distinct rows.
    val packed = stage("pack") {
      val keyed = mixed.withColumn("pack_id",
        col("doc_id") * lit(4L) + col("epoch"))
      Packing.packGreedy(keyed, "pack_id", "text",
        budget = 512, buckets = 64).toDF()
    }

    // 9. Shard manifest: 16 shards, per-shard row count + order-free
    // content fingerprint — the handoff artifact a trainer validates.
    stage("manifest") {
      Shards.shardManifest(packed, Seq("id"),
        packed.columns.toSeq, nShards = 16)
    }

    val totalS = stages.values.map(_._2).sum
    val stagesJson = stages.map { case (n, (r, s)) =>
      f""""$n":{"rows":$r,"sec":$s%.2f}""" }.mkString(",")
    spark.stop()
    println(f"""{"metric":"curate_total","value":$totalS%.2f,"unit":"sec","sf":"$sfDir","jobs":${jobs.get},"stages":{$stagesJson}}""")
  }
}
