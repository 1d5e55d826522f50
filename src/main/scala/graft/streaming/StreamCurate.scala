package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.functions.{HashFunctions => H, TextFunctions => T}

/** One doc routed to its packing shard (same hash routing as the batch
  * operator). */
case class PackInput(id: Long, shard: Int, n_tok: Long)

/** Per-shard running state: the next sequence-start token offset. */
case class PackState(next_start: Long)

/** A doc with its assigned training-sequence coordinates — the same
  * row [[graft.operators.Curate.packSequences]] emits. */
case class PackedDoc(id: Long, shard: Int, n_tok: Long, start_tok: Long,
    seq_id: Long)

/** One crawl doc routed to its registered domain (same domain
  * expression as the batch cap). */
case class CapInput(id: Long, domain: String, quality: Option[Double])

/** Per-domain admission state: how many docs this domain has already
  * placed in the mixture. */
case class CapState(accepted: Long)

/** An admitted doc with its 1-based admission rank within the domain —
  * the same (id, domain, rank) the batch cap emits for survivors. */
case class CappedDoc(id: Long, domain: String, quality: Option[Double],
    rank: Long)

/** Streaming forms of the curation operators. Decontaminate and the
  * hash-predicate samplers are stateless — the batch expressions apply
  * to a stream unchanged (spec'd in CurateSpec). Sequence packing is
  * the one with real state: a doc's start offset depends on every doc
  * packed before it in its shard, so the running token counter lives in
  * the state store.
  */
object StreamCurate {

  /** Streaming sequence packing: each shard's running token total is
    * one `PackState` in the state store; a micro-batch's docs extend it
    * and are emitted with their (start_tok, seq_id) immediately. State
    * is O(shards) — a single long per shard, never per-doc — so the
    * store stays bytes-sized at any corpus volume, and each trigger's
    * work is O(batch).
    *
    * Ordering contract: the batch operator lays docs end-to-end in id
    * order within a shard. A stream can only honor that order as far as
    * arrival allows — docs are sorted by id WITHIN each trigger, and
    * triggers append in arrival order. Feed the stream in globally
    * ascending id order (the replay/backfill case) and the drained
    * output is bit-equal to batch [[graft.operators.Curate.packSequences]]
    * on the same prefix; out-of-order arrival packs by arrival instead
    * (no retroactive re-packing — emitted offsets are immutable).
    * NoTimeout: packing state never expires; a shard's counter is
    * meaningful for the stream's lifetime. */
  def packSequencesStream(docs: DataFrame, idCol: String, textCol: String,
      budget: Int, shards: Int = 32, seed: Int = 29): Dataset[PackedDoc] = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        pmod(H.hash32(seed, col(idCol).cast("string")), lit(shards))
          .cast("int").as("shard"),
        T.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .as[PackInput]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, it, state) =>
          val batch = it.toIndexedSeq.sortBy(_.id)
          var start = state.getOption.map(_.next_start).getOrElse(0L)
          val out = batch.map { d =>
            val row = PackedDoc(d.id, shard, d.n_tok, start, start / budget)
            start += d.n_tok
            row
          }
          state.update(PackState(start))
          out.iterator
      }
  }

  /** Streaming per-domain document cap — the admission-control form of
    * [[graft.operators.Dedup.capPerDomain]] for a live crawl: a doc is
    * admitted iff its [[graft.operators.Dedup.registeredDomain]] has
    * admitted fewer than `n` docs so far. State is ONE counter per
    * domain (bytes-sized at any crawl volume); each trigger's work is
    * O(batch). Emitted rows are immutable (Append mode), so unlike the
    * batch operator a later better doc cannot evict an earlier one —
    * that is the price of streaming, not a bug.
    *
    * Ordering contract (same shape as [[packSequencesStream]]): docs
    * are sorted (quality desc nulls-last, id asc) WITHIN each trigger —
    * the batch cap's exact priority — and triggers admit in arrival
    * order. Feed the stream in globally quality-descending order (the
    * replay/backfill case) and the drained (id, domain, rank) set is
    * exactly batch capPerDomain on the same prefix; out-of-order
    * arrival admits first-come within the cap instead. NoTimeout: a
    * domain's budget is meaningful for the stream's lifetime. */
  def capPerDomainStream(docs: DataFrame, idCol: String, urlCol: String,
      n: Int, qualityCol: String): Dataset[CappedDoc] = {
    require(n > 0, "n must be positive")
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        graft.operators.Dedup.registeredDomain(col(urlCol)).as("domain"),
        col(qualityCol).cast("double").as("quality"))
      .as[CapInput]
      .groupByKey(_.domain)
      .flatMapGroupsWithState[CapState, CappedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (domain, it, state) =>
          // batch-cap priority within the trigger: quality desc (nulls
          // last), then id asc — Option sorts None-last via the isEmpty
          // key, Boolean false < true
          val batch = it.toIndexedSeq.sortBy(d =>
            (d.quality.isEmpty, d.quality.map(-_).getOrElse(0.0), d.id))
          var k = state.getOption.map(_.accepted).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[CappedDoc]
          batch.foreach { d =>
            if (k < n) { k += 1; out += CappedDoc(d.id, domain, d.quality, k) }
          }
          state.update(CapState(k))
          out.iterator
      }
  }

  /** Streaming temperature-mixture admission: thresholds are computed
    * ONCE from a static reference corpus (the history the mixture was
    * weighted on) and broadcast onto the stream; each arriving doc then
    * passes the same stateless hash predicate as the batch operator —
    * so a doc admits identically whether it arrives in a batch rerun or
    * on the live stream. Deriving thresholds from the stream itself
    * would re-weight every micro-batch (admission for the same doc
    * would depend on arrival time — exactly what the deterministic
    * contract forbids), hence the explicit `ref`. Stream-static
    * broadcast join + codegen'd filter: stateless, no watermark, no
    * state store. */
  def temperatureMixtureStream(stream: DataFrame, ref: DataFrame,
      idCol: String, stratumCol: String, alpha: Double, budget: Long,
      seed: Int = 23): DataFrame = {
    val thr = graft.operators.Curate
      .mixtureThresholds(ref, stratumCol, alpha, budget)
    graft.operators.Curate.applyMixture(stream, thr, idCol, stratumCol, seed)
  }

  /** Streaming CCNet bucketing: discrete-quantile thresholds are cut
    * ONCE from a static reference corpus's CDF (the history the
    * head/middle/tail bar was calibrated on) and applied to arriving
    * docs as a codegen'd when-chain — stateless, no watermark, no
    * state store, and a doc buckets identically on the stream and in a
    * batch rerun. Deriving the CDF from the stream itself would move
    * the bar every micro-batch (same argument as
    * [[temperatureMixtureStream]]'s static `ref`). */
  def scoreBucketsStream(stream: DataFrame, ref: DataFrame, idCol: String,
      scoreCol: org.apache.spark.sql.Column, cuts: Seq[Double],
      labels: Seq[String]): DataFrame = {
    val ts = graft.operators.Curate.bucketThresholds(ref, scoreCol, cuts)
    graft.operators.Curate.applyBuckets(stream, idCol, scoreCol, ts, cuts, labels)
  }

  /** The online admission path — the v2 flagship's STATELESS prefix as
    * one streaming chain, the shape a live crawl ingest runs per
    * arriving document: fixText repair → Gopher pass gate
    * ([[graft.operators.Curate.gopherPassCol]], per-row) →
    * exact-history Bloom admission ([[StreamIngest.admitNovelStream]]:
    * codegen'd bloom predicate, stream-static DPP-pruned confirm
    * against the persisted index) → static-reference CDF buckets,
    * dropping the last label (CCNet's tail) → static-reference
    * α-temperature mixture admission. `scoreOf` is a per-row scoring
    * expression applied identically to the stream and to `ref` (token
    * count here; an LM score needs aggregation and belongs to the
    * batch form) — both the bucket bar and the mixture sizes pin to
    * the static `ref` corpus, the deployed-CCNet argument
    * ([[temperatureMixtureStream]]'s scaladoc): stream-derived
    * thresholds would re-weight admission per micro-batch.
    *
    * NO state store anywhere: every stage is a per-row expression, a
    * literal threshold, or a stream-static broadcast/pruned join — the
    * chain plans as one narrow streaming stage, scales to any arrival
    * rate, and a doc admits identically on the stream and in a batch
    * rerun (spec'd drained-equals-batch). Returns admitted rows
    * (id, stratum, keep_ppm, score, bucket). */
  def curateStream(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docsStream: DataFrame, idCol: String,
      textCol: String, stratumCol: String, ref: DataFrame,
      scoreOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      minWords: Int = 20, cuts: Seq[Double] = Seq(0.3333, 0.6667),
      labels: Seq[String] = Seq("head", "middle", "tail"),
      alpha: Double = 0.5, budget: Long = 100, seed: Int = 23): DataFrame = {
    import graft.operators.Curate
    require(labels.size == cuts.size + 1,
      s"need ${cuts.size + 1} labels for ${cuts.size} cuts")
    val fixed = docsStream.withColumn(textCol, T.fixText(col(textCol)))
    val quality = fixed.filter(Curate.gopherPassCol(col(textCol), minWords))
    val novel = StreamIngest.admitNovelStream(spark, indexDir, quality, textCol)
    // bucket bar from the static reference, applied inline so the full
    // row (stratum included) survives — applyBuckets' projection would
    // force a stream-stream join to recover it
    val ts = Curate.bucketThresholds(ref, scoreOf(col(textCol)), cuts)
    // an empty reference would yield a NULL bucket and the tail filter
    // below would silently drop EVERY arriving row — loud instead, the
    // engine-wide misconfiguration convention
    require(ts.isDefined,
      "curateStream needs a non-empty reference corpus for bucket thresholds")
    val withScore = novel
      .withColumn("score", scoreOf(col(textCol)).cast("double"))
      .filter(col("score").isNotNull)
    val bucketCol = ts.get.zip(labels.init).foldRight(lit(labels.last)
        : org.apache.spark.sql.Column) {
      case ((t, l), acc) => when(col("score") <= t, lit(l)).otherwise(acc)
    }
    val headMiddle = withScore.withColumn("bucket", bucketCol)
      .filter(col("bucket") =!= labels.last)
    // mixture admission keeping the full row (applyMixture's
    // projection shape, inlined for the same reason as the buckets)
    val thr = Curate.mixtureThresholds(ref, stratumCol, alpha, budget)
    headMiddle
      .withColumn("stratum", col(stratumCol).cast("string"))
      .join(org.apache.spark.sql.functions.broadcast(thr), Seq("stratum"))
      .filter(H.hash32(seed, col(idCol).cast("string")) % 1000000
        < col("keep_ppm"))
      .select(col(idCol).as("id"), col("stratum"), col("keep_ppm"),
        col("score"), col("bucket"))
  }

  /** Streaming twin of [[graft.operators.Curate.crawlTriage]]: crawl
    * docs arrive as a stream and are triaged against a STATIC previous
    * snapshot. Emits the batch operator's (id, status, action) for
    * every ARRIVING doc — `removed` is structurally unavailable on a
    * stream (detecting absence needs the full new snapshot; run the
    * batch operator, or a reconciliation pass, for deletions) and so
    * is the within-batch smallest-id-wins tie-break (cross-doc state;
    * that durable form is [[StreamIngest.admitIngestStream]]'s job —
    * pipe the upserts through the admission ledger for exactly-once
    * admission across triggers).
    *
    * Stateless: fingerprint + quality verdict are per-row expressions;
    * the id lookup and the history-fingerprint lookup are stream-static
    * left joins against the old snapshot — no state store, any arrival
    * rate, and a twin-free doc triages identically here and in the
    * batch operator (spec'd drained-equals-batch). */
  def triageStream(docsStream: DataFrame, idCol: String, textCol: String,
      oldSnap: DataFrame, oldIdCol: String, oldTextCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    import graft.operators.Curate
    // presence marker + null-safe compare + coalesce-false quality —
    // the batch operator's NULL-text discipline, kept in lockstep
    val old = oldSnap.select(col(oldIdCol).as("id"),
      T.fingerprintMd5(col(oldTextCol)).as("__fp_old"),
      lit(true).as("__in_old"))
    val hist = oldSnap
      .select(T.fingerprintMd5(col(oldTextCol)).as("__fp_new")).distinct()
      .withColumn("__in_hist", lit(true))
    docsStream.select(col(idCol).as("id"),
        T.fingerprintMd5(col(textCol)).as("__fp_new"),
        coalesce(Curate.gopherPassCol(col(textCol), minWords, maxWords),
          lit(false)).as("__pass"))
      .join(old, Seq("id"), "left_outer")
      .join(hist, Seq("__fp_new"), "left_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(!(col("__fp_old") <=> col("__fp_new")), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("id"), col("status"),
        when(col("status") === "unchanged", lit("skip_unchanged"))
          .when(!col("__pass"), lit("skip_quality"))
          .when(col("__in_hist").isNotNull, lit("skip_duplicate"))
          .otherwise(lit("upsert")).as("action"))
  }

  /** One micro-batch of [[driftStream]]: the batch operator applied to
    * (reference, batch), one summary row overwritten into its own
    * `batch=<id>` directory — idempotent in batchId across every crash
    * window with no marker protocol (the reference is read-only here,
    * so a replayed batch recomputes the identical row). Empty batches
    * write nothing (a monitor must not log an all-NULL row for an
    * empty trigger) — decided from the computed row's own n_new, not a
    * separate isEmpty pre-scan. The batch is pinned for the summary's
    * two aggregate passes (counts+norms, centroid) so a non-replayable
    * source is read once per trigger; the one-row result is collected
    * and written back, so the summary plan runs exactly once. */
  def applyDriftBatch(refDf: DataFrame, batch: DataFrame, vecCol: String,
      batchId: Long, outDir: String): Unit = {
    val spark = batch.sparkSession
    val pinned = batch.persist()
    try {
      val summary = graft.operators.Stats
        .embeddingDriftSummary(refDf, pinned, vecCol)
        .withColumn("batch_id", lit(batchId))
      val rows = summary.collect() // one row by construction
      if (rows.head.getAs[Long]("n_new") > 0L)
        spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), summary.schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
    } finally { pinned.unpersist(); () }
  }

  /** Streaming twin of
    * [[graft.operators.Stats.embeddingDriftSummary]] — the monitor a
    * live embedding-ingest pipeline runs NEXT TO the ingest streams:
    * each arriving vector micro-batch writes its one-row drift summary
    * against a STATIC reference snapshot under `outDir/batch=<id>`
    * (counts, mean norms, centroid cosine, batch_id). A centroid-cos
    * slide or a norm jump in the batch log is the first signal that an
    * encoder checkpoint changed or a crawl source shifted — BEFORE the
    * drifted vectors degrade the IVF/PQ structures they land in.
    * Stateless: no state store, no index writes; per batch the source
    * is read once (pinned for the summary's two aggregate passes) plus
    * the reference aggregates. */
  def driftStream(refDf: DataFrame, vecStream: DataFrame, vecCol: String,
      outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDriftBatch(refDf, batch, vecCol, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of [[driftByStream]]: the per-stratum drill-down
    * ([[graft.operators.Stats.embeddingDriftBy]]) applied to
    * (reference, batch), its (stratum, dim) rows overwritten into the
    * batch's own directory — the [[applyDriftBatch]] idempotency-by-
    * overwrite protocol (the reference is read-only, so a replayed
    * batch recomputes identical rows). Empty batches write nothing; the
    * result is strata×dim-bounded by construction, so it lands in one
    * file without a collect-and-rebuild pass. */
  def applyDriftByBatch(refDf: DataFrame, batch: DataFrame, vecCol: String,
      groupCol: String, batchId: Long, outDir: String): Unit = {
    val pinned = batch.persist()
    try {
      if (!pinned.isEmpty)
        graft.operators.Stats
          .embeddingDriftBy(refDf, pinned, vecCol, groupCol)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
    } finally { pinned.unpersist(); () }
  }

  /** The drill-down twin of [[driftStream]] — per-STRATUM drift, live:
    * each arriving micro-batch writes its (stratum, dim, mean_old,
    * mean_new, delta) rows against the static reference, so a crawl
    * operator watching the batch log sees WHICH source drifted without
    * waiting for a batch job ([[driftStream]]'s one-row summary says
    * only THAT the corpus moved). A stratum absent from the reference
    * (a brand-new crawl source — drift incarnate) reports NULL
    * mean_old rather than vanishing, the embeddingDriftBy full-outer
    * contract. Stateless like the summary stream; per batch the work
    * is two strata×dim-bounded aggregations. */
  def driftByStream(refDf: DataFrame, vecStream: DataFrame, vecCol: String,
      groupCol: String, outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDriftByBatch(refDf, batch, vecCol, groupCol, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of [[recallStream]]: search the persisted index
    * at its PRODUCTION operating point AND at the batch's PINNED
    * exact reference (one reference probe per batch, persisted so the
    * recall join doesn't pay it twice), write the per-query
    * [[graft.operators.Ann.recallAtK]] rows under the batch's own
    * directory — the [[applyDriftBatch]] idempotency-by-overwrite
    * protocol (the index is read-only here, so a replayed batch
    * recomputes identical rows). Empty batches write nothing; output
    * is q×1 rows, bounded by the batch.
    *
    * FAMILY dispatch (r19) — the index dir is self-describing, so one
    * monitor covers every RecallFloorSpec-pinned production point:
    *  - `codes/`   → IVF_PQ: ADC at the production nprobe vs the
    *    index's own ADC full probe (the retrainAdvisorIvfPq recall
    *    arm, live per batch);
    *  - `buckets/` → LSH: the statically pruned bucket probe vs brute
    *    force over the LIVE stored vectors (the tuneLshTables recall
    *    definition — LSH has no nprobe knob, so the reference is the
    *    stored corpus itself; `nprobe` is ignored);
    *  - `cells/`   → IVF: partial probe vs full probe (as before). */
  def applyRecallBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, k: Int, nprobe: Int, metric: String,
      batchId: Long, outDir: String): Unit = {
    import graft.operators.{Ann, IndexFiles}
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$t"))
    val pinned = batch.persist()
    try {
      if (!pinned.isEmpty) {
        val (approx, exact) =
          if (has("codes")) {
            val nlist = IndexFiles.codebook(spark, dir).length
            val ex = Ann.searchIvfPqIndex(spark, dir, pinned, k,
              nprobe = nlist).persist()
            (if (nprobe >= nlist) ex
             else Ann.searchIvfPqIndex(spark, dir, pinned, k, nprobe), ex)
          } else if (has("buckets")) {
            val stored = IndexFiles.dropTombstones(spark, dir,
              spark.read.parquet(s"$dir/buckets")
                .select("id", "v").dropDuplicates("id"))
            val ex = Ann.bruteForceTopK(stored, pinned, k, metric).persist()
            (Ann.searchLshIndex(spark, dir, pinned, k, metric), ex)
          } else {
            val nlist = IndexFiles.codebook(spark, dir).length
            val ex = Ann.searchIvfIndex(spark, dir, pinned, k,
              nprobe = nlist, metric = metric).persist()
            (if (nprobe >= nlist) ex
             else Ann.searchIvfIndex(spark, dir, pinned, k, nprobe, metric),
              ex)
          }
        try {
          Ann.recallAtK(approx, exact, k)
            .withColumn("batch_id", lit(batchId))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/batch=$batchId")
        } finally { exact.unpersist(); () }
      }
    } finally { pinned.unpersist(); () }
  }

  /** The retrieval twin of [[driftStream]] — the STREAMING recall
    * monitor a live search deployment runs next to its ingest: each
    * arriving (qid, qv) query micro-batch writes its per-query
    * recall@k of the production operating point against the family's
    * exact reference under `outDir/batch=<id>` (IVF and IVF_PQ: the
    * production nprobe vs the index's own full probe; LSH: the bucket
    * probe vs brute force over the live stored vectors — the
    * [[applyRecallBatch]] dispatch on the self-describing dir). A recall slide in the batch log
    * is the operational half of the retrain loop — the
    * [[graft.operators.Ann.retrainAdvisor]] signal, live per batch
    * instead of per cron tick (drifted queries crowd into cells the
    * partial probe misses, so the slide shows here before a scheduled
    * advisor run sees it). Stateless: no state store, no index
    * writes; per batch the cost is one partial + one full probe of
    * that batch's queries — the full-probe reference is pinned per
    * batch, never recomputed inside the recall join. */
  def recallStream(dir: String, queryStream: DataFrame, k: Int,
      nprobe: Int, outDir: String, checkpointDir: String,
      metric: String = "cosine",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRecallBatch(batch.sparkSession, dir, batch, k, nprobe,
          metric, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
