package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.Catalog
import graft.shopping.{Enrich, EnrichCatalog, Views}

/** Driver-contract registration that runs the REAL streaming path inside
  * the correctness gate: replay the events table through a file-source
  * readStream → enrichment → checkpointed parquet sink, then hand the sink
  * back as the query result. The oracle is the SAME SQL as the batch
  * `enriched_orders` query — proving stream output ≡ batch output ≡ oracle
  * on the full table, not just in unit tests.
  */
object StreamingCatalog extends Catalog {

  /** Run `body` with `n` shuffle partitions, restoring the session's value
    * after. Stateful streaming cost at replay volume is dominated by state
    * STORE COMMITS, not compute: every stateful operator opens one store
    * per shuffle partition (a stream-stream join opens FOUR) and each
    * store pays init + delta-commit + fsync per micro-batch — at the
    * session default of 32 that is 32-128 commits per batch to process a
    * few thousand rows. 8 partitions keeps every executor busy at replay
    * volume for a quarter of the commit overhead (measured ~4x the join
    * work itself on replayRangeJoin). Safe per-query: each replay starts a
    * FRESH checkpoint, and the checkpoint pins state parallelism only at
    * its own first start. At production volume the knob inverts — state
    * parallelism should track cluster width, which is exactly what leaving
    * the session default alone does.
    */
  private def withStateParallelism[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The raw event replay stream: watch the testdata dir filtered down to
    * the events table file (the file stream source wants a directory).
    * Streams must declare schemas up front, so take the footer-derived `ts`
    * type from the batch tables' resolver
    * ([[graft.engine.Tables.eventsSchemaOf]], inferred once per file without
    * touching the session's conf) and declare [[Streams.eventSchema]] with that
    * `ts` encoding; both generations then normalize like the batch read
    * ([[graft.engine.Tables.normalizeEventTs]]).
    */
  private def replayStream(s: SparkSession, d: String): DataFrame = {
    // if the events file has not landed yet (the generic file-watch case —
    // the footer can only be read from a file already present), DEFER the
    // stream definition with a bounded poll until the file appears, then
    // resolve authoritatively. Guessing an encoding here would declare a
    // schema that a later-arriving file's footer can contradict, failing
    // (or misreading) the stream mid-flight — refuse rather than guess. A
    // missing file is a miss to poll: the resolver caches nothing for it.
    val tsType = {
      def peek() =
        try Some(graft.engine.Tables.eventsSchemaOf(s, s"$d/events.parquet")("ts").dataType)
        catch { case _: java.io.FileNotFoundException => None }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var t = peek()
      while (t.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200); t = peek()
      }
      t.getOrElse(throw new IllegalStateException(
        s"no events.parquet under $d after 10 s — cannot declare the " +
          "stream's ts encoding from its footer; refusing to guess"))
    }
    graft.engine.Tables.normalizeEventTs(s.readStream
      .schema(StructType(Streams.eventSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = tsType) else f)))
      .option("pathGlobFilter", "events.parquet")
      .parquet(d))
  }

  def replayEnriched(s: SparkSession, d: String): DataFrame =
    Replay.toParquet(EnrichCatalog.enrichedFrame(replayStream(s, d)),
      graft.engine.TempDirs.create("graft-replay")).orderBy("event_id")

  /** documents.parquet schema for the doc-stream replay (file streams must
    * declare schemas).
    */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents table pre-split into 4 files and replayed one file per
    * micro-batch (file boundaries never split a doc): the multi-batch doc
    * stream the span-decontam and heavy-hitter replays share.
    */
  private def documentsSplit4(s: SparkSession, d: String): DataFrame = {
    val src = graft.engine.FixtureDirs("documents-split4", d) { tmp =>
      graft.engine.Tables(s, d).documents.repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/docs")
    }
    s.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/docs")
  }

  /** The streaming-side quality gate: replay the documents table through a
    * file-source readStream → per-doc token count / quality score / gate
    * flag → checkpointed parquet sink. A pure narrow projection (no state,
    * no watermark) — the in-flight tier of the batch quality stage, tagging
    * low-quality docs before they ever land in the corpus. Oracled with
    * the same quality formula as the batch curation gate.
    */
  def replayDocQuality(s: SparkSession, d: String): DataFrame = {
    val text = col("text")
    val scored = s.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .select(col("doc_id"),
        graft.llm.TextOps.tokenCount(text).as("n_tokens"),
        graft.llm.TextOps.qualityScore(text).as("quality_score"))
      .withColumn("passes_gate", graft.llm.Curation.qualityGate)
    Replay.toParquet(scored, graft.engine.TempDirs.create("graft-doc-quality"))
      .orderBy("doc_id")
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** In-flight IVF-PQ encoding of an embedding stream: the 100 TB ingest
    * shape — embeddings land continuously and the stored index artifact
    * `(leaf cell, M-int code word)` is computed as they arrive, one
    * stateless codegen'd projection per row (tree argmins → residual
    * → M sliced code argmins), appended exactly-once through the
    * checkpointed file sink. No state store: encoding against a FITTED
    * model is embarrassingly per-row, which is exactly why an index build
    * separates fit (batch, control-plane) from encode (stream, data-plane).
    */
  def replayIvfPqEncode(s: SparkSession, d: String,
                        model: graft.llm.Similarity.TreeIvfPqModel): DataFrame = {
    val encoded = s.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(d)
      .transform(model.encode)
      // gate-boundary stringification of the code word (the driver's
      // pandas hash harness cannot sort raw array cells) — the stored
      // array-typed artifact path is spec-tested in PipelineOpsSpec
      .select(col("vec_id"), col("cell"),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))
    Replay.toParquet(encoded, graft.engine.TempDirs.create("graft-ivfpq-stream"))
      .orderBy("vec_id")
  }

  /** The ANN index as a STREAM-MAINTAINED serving artifact — the other
    * half of the ingest path: each micro-batch's embeddings are encoded
    * in-flight (leaf + code word; the fit stays a batch control plane)
    * and MERGED into a versioned parquet snapshot under the durable
    * `_LATEST` contract ([[readLatest]]/[[commitLatest]] — crash between
    * version write and marker commit resumes from the checkpoint exactly
    * like the CDC upsert snapshot). Merge is [[graft.ops.Cdc.mergeNewest]]
    * keyed on `vec_id` with the batch id as recency, so an at-least-once
    * re-delivery re-encodes to the identical row and replaces itself —
    * idempotent by construction. A reader holding `_LATEST` serves a
    * consistent index version while the stream commits the next one; the
    * final snapshot must equal the batch rebuild (same oracle chain as
    * `stream_ivfpq_encode`). Replay is forced through 4 micro-batches
    * (embeddings pre-split, maxFilesPerTrigger=1).
    */
  def replayIvfPqIndex(s: SparkSession, d: String,
                       model: graft.llm.Similarity.TreeIvfPqModel): DataFrame = {
    val base = graft.engine.TempDirs.create("graft-ivfpq-index")
    val src = graft.engine.FixtureDirs("embeddings-split4", d) { tmp =>
      graft.engine.Tables(s, d).embeddings.repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/emb")
    }
    val emb = s.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/emb")
    Replay.await(Replay.eachBatch(emb, s"$base/ckpt") { (batch, id) =>
      val enc = model.encode(batch)
        .select(col("vec_id"), col("cell"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .withColumn("batch_id", lit(id))
      val merged = readLatest(base) match {
        case None      => enc
        case Some(dir) => graft.ops.Cdc.mergeNewest(
          s.read.parquet(dir), enc, "vec_id", "batch_id", "cell")
      }
      merged.write.mode("overwrite").parquet(s"$base/v$id")
      commitLatest(base, s"v$id")
    })
    s.read.parquet(readLatest(base).getOrElse(sys.error("no batch ran")))
      .select(col("vec_id"), col("cell"), col("codes"))
      .orderBy("vec_id")
  }

  /** Durable snapshot-version pointer: `_LATEST` names the current version
    * dir, committed via write-temp-then-atomic-rename AFTER the version's
    * parquet lands. A crash between the two leaves `_LATEST` at the prior
    * version; the restarted stream re-runs the uncommitted batch from the
    * checkpoint and overwrites the orphaned dir — readers only ever see a
    * fully-written version. (Rename atomicity is the same contract HDFS
    * gives; on object stores the marker would be a conditional PUT.)
    */
  private def readLatest(base: String): Option[String] = {
    val p = java.nio.file.Paths.get(base, "_LATEST")
    if (Files.exists(p))
      Some(base + "/" + new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def commitLatest(base: String, version: String): Unit = {
    val tmp = java.nio.file.Paths.get(base, "_LATEST.tmp")
    Files.write(tmp, version.getBytes("UTF-8"))
    Files.move(tmp, java.nio.file.Paths.get(base, "_LATEST"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A keyed snapshot MAINTAINED by the stream: each micro-batch is
    * reduced to its newest row per user and merged into a versioned
    * parquet snapshot with [[graft.ops.Cdc.mergeNewest]] inside
    * foreachBatch — the streaming CDC shape (Delta/Iceberg MERGE per
    * batch) on plain directories. The current version is recorded ON DISK
    * by the [[readLatest]]/[[commitLatest]] `_LATEST` marker (not a
    * driver variable), so a killed-and-restarted query resumes its merge
    * chain from the last durably committed version. The replay is forced
    * through FOUR micro-batches (events pre-split into 8 files,
    * maxFilesPerTrigger=2 — multi-batch merge-chain semantics at half the
    * checkpoint/commit fsyncs; each batch still arrives as multiple files,
    * so within-batch newest-row reduction is exercised too), and because
    * mergeNewest is order-tolerant the final snapshot is the per-user
    * (ts, event_id) maximum regardless of how rows landed in batches —
    * which is exactly the batch QUALIFY row_number()=1 oracle.
    */
  def replayUpsertSnapshot(s: SparkSession, d: String): DataFrame =
    upsertSnapshotRun(s, d, graft.engine.TempDirs.create("graft-upsert-snap"))

  /** The resumable run: `base` carries the checkpoint, version dirs, and
    * `_LATEST` marker across invocations. `crashAtBatch`/`crashBeforeCommit`
    * are CdcSpec's fault-injection hooks — a deliberate failure either
    * between the version write and the marker commit (the window the
    * marker protocol exists for) or right after the commit.
    */
  private[graft] def upsertSnapshotRun(s: SparkSession, d: String, base: String,
      crashAtBatch: Option[Long] = None,
      crashBeforeCommit: Boolean = false, feed: Boolean = false,
      crashBeforePublish: Boolean = false,
      maxFilesPerTrigger: Int = 2): DataFrame = {
    val src = graft.engine.FixtureDirs("events-split8", d) { tmp =>
      graft.engine.Tables(s, d).events.repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/ev")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val ev = s.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(s"$src/ev")
    Replay.await(Replay.eachBatch(ev, s"$base/ckpt") { (batch, id) =>
      val committed = readLatest(base)
      if (committed.contains(s"$base/v$id")) {
        // this batch already committed its version — the crash landed
        // between the marker commit and the CHECKPOINT commit, so the
        // source replays it. The snapshot is done; only the feed
        // publication may still be owed (the stage is complete by the
        // protocol order below: marker == v_id implies the staged change
        // set finished writing before the commit).
        if (feed) publishChanges(base, id)
      } else {
        val newest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val prev = committed.map(dir => s.read.parquet(dir))
          .getOrElse(newest.limit(0))
        val winners = graft.ops.Cdc.newestWinners(
          prev, newest, "user_id", "ts", "event_id")
        val merged = prev
          .join(broadcast(winners.select("user_id")), Seq("user_id"), "left_anti")
          .unionByName(winners)
        // change-feed protocol (exactly-once publication on an
        // at-least-once replay): stage the change set BEFORE the marker
        // commit, publish by ONE atomic rename after it — a crash
        // anywhere re-runs into either a full recompute (marker still at
        // the prior version: identical rows overwrite the orphans) or
        // the already-committed branch above (publish-if-absent)
        if (feed)
          graft.ops.Cdc.mergeChangeSet(prev, winners, "user_id")
            .withColumn("version", lit(id))
            .write.mode("overwrite").parquet(s"$base/stage/c$id")
        merged.write.mode("overwrite").parquet(s"$base/v$id")
        if (crashAtBatch.contains(id) && crashBeforeCommit)
          throw new RuntimeException(s"injected crash before commit of v$id")
        commitLatest(base, s"v$id")
        if (crashAtBatch.contains(id) && crashBeforePublish)
          throw new RuntimeException(
            s"injected crash after commit, before publish of v$id")
        if (feed) publishChanges(base, id)
        if (crashAtBatch.contains(id) && !crashBeforeCommit && !crashBeforePublish)
          throw new RuntimeException(s"injected crash after commit of v$id")
      }
    })
    s.read.parquet(readLatest(base).getOrElse(sys.error("no batch ran")))
      .select(col("user_id"), col("event_id"),
        graft.ops.Relational.tsStr(col("ts")).as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Idempotent, exactly-once publication of a committed version's change
    * set into the tailable `feed/` dir: the staged parquet moves with ONE
    * atomic same-filesystem rename, guarded by an existence check. A
    * tailing file-source readStream therefore only ever lists complete,
    * committed change sets — never a half-written directory, never a
    * duplicate after a crash-replay.
    */
  private def publishChanges(base: String, id: Long): Unit = {
    val dst = java.nio.file.Paths.get(base, "feed", s"c$id")
    if (!Files.exists(dst)) {
      val staged = java.nio.file.Paths.get(base, "stage", s"c$id")
      // The already-committed replay branch reaches here assuming the stage
      // exists; a snapshot previously run with feed=false (or a cleaned
      // stage dir) would otherwise surface as a bare NoSuchFileException
      // from Files.move.
      require(Files.exists(staged),
        s"change set v$id was never staged under $base/stage — the prior run " +
          s"committed this version without feed mode (or the stage dir was " +
          s"cleaned); re-run the snapshot from scratch with feed=true")
      Files.createDirectories(dst.getParent)
      Files.move(staged, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The maintained snapshot's CHANGE FEED as a first-class streaming
    * source — the Delta CDF shape on plain directories, closing the CDC
    * loop's read side: the upsert replay (feed mode) derives each
    * version's change set from the merge's own winners
    * ([[graft.ops.Cdc.mergeChangeSet]] — `(key, change_type, old, new,
    * version)`, no snapshot diffing) and publishes it exactly-once under
    * `feed/`; a DOWNSTREAM consumer tails that dir with its own
    * file-source readStream (what a derived index, cache invalidator, or
    * replica applies), folds the entries per key by version, and must
    * reconstruct exactly the final snapshot — proving the feed is
    * complete, in-order, and duplicate-free end to end. Crash-resume of
    * the publication protocol is fault-injected in `CdcSpec`.
    */
  def replayChangeFeed(s: SparkSession, d: String): DataFrame = withStateParallelism(s, 4) {
    // two sequential streams (upsert replay + feed tail): the replay-volume
    // shuffle/commit rationale of withStateParallelism applies twice over.
    // Gate-scale economy (round-9): 3 versions (8 files / mFPT=3 -> batches
    // of 3,3,2) at 4 shuffle partitions instead of the upsert gate's 4
    // versions x 8 — multi-version in-order fold is proven from 3 versions
    // exactly as from 4, and each version costs 2 parquet writes + a merge,
    // so the feed replay is version-count-bound at fixture scale
    val base = graft.engine.TempDirs.create("graft-change-feed")
    upsertSnapshotRun(s, d, base, feed = true, maxFilesPerTrigger = 3)
    // one published directory per version: read through a one-level glob
    // so both the schema probe and the tailing stream list the c*/part
    // files (a bare dir-of-dirs path infers no schema)
    val feedDir = s"$base/feed/*"
    // NOTE: the schema probe below makes Spark's FileStreamSink.hasMetadata
    // stat the literal glob string and log a WARN-level FileNotFoundException
    // ("feed/* does not exist") WITH a full stack trace before falling back
    // to normal glob resolution — benign and expected; the read succeeds.
    Replay.await(Replay.appendParquet(
      s.readStream.schema(s.read.parquet(feedDir).schema).parquet(feedDir),
      s"$base/feedsink", s"$base/feedckpt"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("version").desc)
    s.read.parquet(s"$base/feedsink")
      .withColumn("__rn", row_number().over(wv)).filter(col("__rn") === 1)
      .select(col("user_id"), col("new.event_id").as("event_id"),
        graft.ops.Relational.tsStr(col("new.ts")).as("ts"),
        col("new.event_type").as("event_type"), col("new.value").as("value"))
      .orderBy("user_id")
  }

  /** Streaming PII redaction through the gate: the document replay stream
    * with the SAME deterministic augmentation and redaction projection as
    * the batch `pii_redacted` query — redaction is stateless, so the
    * compliance pass runs in-flight at ingest instead of as a later
    * corpus rewrite. Oracled by the batch SQL.
    */
  def replayPiiRedact(s: SparkSession, d: String): DataFrame = {
    val red = graft.llm.Pii.redact(col("text"))
    val redacted = graft.llm.PiiCatalog.augmented(
        s.readStream.schema(docSchema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(d))
      .select(col("doc_id"), length(red).cast("long").as("red_len"),
        md5(red).as("red_md5"))
    Replay.toParquet(redacted, graft.engine.TempDirs.create("graft-pii-stream"))
      .orderBy("doc_id")
  }

  /** Streaming span-level decontamination — the ingest half of
    * [[graft.llm.Dedup.spanDecontam]]: each micro-batch of arriving
    * documents is winnow-fingerprinted and probed against the STATIC
    * benchmark set inside foreachBatch (the winnow's per-doc window is a
    * batch plan, legal there; results are per-doc local, so any
    * doc-complete batching reproduces the batch answer — the oracle is the
    * batch span_decontam SQL verbatim). Replay is forced through 4
    * micro-batches (documents pre-split, maxFilesPerTrigger=1; file
    * boundaries never split a doc). The shape a training-data pipeline
    * runs at ingest: quoted eval items are flagged with positions before
    * the doc ever lands in the corpus.
    */
  def replaySpanDecontam(s: SparkSession, d: String): DataFrame = {
    val base = graft.engine.TempDirs.create("graft-span-decontam")
    val benchSrc = graft.llm.CorpusCatalog.BenchmarkSource
    val bench = graft.engine.Tables(s, d).documents
      .filter(col("source") === benchSrc)
    val docs = documentsSplit4(s, d)
    Replay.await(Replay.eachBatch(docs, s"$base/ckpt") { (batch, _) =>
      graft.llm.Dedup.spanDecontam(
          batch.filter(col("source") =!= benchSrc), bench, "doc_id", "text",
          graft.llm.TextCatalog.DupSpanK, graft.llm.TextCatalog.WinnowW)
        .write.mode("append").parquet(s"$base/sink")
    })
    s.read.parquet(s"$base/sink").orderBy("doc_id", "span_id")
  }

  /** Stream-static dimension join through the gate: the event replay
    * stream enriched against the STATIC nation table (a declared
    * `user_id mod 25` home-nation mapping — the fixture's stand-in for a
    * user→region dim). Stream-static joins are stateless — the dim
    * broadcasts into every micro-batch, the standard shape for enriching
    * an event stream with slowly-changing reference data; at scale the dim
    * refreshes per batch without restarting the query. Oracled as the same
    * batch join.
    */
  def replayDimJoin(s: SparkSession, d: String): DataFrame = {
    val dim = broadcast(graft.engine.Tables(s, d).nation
      .select(col("n_nationkey"), col("n_name").as("home_nation")))
    val joined = replayStream(s, d)
      .withColumn("n_nationkey", pmod(col("user_id"), lit(25L)).cast("int"))
      .join(dim, Seq("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("home_nation"))
    Replay.toParquet(joined, graft.engine.TempDirs.create("graft-dim-join"))
      .orderBy("event_id")
  }

  /** Replay the corpus fingerprints through the stateful streaming
    * near-dup operator ([[Streams.simHashNearDupFlags]]) and return the
    * per-doc verdicts: is each doc within hamming ≤ 3 of any EARLIER doc
    * (id order, via a synthetic id-derived event time)? The fingerprints
    * are batch-computed once per (JVM, source dir) — the aggregate that
    * builds them has no streaming form — and the banded-LSH state check is
    * EXACT (see the operator's scaladoc), so the oracle is the plain
    * quadratic SQL over the same simhash table.
    */
  def replaySimHashDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.timestamp_micros
    val dir = graft.engine.FixtureDirs("simhash-fp", d) { tmp =>
      graft.llm.TextOps.simHashAgg(
          graft.engine.Tables(s, d).documents, "doc_id", "text")
        // +1: the initial stream watermark is epoch 0 and its late-row
        // filter is strict, so a doc_id-0 row AT epoch 0 would be dropped
        .select(col("doc_id"),
          timestamp_micros((col("doc_id") + 1) * 1000000L).as("ts"),
          col("fp_simhash").as("fp"))
        .write.mode("overwrite").parquet(tmp)
    }
    val fpSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("fp", LongType)))
    // see withStateParallelism: one flatMapGroupsWithState store/partition
    val flags = withStateParallelism(s, 8) {
      Replay.toMemory(Streams.simHashNearDupFlags(
        s.readStream.schema(fpSchema).parquet(dir), "doc_id", "fp").toDF(), "append")
    }
    Streams.nearDupVerdicts(flags)
      .withColumnRenamed("event_id", "doc_id")
      .orderBy("doc_id")
  }

  /** The Misra-Gries heavy-hitter summary MAINTAINED BY A STREAM: the
    * documents replay through a COMPLETE-mode streaming aggregation whose
    * aggregate is the custom [[graft.functions.MgTopK]] — each micro-batch
    * computes map-side partials and the state store carries the serialized
    * summary buffer across batches (the PODS'12 merge chain through real
    * checkpointed state, not a batch fold). The corpus is pre-split into 4
    * files arriving one per batch, so the cross-batch merge path is
    * genuinely exercised. The MG guarantees are merge-tree-independent, so
    * the final summary satisfies the same provable derivatives as the
    * batch sketch — [[graft.llm.TextOps.heavyHitterFlags]] checks it
    * against the exact batch side, and the oracle is the batch
    * `heavy_hitter_bounds` SQL verbatim.
    */
  def replayHeavyHitters(s: SparkSession, d: String, k: Int, topM: Int): DataFrame = {
    // see withStateParallelism: global agg state is ONE summary buffer
    val sketch = withStateParallelism(s, 8) {
      Replay.toMemory(documentsSplit4(s, d)
        .select(explode(graft.llm.TextOps.tokens(col("text"))).as("term"))
        .agg(graft.functions.MgTopK(col("term"), k).as("sketch")), "complete")
    }
    graft.llm.TextOps.heavyHitterFlags(
      graft.engine.Tables(s, d).documents, "text", sketch, k, topM)
  }

  /** Stage `df` as a single parquet FILE named `name` inside `tmp` with a
    * pinned mtime — the file stream source replays staged files in mtime
    * order, so the pin is what makes multi-batch arrival deterministic.
    * Fails loudly on filesystems that reject mtime updates (a silent
    * refusal would reorder the replay and corrupt watermark semantics).
    */
  private def stageFile(tmp: String, df: DataFrame, name: String, mtime: Long): Unit = {
    val stage = new java.io.File(tmp, s"__stage_$name")
    df.coalesce(1).write.parquet(stage.toString)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(tmp, name)
    Files.move(part.toPath, dst.toPath)
    stage.listFiles().foreach(_.delete()); stage.delete()
    require(dst.setLastModified(mtime), s"cannot set mtime on $dst")
  }

  /** Streaming exact ingest dedup run as a REAL stream inside the gate:
    * the corpus stages as two delivery batches — the second an exact
    * re-delivery of the first (the at-least-once ingest shape) — replayed
    * one file per micro-batch in mtime order, so every duplicate arrives
    * in a LATER micro-batch and can only be dropped by
    * [[Streams.dedupStream]]'s keyed state store, never by within-batch
    * dedup. The output projection is delivery-invariant (doc_id + content
    * hash), so the oracle is one row per document. Event times compress to
    * a 10-minute spread: key state stays strictly inside the 1 h watermark
    * horizon at every SF — the state-bound contract (a key's state expires
    * once the watermark proves no duplicate can still collide with it).
    */
  def replayIngestDedup(s: SparkSession, d: String): DataFrame = {
    val dir = graft.engine.FixtureDirs("ingest-dedup", d) { tmp =>
      val docs = graft.engine.Tables(s, d).documents
        // +1: the initial watermark is epoch 0 with a strict late-row filter
        .select(col("doc_id"),
          timestamp_micros((col("doc_id") % 600 + 1) * 1000000L).as("ts"),
          md5(col("text")).as("content_md5"))
      val t0 = System.currentTimeMillis() - 240000
      stageFile(tmp, docs, "delivery1.parquet", t0)
      stageFile(tmp, docs, "delivery2.parquet", t0 + 60000)
    }
    val ingestSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("content_md5", StringType)))
    val base = graft.engine.TempDirs.create("graft-ingest-dedup")
    // see withStateParallelism: dedup key-state commits x 2 batches
    withStateParallelism(s, 8) {
      Replay.toParquet(Streams.dedupStream(
          s.readStream.schema(ingestSchema).option("maxFilesPerTrigger", "1")
            .parquet(dir),
          Seq("doc_id"))
        .select(col("doc_id"), col("content_md5")), base)
    }.orderBy("doc_id")
  }

  /** The watermarked stream-stream interval join run as a REAL stream
    * inside the gate: clicks and errors replay as two independent
    * file-source streams, [[Streams.joinWithinWindow]] pairs each click
    * with same-user errors inside [click.ts, click.ts + 4h], and the
    * joined rows land in a checkpointed parquet sink. With AvailableNow
    * replay every row arrives within one micro-batch, so the inner join
    * emits the complete pair set — the oracle is the plain batch
    * inequality join (inclusive bounds, unlike the batch `rangeJoin`'s
    * left-exclusive window).
    */
  def replayRangeJoin(s: SparkSession, d: String): DataFrame = {
    val base = graft.engine.TempDirs.create("graft-range-join")
    val clicks = replayStream(s, d).filter(col("event_type") === "click")
    val errors = replayStream(s, d).filter(col("event_type") === "error")
    // see withStateParallelism: 4 stores/partition x per-batch commits
    withStateParallelism(s, 8) {
      Replay.toParquet(Streams.joinWithinWindow(clicks, errors, "user_id", "4 hours")
        .select(col("l_id").as("event_id"), col("user_id"),
          graft.ops.Relational.tsStr(col("l_ts")).as("ts"),
          col("r_id").as("err_event_id"),
          graft.ops.Relational.tsStr(col("r_ts")).as("err_ts"),
          col("r_value").as("err_value")), base)
    }.orderBy("event_id", "err_event_id")
  }

  /** The streaming LEFT OUTER interval join run as a REAL stream — the
    * semantically hard half of the stream-stream join surface: an
    * unmatched click emits its null-padded row only when the WATERMARK
    * passes its join window (state expiry is the emission trigger, not
    * batch end), so this gate proves eviction-time emission, not just
    * matching. The staged flush sentinels ([[sessionReplayDir]]) ride
    * BOTH input streams — the global watermark is the min across the
    * join's inputs, so a sentinel on one side only would stall it — and
    * drive event time far past every join window: with a 45-minute
    * window (< the sentinel ladder's steps) every real left row is
    * evicted and emitted before the source quiesces, making the sink
    * exactly the batch left join, null-padded rows included. Sentinel
    * rows themselves join nothing (user_id −1, far-future ts) and are
    * filtered from the sink by type.
    */
  def replayLeftJoin(s: SparkSession, d: String): DataFrame = {
    val dir = sessionReplayDir(s, d)
    val base = graft.engine.TempDirs.create("graft-left-join")
    // maxFilesPerTrigger=2 folds the sentinel ladder into TWO batches:
    // batch 1 = events + flush1 (real pairs join and emit; flush1's
    // far-future ts sets the next watermark), batch 2 = flush2 (watermark
    // = maxTs + 2h - 45min delay > every join-window end at <= maxTs +
    // 45min, so every unmatched left row evicts and emits here). Eviction-
    // time emission is still what the gate proves — unmatched rows emit a
    // batch AFTER they arrived, on watermark passage — at 2/3 of the
    // 3-batch ladder's state-commit floor.
    def side(types: Seq[String]) =
      s.readStream.schema(Streams.eventSchema).option("maxFilesPerTrigger", "2")
        .parquet(dir).filter(col("event_type").isin(types: _*))
    // see withStateParallelism: 4 stores/partition x per-batch commits —
    // the real join work all lands in batch 1 (every real row is in the
    // first staged file) and a partition still holds only tens of
    // thousands of rows at sf0.1
    withStateParallelism(s, 4) {
      // NO type filter inside the streaming plan: a left-side predicate on
      // a left-outer join is pushed below the join INTO the left source
      // scan (measured: the sentinel rows died at the scan, the left
      // watermark froze at its batch-0 value, and the last 45 minutes of
      // unmatched clicks never flushed). The sentinels are user_id -1, so
      // the batch read-back below filters them without touching the plan.
      Replay.toParquet(Streams.joinWithinWindow(
          side(Seq("click", "flush")), side(Seq("error", "flush")),
          "user_id", "45 minutes", "leftOuter")
        .select(col("l_id").as("event_id"), col("user_id"),
          graft.ops.Relational.tsStr(col("l_ts")).as("ts"),
          col("l_value").as("click_value"),
          col("r_id").as("err_event_id"),
          graft.ops.Relational.tsStr(col("r_ts")).as("err_ts"),
          col("r_value").as("err_value")), base)
    }.filter(col("user_id") >= 0).orderBy("event_id", "err_event_id")
  }

  /** Stage (once per JVM × source dir) the session-replay input: the
    * normalized events as one parquet file, followed by two "watermark
    * flush" sentinel files (user_id = -1, each a single far-future event).
    * Append-mode session aggregation only emits a session once the
    * watermark passes its end, and a batch evicts with the watermark
    * computed from event time through the END of the previous batch — so
    * one sentinel advances event time past every real session (flush1 =
    * max ts + 2h > max session end + delay) and a second forces the batch
    * that actually emits them. This is the production pattern for draining a
    * watermarked aggregation on a quiescent source: emission needs event-
    * time progress, not wall-clock. Modification times force the
    * file-source order events → flush1 → flush2.
    */
  private def sessionReplayDir(s: SparkSession, d: String): String =
    graft.engine.FixtureDirs("session-replay", d) { tmp =>
      val ev = graft.engine.Tables(s, d).events
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      def sentinel(id: Long, offsetMs: Long): DataFrame =
        s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(
            id, new java.sql.Timestamp(maxTs.getTime + offsetMs), -1L, "flush",
            0.0, "{}")),
          Streams.eventSchema)
      val t0 = System.currentTimeMillis() - 240000
      stageFile(tmp, ev, "events.parquet", t0)
      stageFile(tmp, sentinel(-1L, 2L * 3600 * 1000), "flush1.parquet", t0 + 60000)
      stageFile(tmp, sentinel(-2L, 4L * 3600 * 1000), "flush2.parquet", t0 + 120000)
    }

  /** [[Streams.userSessions]] run as a REAL watermarked APPEND stream
    * inside the gate — the production sessionization shape where a session
    * row is emitted exactly once (when the watermark passes its end) and
    * its state is evicted, so the state store holds only the watermark
    * horizon's open sessions, not history. maxFilesPerTrigger=1 forces the
    * events / flush1 / flush2 batch sequence ([[sessionReplayDir]]). The
    * sentinel user is filtered at sink READ-BACK, deliberately not in the
    * stream: a `user_id >= 0` filter above the aggregate is pushed by
    * Catalyst below it into the parquet scan (user_id is a grouping key),
    * which eliminates the sentinel rows before the EventTimeWatermark node
    * ever sees them — the watermark then never advances and the tail
    * sessions never emit (measured: stuck at max ts - 1h, two sessions
    * short). Oracle: the batch `user_sessions` gaps-and-islands SQL —
    * proving the append-mode emission is COMPLETE over the real sessions,
    * not just consistent on what it happened to emit.
    */
  def replaySessionWindows(s: SparkSession, d: String): DataFrame = {
    val dir = sessionReplayDir(s, d)
    val base = graft.engine.TempDirs.create("graft-session-win")
    // see withStateParallelism: session-window state commits x 3 batches
    withStateParallelism(s, 8) {
      Replay.toParquet(Streams.userSessions(
          s.readStream.schema(Streams.eventSchema).option("maxFilesPerTrigger", "1")
            .parquet(dir),
          "30 minutes")
        .select(col("user_id"),
          graft.ops.Relational.tsStr(col("session_start")).as("session_start"),
          col("n_events"), col("session_value")), base)
    }.filter(col("user_id") >= 0).orderBy("user_id", "session_start")
  }

  /** The age-preferences view shape over the ENRICHED sink: the enriched
    * `amount_category` plays the bucketing key (so a green row proves the
    * enrichment ran through the stream), `event_type` plays category —
    * same cube → window → top-1 pipeline as every reference view.
    */
  def streamViewState(sink: DataFrame): DataFrame = {
    val b = sink.select(
      col("amount_category"),
      col("event_type").as("category"),
      col("value").as("amount"),
      Enrich.rating(col("props")).cast("double").as("rating"))
    Views.preferencesFromCube(
      Views.categoryCube(b, Seq("amount_category")),
      "amount_category", withRating = true)
  }

  /** The reference's per-poll full view recompute (streamlit_app.py:218-285)
    * run as a REAL stream inside the gate: replay events through the
    * foreachBatch consumer — enrich → append → recompute the view over the
    * entire sink each micro-batch — and return the view's final state.
    */
  def replayViewRefresh(s: SparkSession, d: String): DataFrame = {
    val base = graft.engine.TempDirs.create("graft-view-refresh")
    @volatile var state: DataFrame = null
    Replay.await(Streams.consumeWithViewRefresh(
      s, replayStream(s, d), s"$base/sink", s"$base/ckpt",
      full => state = streamViewState(full),
      Trigger.AvailableNow()))
    require(state != null, "view refresh never ran — empty replay stream")
    state
  }

  /** Replay events through the STATEFUL streaming aggregation
    * ([[Streams.incrementalCube]], complete mode — counts and decimal sums
    * compose associatively, so the maintained state is exactly the batch
    * cube) and return the final state. The memory sink holds
    * group-cardinality rows (segments × event types), a serving-edge
    * footprint. Deriving views from this maintained cube is the scale path
    * that replaces per-batch full recompute once the sink outgrows the
    * refresh budget.
    */
  private def replayCube(s: SparkSession, d: String, keys: Seq[String]): DataFrame = {
    val enriched = Streams.enriched(replayStream(s, d))
      .withColumn("category", col("event_type"))
    Replay.toMemory(Streams.incrementalCube(enriched, keys), "complete")
  }

  def replayIncrementalView(s: SparkSession, d: String): DataFrame =
    Views.preferencesFromCube(
      replayCube(s, d, Seq("customer_segment", "category")),
      "customer_segment", withRating = false)

  /** Top-3 ordered category arrays derived from the SAME maintained cube —
    * the array-valued view (v_location_preferences shape) over
    * incrementally-maintained state; array stringified at the oracle
    * boundary like v_location_preferences.
    */
  def replayIncrementalTopK(s: SparkSession, d: String): DataFrame =
    Views.topCategoriesFromCube(
        replayCube(s, d, Seq("customer_segment", "category")),
        "customer_segment", 3)
      .withColumn("top_categories", concat_ws(",", col("top_categories")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_enriched_replay"  -> ((s, d) => replayEnriched(s, d)),
    "stream_view_refresh"     -> ((s, d) => replayViewRefresh(s, d)),
    "stream_incremental_view" -> ((s, d) => replayIncrementalView(s, d)),
    "stream_incremental_topk" -> ((s, d) => replayIncrementalTopK(s, d)),
    "stream_doc_quality"      -> ((s, d) => replayDocQuality(s, d)),
    "stream_pii_redacted"     -> ((s, d) => replayPiiRedact(s, d)),
    "stream_upsert_snapshot"  -> ((s, d) => replayUpsertSnapshot(s, d)),

    // the CDC read side: tail the snapshot's published change feed with a
    // second readStream and fold it back into the final snapshot — feed
    // replay must reconstruct exactly the batch truth
    "stream_change_feed"      -> ((s, d) => replayChangeFeed(s, d)),

    // span-level decontamination at INGEST: per-batch winnow fingerprints
    // probed against the static benchmark set; union over batches must
    // equal the batch pass (per-doc locality), oracle = the batch SQL
    "stream_span_decontam"    -> ((s, d) => replaySpanDecontam(s, d)),
    "stream_dim_join"         -> ((s, d) => replayDimJoin(s, d)),
    "stream_simhash_dedup"    -> ((s, d) => replaySimHashDedup(s, d)),
    "stream_ingest_dedup"     -> ((s, d) => replayIngestDedup(s, d)),
    "stream_range_join"       -> ((s, d) => replayRangeJoin(s, d)),
    "stream_left_join"        -> ((s, d) => replayLeftJoin(s, d)),
    "stream_session_windows"  -> ((s, d) => replaySessionWindows(s, d)),

    // the custom MG aggregate run INSIDE a complete-mode streaming
    // aggregation: the state store carries the serialized summary across
    // 4 forced micro-batches; flags checked against the exact batch side
    "stream_heavy_hitters"    -> ((s, d) => replayHeavyHitters(s, d,
      graft.llm.TextCatalog.MgK, graft.llm.TextCatalog.MgTopM)),

    // the sliding-window aggregate through the SAME code path streaming
    // uses (withWatermark is a declared no-op on batch input): each event
    // lands in size/slide = 4 overlapping windows
    "sliding_window_counts"   -> ((s, d) =>
      Streams.slidingWindowCounts(graft.engine.Tables(s, d).events)
        .select(graft.ops.Relational.tsStr(col("bucket")).as("bucket"),
          col("n"), col("total_value"))
        .orderBy("bucket")),
  )

  def oracleSql: Map[String, String] = Map(
    // identical semantics to the batch path — reuse its oracle verbatim
    "stream_enriched_replay" -> EnrichCatalog.oracleSql("enriched_orders"),

    // append-mode sessionization drains to exactly the batch session set
    "stream_session_windows" -> graft.ops.ServingCatalog.oracleSql("user_sessions"),

    // the stream-maintained MG summary satisfies the SAME provable
    // derivatives as the batch sketch (merge-tree independence)
    "stream_heavy_hitters" -> graft.llm.TextCatalog.oracleSql("heavy_hitter_bounds"),

    // ingest-side span decontamination unions doc-local results over
    // batches — identical to the batch pass by construction
    "stream_span_decontam" -> graft.llm.CorpusCatalog.oracleSql("span_decontam"),

    // the stream-static join: same modulo mapping, plain batch join
    "stream_dim_join" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  n.n_name AS home_nation
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |ORDER BY e.event_id""".stripMargin,

    // the 1h/15min sliding window: each event belongs to the 4 grid-aligned
    // windows starting at floor(ts/15min)*15min - k*15min, k = 0..3
    "sliding_window_counts" ->
      s"""SELECT strftime(make_timestamp(
         |    CAST((floor(epoch(ts) / 900) * 900 - k * 900) * 1000000 AS BIGINT)),
         |    '%Y-%m-%d %H:%M:%S') AS bucket,
         |  count(*) AS n,
         |  ${Catalog.moneySumSql("value")} AS total_value
         |FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the stream-stream join's complete pair set vs the plain batch
    // inequality join over the same events (bounds inclusive on both ends,
    // matching joinWithinWindow)
    "stream_range_join" ->
      """SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  e.event_id AS err_event_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  e.value AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 4 HOUR
        |ORDER BY c.event_id, e.event_id""".stripMargin,

    // the watermark-expiry left join vs the plain batch left join: the
    // null-padded rows are the ones only state eviction can emit
    "stream_left_join" ->
      """SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  c.value AS click_value,
        |  e.event_id AS err_event_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_ts,
        |  e.value AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 45 MINUTE
        |ORDER BY c.event_id, e.event_id""".stripMargin,

    // the streaming state machine vs the plain quadratic definition: a doc
    // is a near-dup iff an earlier doc's simhash is within 3 bits
    "stream_simhash_dedup" ->
      s"""WITH ${graft.llm.OracleSql.simhashCtes}
         |SELECT a.doc_id,
         |  EXISTS (SELECT 1 FROM simhash b
         |          WHERE b.doc_id < a.doc_id
         |            AND bit_count(xor(a.fp_simhash, b.fp_simhash)) <= 3)
         |    AS is_near_dup
         |FROM simhash a ORDER BY a.doc_id""".stripMargin,

    // identical semantics to the batch redaction — reuse its oracle
    "stream_pii_redacted" -> graft.llm.PiiCatalog.oracleSql("pii_redacted"),

    // delivery-invariant projection: re-delivered rows are byte-identical,
    // so the deduped stream is exactly one row per document
    "stream_ingest_dedup" ->
      """SELECT doc_id, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the maintained snapshot must converge to the per-user newest event
    // no matter how the replay was batched
    "stream_upsert_snapshot" ->
      """SELECT user_id, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
        |FROM events
        |QUALIFY row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // folding the published change feed (newest version per key, expand
    // its `new` row) must reconstruct the final snapshot — which is the
    // per-user newest event, batch-boundary-independent like the snapshot
    "stream_change_feed" ->
      """SELECT user_id, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, value
        |FROM events
        |QUALIFY row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // the batch quality formula over the whole documents table — the
    // stream's narrow projection must reproduce it exactly
    "stream_doc_quality" ->
      s"""WITH t AS (${graft.llm.OracleSql.docTokens})
         |SELECT doc_id, len(w) AS n_tokens,
         |  ${graft.llm.TextCatalog.qualitySql}
         |    AS quality_score,
         |  ${graft.llm.TextCatalog.qualityGateSql} AS passes_gate
         |FROM t ORDER BY doc_id""".stripMargin,

    // the view over the enriched stream, derived from raw events with the
    // same declared enrichment constants (mirrors ViewsCatalog.prefOracle)
    "stream_view_refresh" ->
      s"""WITH b AS (
         |  SELECT ${EnrichCatalog.amountCaseSql} AS amount_category,
         |         event_type AS category,
         |         value AS amount,
         |         CAST(json_extract_string(props, '$$.k') AS BIGINT) % 5 + 1 AS rating
         |  FROM events
         |), stats AS (
         |  SELECT amount_category, count(*) AS orders,
         |         ${Catalog.moneyAvgSql("amount")} AS avg_spend,
         |         round(CAST(sum(rating) AS DOUBLE) / count(*), 4) AS avg_rating
         |  FROM b GROUP BY amount_category
         |), top AS (
         |  SELECT amount_category, category, count(*) AS category_count
         |  FROM b GROUP BY amount_category, category
         |  QUALIFY row_number() OVER (PARTITION BY amount_category
         |    ORDER BY category_count DESC, category ASC) = 1
         |)
         |SELECT s.amount_category, s.orders, s.avg_spend, s.avg_rating,
         |       t.category AS top_category
         |FROM stats s LEFT JOIN top t USING (amount_category)
         |ORDER BY s.amount_category""".stripMargin,

    // the same preferences-view semantics, maintained incrementally: the
    // oracle is the plain batch SQL — the whole point is that the stateful
    // stream's final cube derives the identical view
    "stream_incremental_view" ->
      s"""WITH $incrementalBaseCtes, top AS (
         |  SELECT customer_segment, category, count(*) AS category_count
         |  FROM b GROUP BY customer_segment, category
         |  QUALIFY row_number() OVER (PARTITION BY customer_segment
         |    ORDER BY category_count DESC, category ASC) = 1
         |)
         |SELECT s.customer_segment, s.orders, s.avg_spend,
         |       t.category AS top_category
         |FROM stats s LEFT JOIN top t USING (customer_segment)
         |ORDER BY s.customer_segment""".stripMargin,

    "stream_incremental_topk" ->
      s"""WITH $incrementalBaseCtes, top3 AS (
         |  SELECT customer_segment, category, count(*) AS category_count
         |  FROM b GROUP BY customer_segment, category
         |  QUALIFY row_number() OVER (PARTITION BY customer_segment
         |    ORDER BY category_count DESC, category ASC) <= 3
         |)
         |SELECT s.customer_segment, s.orders, s.avg_spend,
         |       array_to_string(
         |         array_agg(t.category ORDER BY t.category_count DESC, t.category ASC),
         |         ',') AS top_categories
         |FROM stats s LEFT JOIN top3 t USING (customer_segment)
         |GROUP BY s.customer_segment, s.orders, s.avg_spend
         |ORDER BY s.customer_segment""".stripMargin,
  )

  /** Shared CTE prefix of both incremental-view oracles: the segment/
    * category/amount mapping of raw events plus the per-segment stats.
    */
  private lazy val incrementalBaseCtes: String =
    s"""b AS (
       |  SELECT ${EnrichCatalog.segmentCaseSql} AS customer_segment,
       |         event_type AS category,
       |         value AS amount
       |  FROM events
       |), stats AS (
       |  SELECT customer_segment, count(*) AS orders,
       |         ${Catalog.moneyAvgSql("amount")} AS avg_spend
       |  FROM b GROUP BY customer_segment
       |)""".stripMargin
}
