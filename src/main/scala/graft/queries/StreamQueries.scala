package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.engine.{Sinks, Tables}
import graft.streaming.Streaming

/** The streaming surface under the DuckDB hash gate.
  *
  * Every other streaming contract in this repo is spec-pinned
  * (StreamingSpec / StreamSoak); these two rows put STREAMING-PRODUCED
  * STATE itself under the driver's oracle compare. The device is the
  * sinks' own batch-equivalence contracts: each query splits the
  * documents table into interleaved micro-batch files, drains them
  * through the real sink (`Trigger.AvailableNow`, one file per
  * trigger), and returns the final STORE — which the contract proves
  * equal to a batch computation over the union, so the oracle can
  * state that batch answer in ANSI SQL. Any admission-order
  * sensitivity, lost merge, or store-maintenance slip surfaces as a
  * hash mismatch on the store contents.
  *
  * The micro-batch split keys on doc_id % nSplits, so every batch
  * spans the whole id range: whatever order the file source picks,
  * lower-id documents arrive after higher-id duplicates were admitted
  * — the out-of-order case — and the final state is order-invariant
  * anyway (q105 by max-merge idempotence, q106 by one compact pass).
  *
  * Per-invocation stores live under a fresh directory beneath ONE
  * per-JVM session root that a shutdown hook deletes recursively
  * (r16 ADVICE: the returned frame reads its store lazily, so the
  * invocation cannot delete its own directory — but Bench prewarm +
  * passes, Verify, and the smoke tests each create a set, and
  * leaving them under java.io.tmpdir accumulated unbounded disk
  * across sessions). */
object StreamQueries {

  private val nSplits = 4

  /** One tmp root per JVM, removed (recursively) at exit. */
  private lazy val sessionRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_session")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => try { java.nio.file.Files.deleteIfExists(p); () }
            catch { case scala.util.control.NonFatal(_) => () })
      } catch { case scala.util.control.NonFatal(_) => () }))
    root
  }

  /** Write each slice as exactly ONE parquet file under `in`, named
    * `sliceNN.parquet` with strictly increasing modification times —
    * FileStreamSource admits new files oldest-mtime-first (latestFirst
    * defaults false), so a maxFilesPerTrigger=1 stream over `in`
    * drains them in slice order within ONE stream lifetime. The slice
    * writes are independent jobs and run CONCURRENTLY
    * (`Sinks.concurrently`, so they carry the caller's local
    * properties); the rename+setTimes pass afterwards is pure
    * driver-side FS metadata, so the pinned order costs nothing. */
  private def writeOrderedSlices(s: SparkSession, slices: Seq[DataFrame],
                                 in: String): Unit = {
    val inPath = new org.apache.hadoop.fs.Path(in)
    val fs = inPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(inPath)
    val staged = Sinks.concurrently(slices.zipWithIndex.map { case (df, k) => () =>
      val tmp = new org.apache.hadoop.fs.Path(s"$in/_slice$k")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // exactly one data file by coalesce(1)
      val part = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      (k, tmp, part)
    })
    val t0 = System.currentTimeMillis
    staged.foreach {
      case (k, tmp, part) =>
        val dst = new org.apache.hadoop.fs.Path(inPath, f"slice$k%02d.parquet")
        if (!fs.rename(part, dst))
          throw new java.io.IOException(s"cannot move slice $part to $dst")
        fs.delete(tmp, true)
        // 1 s apart: far above any FS mtime granularity, so the admission
        // order is never left to a listing tie-break
        fs.setTimes(dst, t0 + k * 1000L, -1)
    }
  }

  /** Write `docs` as `nSplits` interleaved parquet files under
    * `dir`/in and return a one-file-per-trigger stream over them. */
  private def splitStream(s: SparkSession, docs: DataFrame, dir: String): DataFrame = {
    val in = s"$dir/in"
    writeOrderedSlices(s,
      (0 until nSplits).map(i => docs.where(col("doc_id") % nSplits === i)), in)
    s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
  }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(sessionRoot, s"graft_$tag").toString

  /** Scale-adaptive state-partition count for the stateful streaming
    * gates (guide §2: derive partitioning from input size, never a
    * constant tuned for one deployment): ~32 MB of source input per
    * state partition, floor 1. A stateful query's shuffle-partition
    * count is frozen into its checkpoint at first start and EVERY
    * micro-batch and restart then pays per-partition state-store costs
    * (open, delta file, commit, snapshot maintenance, sink files) on
    * all of them — at sf-scale inputs (single-digit MB) the prior
    * session value (32 = local cores) meant 32 near-empty HDFS-backed
    * stores × batches × restarts of pure file-op overhead, while a
    * 100 TB events table derives ~3M-partition granularity the same
    * way a scan does. Results are partition-count invariant (state is
    * keyed by user hash; PropertySpec's invariance arm covers the
    * hash-gated batch queries, StreamingSpec the session sets). */
  private def statePartitionsFor(s: SparkSession, sourceDir: String): Int = {
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(sourceDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch {
      case scala.util.control.NonFatal(t) =>
        // fall back to the SESSION's value, loudly (r21 ADVICE): a
        // stateful checkpoint freezes the count at first start, so a
        // transient FS error silently deriving floor-1 would pin a
        // production stream to ONE state partition forever
        val fallback = s.conf.get("spark.sql.shuffle.partitions").toInt
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"statePartitionsFor: cannot size $sourceDir ($t); " +
          s"falling back to session shuffle.partitions=$fallback — a stateful " +
          "checkpoint freezes this count at first start")
        return fallback
    }
    math.max(1L, bytes / (32L << 20)).min(Int.MaxValue.toLong).toInt
  }

  /** Run `body` (the stream-driving loop) with `spark.sql.shuffle.partitions`
    * set to the input-derived state-partition count, restoring the
    * session value after — the knob is only read at stateful-checkpoint
    * creation, so scoping it to the drive loop keeps every batch query
    * in the session on the session's own setting. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  val defs: Map[String, Q] = Map(

    // Streaming HLL register store (see [[Streaming.hllRegisterSink]]):
    // the documents table drained through the sink in 4 micro-batches,
    // each folding its texts into a register array and max-merging it
    // into the one-row store under the writer fence. Registers merge by
    // MAX (associative, commutative, idempotent), so the drained store
    // equals the one-shot batch sketch of the whole corpus regardless
    // of batch boundaries or order — which is exactly what the oracle
    // states: all 256 registers rebuilt from the same salted 60-bit
    // hash over the raw table (q95's register-rebuild technique, empty
    // registers completed as 0). One wrong register — a lost merge, a
    // misrouted bucket, a trigger that never landed — breaks the hash.
    "q105_stream_hll_state" -> Q(
      (s, d) => {
        val dir = freshDir("q105")
        val store = s"$dir/store/regs"
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        withStatePartitions(s, statePartitionsFor(s, s"$d/documents.parquet")) {
          Streaming.hllRegisterSink(splitStream(s, docs, dir), "text", store, b = 8)
            .option("checkpointLocation", s"$dir/ck").start().awaitTermination()
        }
        s.read.parquet(store)
          .select(posexplode(col("regs")).as(Seq("reg_idx", "rho")))
          .orderBy(col("reg_idx"))
      },
      s"""WITH hx AS (SELECT ${graft.ext.TextOps.sqlHash60("hll", "text")} AS h60
         |            FROM documents),
         |rr AS (SELECT h60 // ${1L << 52} AS bucket,
         |              MAX(CASE WHEN h60 % ${1L << 52} = 0 THEN 53
         |                       ELSE 53 - length(bin(h60 % ${1L << 52})) END) AS rho
         |       FROM hx GROUP BY 1),
         |idx AS (SELECT unnest(range(0, 256)) AS i)
         |SELECT CAST(idx.i AS INTEGER) AS reg_idx,
         |       CAST(COALESCE(rr.rho, 0) AS BIGINT) AS rho
         |FROM idx LEFT JOIN rr ON rr.bucket = idx.i
         |ORDER BY reg_idx""".stripMargin),

    // Streaming curation store (see [[Streaming.incrementalCurationSink]]
    // + [[Streaming.compactCuratedStore]]): the documents table drained
    // through the incremental sink in 4 interleaved micro-batches —
    // exact dedup + near-dup suppression against the accumulating seen
    // store + quality floor, all per-trigger O(batch) — then ONE
    // maintenance compact to retro-canonicalize the out-of-order
    // admissions the interleaved split forces. The sink's equivalence
    // contract says the compacted store row-equals one batch
    // `curatedDocsOf` over the union, and that batch answer is what the
    // oracle states (q37/q100's curation chain, restated over the raw
    // table). A lower-id guard slip, a lost bucket rewrite, a compact
    // that misses a loser family — any of them leaves an extra or
    // missing row and breaks the hash.
    "q106_stream_curation" -> Q(
      (s, d) => {
        val dir = freshDir("q106")
        val curated = s"$dir/curated"
        val sig = s"$dir/sig"
        val docs = Tables.documents(s, d)
        // store sizing follows the upsert store's own rule (one bucket ≈
        // a comfortable task read): 4 buckets for a sf-scale corpus —
        // every interleaved trigger touches all buckets, so the bucket
        // count is a pure per-trigger file-op multiplier here
        withStatePartitions(s, statePartitionsFor(s, s"$d/documents.parquet")) {
          Streaming.incrementalCurationSink(splitStream(s, docs, dir), curated, sig,
              numBuckets = 4)
            .option("checkpointLocation", s"$dir/ck").start().awaitTermination()
          Streaming.compactCuratedStore(s, curated, sig)
        }
        Sinks.readUpsertStore(s, curated)
          .select(col("doc_id"), md5(col("text")).as("text_hash"),
            col("lang"), col("source"), col("n_chars"), col("quality"))
          .orderBy(col("doc_id"))
      },
      s"""WITH ${TextQueries.sqlSigCtesFrom("documents")},
         |canonical AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |sigc AS (
         |  SELECT * FROM sig WHERE doc_id IN (SELECT doc_id FROM canonical)),
         |losers AS (
         |${TextQueries.sqlBandLosersFrom("sigc")}),
         |q AS (${TextQueries.sqlQualityDocs}),
         |cur AS (
         |  SELECT q.* FROM q
         |  WHERE q.doc_id IN (SELECT doc_id FROM canonical)
         |    AND q.doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND q.quality >= 0.5e0)
         |SELECT c.doc_id, md5(d.text) AS text_hash, c.lang, c.source,
         |       d.n_chars, c.quality
         |FROM cur c JOIN documents d USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin),

    // Arbitrary-stateful sessionization under the oracle (see
    // [[Streaming.sessionize]]): the last production streaming path —
    // flatMapGroupsWithState with event-time timeout — driven over the
    // events table in FOUR sequential Trigger.AvailableNow drains that
    // SHARE one checkpoint, so per-key session state must survive three
    // full query restarts (a strictly stronger device than q105/q106's
    // one-drain micro-batch split: the state store, not executor
    // memory, carries the open sessions between admissions). Batch
    // contents force both hard cases:
    //
    //  - regular users (user_id % 37 != 3) arrive as per-user event-
    //    time TERTILES, one per drain — every session spanning a
    //    tertile boundary accumulates across restarts;
    //  - late users (user_id % 37 == 3) arrive ONLY in the 4th drain,
    //    their entire 30-day history at once — every one of those
    //    events is far below the stream's high-water mark by then (a
    //    true late-arrival batch), admitted because the 40-day
    //    watermark delay covers the corpus span.
    //
    // Per-key arrival order is event-time-monotone by construction
    // (tertiles in order; late keys whole-in-one-batch), so the
    // incremental state transitions replay exactly the batch
    // gaps-and-islands recurrence (q34's formulation) — which is what
    // the oracle states. The 40-day delay also pins which sessions
    // EMIT: the watermark never reaches any session's gap horizon, so
    // event-time timeouts never fire and the output is exactly the
    // data-closed sessions — every session except each key's last
    // (nothing ever closes it). A lost state row across a restart, a
    // session split at a batch seam, a late event dropped or misfiled
    // — any of them changes a session's start/duration/count and
    // breaks the hash.
    "q111_stream_sessionize" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.streaming.Trigger
        val dir = freshDir("q111")
        val in = s"$dir/in"; val out = s"$dir/out"; val ck = s"$dir/ck"
        val gapUs = 30L * 60 * 1000000
        // persisted: the events frame feeds the span guard, three
        // tertile-slice writes of the SAME window frame, and the late
        // slice — uncached, each drive-loop job re-read and re-windowed
        // the parquet from scratch (unpersisted after the drains below)
        val ev = Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"))
          .persist()
        // q111's semantics DEPEND on the corpus span staying under the
        // 40-day watermark delay (else drain 4's late batch falls below
        // the state horizon, timeouts fire, and the stream emits
        // sessions the batch oracle excludes — a hash break far from
        // its cause). Fail loudly at the source on a testdata change
        // (r17 ADVICE #3). The timeout-FIRING regime is q120's gate.
        val span = ev.agg((unix_micros(max(col("ts"))) -
          unix_micros(min(col("ts")))).as("span_us")).head.getLong(0)
        require(span + gapUs < 40L * 24 * 3600 * 1000000,
          s"q111 requires corpus span + gap < the 40-day watermark delay, got ${span}us")
        val late = col("user_id") % 37 === 3
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val tert = ev.where(!late).withColumn("_t", ntile(3).over(wOrd)).persist()
        val stateParts = statePartitionsFor(s, s"$d/events.parquet")
        withStatePartitions(s, stateParts) {
          (1 to 4).foreach { i =>
            val slice =
              if (i <= 3) tert.where(col("_t") === i).select(col("user_id"), col("ts"))
              else ev.where(late).select(col("user_id"), col("ts"))
            slice.coalesce(1).write.mode("append").parquet(in)
            val stream = s.readStream.schema(slice.schema)
              .option("maxFilesPerTrigger", 1).parquet(in)
            Streaming.sessionize(s, stream, "user_id", "ts",
                watermark = "40 days", gapUs = gapUs)
              .writeStream.format("parquet").option("path", out)
              .option("checkpointLocation", ck)
              .outputMode("append").trigger(Trigger.AvailableNow())
              .start().awaitTermination()
          }
        }
        tert.unpersist(false)
        ev.unpersist(false)
        s.read.parquet(out)
          .select(col("key").cast("long").as("user_id"),
            col("sessionStartUs").as("session_start_us"),
            col("durationUs").as("duration_us"),
            col("nEvents").as("n_events"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > 30 * 60 * 1000000
        |              THEN 1 ELSE 0 END AS new_sess,
        |         ts, event_id
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, sess_id, MIN(us) AS session_start_us,
        |         MAX(us) - MIN(us) AS duration_us, COUNT(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, session_start_us, duration_us, n_events
        |FROM (SELECT per.*, MAX(sess_id) OVER (PARTITION BY user_id) AS mx FROM per) z
        |WHERE sess_id < mx
        |ORDER BY user_id, session_start_us""".stripMargin),

    // The sessionize TIMEOUT branch under the oracle (r17 verdict #2):
    // q111 deliberately pins a 40-day watermark so event-time timeouts
    // never fire — which left `state.hasTimedOut` (the code path that
    // closes sessions at production watermarks) dead in every gate.
    // This entry drives the SAME operator with a 1-HOUR watermark
    // delay, so the watermark genuinely overtakes session horizons
    // mid-run and the timeout branch must emit-and-remove correctly.
    //
    // Device: the events table splits into three GLOBAL event-time
    // tertiles (boundaries at min + k·span/3), drained oldest-first
    // through one checkpoint. Global-time slicing (vs q111's per-key
    // tertiles) is what makes a short watermark sound: every drain
    // k+1 event is >= the slice boundary, which is strictly above
    // drain k's high-water mark minus the delay — so nothing is ever
    // late-dropped, while sessions whose gap horizon the advancing
    // watermark passes time out and emit between drains. A session
    // that would CONTINUE (next event within the gap) can never time
    // out early: its next event would have to be both >= the watermark
    // (not late) and <= the horizon (in-gap), and the horizon is below
    // the watermark when the timeout fires — contradiction. So every
    // emitted row, timeout-closed or data-closed, carries identical
    // (start, duration, n): exactly the batch gaps-and-islands.
    //
    // Drains 4 and 5 append a far-future SENTINEL key (-1) at +100 and
    // +200 days, pushing the watermark past EVERY real key's horizon:
    // AvailableNow's trailing NO-DATA batch fires the expired timeouts
    // under the just-advanced watermark (and drain 5's data batch
    // re-executes above it even if no-data batches were disabled) — so
    // each key's FINAL session (which no data event can ever close)
    // must exit through `hasTimedOut`, or it is missing from the
    // output.
    // The oracle is therefore the FULL gaps-and-islands recurrence —
    // q111's oracle WITHOUT the "minus each key's last session"
    // clause; the ~|users| extra rows exist ONLY if the timeout branch
    // emits them (an emit-without-remove slip would double-emit and
    // also break the hash; a ms-vs-us rounding slip in
    // setTimeoutTimestamp shifts a boundary session's split). The
    // sentinel's own rows are filtered by user_id >= 0.
    "q120_stream_session_timeout" -> Q(
      (s, d) => {
        import org.apache.spark.sql.streaming.Trigger
        val dir = freshDir("q120")
        val in = s"$dir/in"; val out = s"$dir/out"; val ck = s"$dir/ck"
        val gapUs = 30L * 60 * 1000000
        // persisted: the min/max guard plus the three tertile slice
        // writes each re-scanned the parquet (unpersisted after the
        // drains below)
        val ev = Tables.events(s, d).select(col("user_id"), col("ts")).persist()
        val mm = ev.agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi")).head
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val b = (1 to 2).map(k => lo + (hi - lo) * k / 3)
        val dayUs = 24L * 3600 * 1000000
        val us = unix_micros(col("ts"))
        val slices: Seq[DataFrame] = Seq(
          ev.where(us < b(0)), ev.where(us >= b(0) && us < b(1)), ev.where(us >= b(1)),
          ev.sparkSession.range(1).select(lit(-1L).as("user_id"),
            timestamp_micros(lit(hi + 100 * dayUs)).as("ts")),
          ev.sparkSession.range(1).select(lit(-1L).as("user_id"),
            timestamp_micros(lit(hi + 200 * dayUs)).as("ts")))
        withStatePartitions(s, statePartitionsFor(s, s"$d/events.parquet")) {
          slices.foreach { slice =>
            slice.coalesce(1).write.mode("append").parquet(in)
            val stream = s.readStream.schema(slice.schema)
              .option("maxFilesPerTrigger", 1).parquet(in)
            Streaming.sessionize(s, stream, "user_id", "ts",
                watermark = "1 hour", gapUs = gapUs)
              .writeStream.format("parquet").option("path", out)
              .option("checkpointLocation", ck)
              .outputMode("append").trigger(Trigger.AvailableNow())
              .start().awaitTermination()
          }
        }
        ev.unpersist(false)
        s.read.parquet(out)
          .select(col("key").cast("long").as("user_id"),
            col("sessionStartUs").as("session_start_us"),
            col("durationUs").as("duration_us"),
            col("nEvents").as("n_events"))
          .where(col("user_id") >= 0)
          .orderBy(col("user_id"), col("session_start_us"))
      },
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > 30 * 60 * 1000000
        |              THEN 1 ELSE 0 END AS new_sess,
        |         ts, event_id
        |  FROM events),
        |s AS (
        |  SELECT user_id, us,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, sess_id, MIN(us) AS session_start_us,
        |         MAX(us) - MIN(us) AS duration_us, COUNT(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, session_start_us, duration_us, n_events
        |FROM per
        |ORDER BY user_id, session_start_us""".stripMargin),

    // Streaming multimodal ingest (r17 verdict #6, stretch): the q119
    // manifest's admission decision as an INCREMENTAL store — the
    // mixed-format corpus (BMP/ICO/WAV/stub by magic bytes) drained in
    // four doc_id-RANGE batches through
    // [[Streaming.mediaNearDupSuppressSink]]: each batch fingerprints
    // once per modality kernel, suppresses within-batch and against
    // the accumulated seen store via ONE kind-keyed banded join each
    // (never all-pairs), and upserts (doc_id, kind, fp, admitted).
    // Range batches make ids monotone across triggers, which is the
    // sink's equivalence contract: the final store must equal the
    // ONE-SHOT answer — admitted iff no same-kind lower-id fingerprint
    // within Hamming 4 through a shared band over the whole corpus —
    // which is what the oracle states (uncapped banded pairs per
    // modality, doc_b side suppressed). A probe that misses a stored
    // collision, an upsert that drops a bucket, a batch seam that
    // leaks a suppression — each flips an `admitted` bit and breaks
    // the hash.
    "q122_stream_media_ingest" -> Q(
      (s, d) => mediaIngestStore(s, d, capPerBucket = None),
      MultimodalQueries.sqlMediaIngestOracle),

    // The capPerBucket PRODUCTION knob under the oracle (r18 verdict
    // #2 — q121's symmetry for the streaming store): the identical
    // drive loop with capPerBucket = Some(2048) — multiplicity-sized
    // for BOTH sf tiers (max (kind, band, bkey) occupancy is 1107 at
    // sf0.1; the guard below fails loudly at the source if a testdata
    // change ever exceeds it, q111's span-guard discipline). Within
    // the cap, the capped path must reproduce the exact one-shot
    // answer bit-for-bit: the capBands groupBy+broadcast stage
    // EXECUTES on batch, store, and probe sides and must drop
    // nothing. This hashes the capped plumbing itself — occupancy
    // counts, survivor broadcast, both join cuts — not just the
    // capless contract; the storm-FLIP semantics (what drops when a
    // bucket exceeds the cap) are StreamingSpec's pin and ScaleSoak's
    // measurement (30x storm: capless x52.0 -> cap x1.6).
    "q123_stream_media_ingest_capped" -> Q(
      (s, d) => {
        val cap = 2048
        val occ = MultimodalQueries.maxMediaBandOccupancy(s, d)
        require(occ <= cap,
          s"q123 requires every media band bucket within cap=$cap, got max occupancy $occ")
        mediaIngestStore(s, d, capPerBucket = Some(cap))
      },
      MultimodalQueries.sqlMediaIngestOracle)
  )

  /** The q122 drive loop, cap parameterized — the registry gates the
    * capless (exact, order-invariant) form; ScaleSoak drives the
    * capped production knob on the same device to measure the bounded
    * probe on storm corpora. */
  private[graft] def mediaIngestStore(s: SparkSession, d: String,
                                      capPerBucket: Option[Int]): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("q122")
    val in = s"$dir/in"; val store = s"$dir/store"
    // persisted: the synthesized media corpus (a typed encode pass over
    // every document) feeds the max-id guard plus FOUR range-slice
    // writes — uncached, each drive-loop job re-ran the whole synthesis
    // (unpersisted after the slices land)
    val media = MultimodalQueries.mixedFpCorpus(s, Tables.documents(s, d)).persist()
    val hi = media.agg(max(col("doc_id"))).head.getLong(0) + 1
    // all 4 range slices land up front with PINNED mtime order (see
    // [[writeOrderedSlices]]), so ONE stream lifetime drains them one
    // per trigger in the same monotone-id sequence the sink's
    // equivalence contract needs. r21 restarted the stream once per
    // slice — each restart replayed checkpoint state reload + source
    // listing + sink setup, a per-restart constant that dominated the
    // gate at sf-scale inputs (r21 verdict #3) and is pure overhead at
    // any scale: the admitted batch sequence is identical either way.
    writeOrderedSlices(s, (0 until 4).map(k =>
      media.where(col("doc_id") >= lit(hi * k / 4) &&
        col("doc_id") < lit(hi * (k + 1) / 4))), in)
    withStatePartitions(s, statePartitionsFor(s, s"$d/documents.parquet")) {
      val stream = s.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      Streaming.mediaNearDupSuppressSink(stream, store, numBuckets = 4,
          capPerBucket = capPerBucket)
        .option("checkpointLocation", s"$dir/ck")
        .start().awaitTermination()
    }
    media.unpersist(false)
    Sinks.readUpsertStore(s, store)
      .select(col("doc_id"), col("kind"), col("fp"), col("admitted"))
      .orderBy(col("doc_id"))
  }
}
