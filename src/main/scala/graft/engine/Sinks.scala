package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2.1 S7-S11): layered staged/report writers and the
  * upsert-equivalent merge. Layer rules at scale: the staged layer is
  * partitioned parquet (never a single file); single-file CSV is
  * reserved for small report artifacts (the reference's processed CSVs,
  * a few rows each).
  */
object Sinks {

  /** Staged layer: partitioned parquet (S3/S7 upgraded for scale — the
    * reference's staged CSVs become columnar, partition-pruned files). */
  def stagedParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Report artifact: single header CSV (S7). Only for small outputs —
    * the coalesce(1) funnels everything through one task by design. */
  def reportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", true).csv(path)

  /** Runs independent writes at once, one thread each, and returns their
    * results in input order. The pool lives for this call only: its
    * threads are spawned by the caller and so inherit the caller's Spark
    * local properties (job group, scheduler pool, ...), which threads of
    * a shared pool would not. Waits for every write; if any failed,
    * rethrows the first failure (in input order). */
  private[graft] def concurrently[T](writes: Seq[() => T]): Seq[T] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    import scala.util.{Failure, Try}
    val pool = Executors.newFixedThreadPool(math.max(1, writes.size))
    try {
      val done = writes.map(w => pool.submit(new Callable[T] { def call(): T = w() }))
        .map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      val failures = done.collect { case Failure(e) => e }
      failures.headOption.foreach { first => failures.tail.foreach(first.addSuppressed); throw first }
      done.map(_.get)
    } finally pool.shutdown()
  }

  /** Bucketed catalog table: pre-shuffles the data into `n` buckets on
    * the join/agg key at WRITE time, so every later co-bucketed join or
    * aggregation on that key runs with ZERO exchanges — the storage-side
    * answer to "this join shuffles 100 TB every night"
    * (BucketingSpec asserts the shuffle-free plan). */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** S11 — upsert semantics (INSERT .. ON CONFLICT (keys) DO UPDATE) as
    * a deterministic last-write-wins merge: union the incoming batch
    * with the existing table and keep, per key, the row with the highest
    * `orderCol` (ties broken toward the incoming batch). row_number over
    * an explicit order — NOT bare dropDuplicates, which is
    * nondeterministic under parallelism (SURVEY.md §7.4).
    * Reference: ETL_Multi_Lvl_API/load.py:117-163. */
  def upsertParquet(spark: SparkSession, batch: DataFrame, path: String,
                    keys: Seq[String], orderCol: Option[String] = None): Unit = {
    // FileSystem of the TARGET path's scheme, not the default FS — an
    // s3a:// or hdfs:// target must not resolve against file://
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, path) {
      upsertWholeTableLocked(spark, batch, path, keys, orderCol, dst, fs)
    }
  }

  /** S11 (wire-protocol flavor) — keyed UPSERT against a REAL JDBC
    * warehouse, executed from the executors: each partition opens one
    * connection and drives a parameterized `INSERT … ON CONFLICT … DO
    * UPDATE` / ANSI `MERGE` in `batchSize`-row round-trips — the exact
    * network shape of the reference's batched Supabase upsert
    * (ETL_Multi_Lvl_API/load.py:117-163, on_conflict="city,time",
    * BATCH_SIZE pages). The parquet-store [[upsertParquet]] family is
    * the in-engine equivalent; this is the path for loading INTO a
    * Postgres-class system of record.
    *
    * Scale/correctness shape:
    *  - the batch is repartitioned ON THE KEYS first, so no two TASKS
    *    upsert the same key concurrently. That is a per-task, not
    *    per-attempt, guarantee (r20 ADVICE): speculative execution (or
    *    a zombie attempt outliving its retry) runs two attempts of the
    *    same partition against the same keys — each attempt converges
    *    to the same final row (the statement is a keyed upsert), but
    *    they can contend on row locks; disable speculation for jobs
    *    driving this sink;
    *  - retry is Spark's OWN task retry: the statement is a keyed
    *    upsert, so replaying a failed task converges to the same final
    *    row — idempotent by construction, no sleep loops inside
    *    executors (the reference's retry loop, load.py:121-144, guards
    *    a single-process client; a task attempt IS that loop here);
    *  - per-batch commits bound the warehouse transaction to
    *    `batchSize` rows, the same reason the reference pages.
    *
    * Caller contract: one row per key (the staged layer's A4 grain) —
    * with duplicate keys in one batch the last write within a task
    * wins, which is exactly Postgres's executeBatch semantics but not
    * deterministic across retries. JdbcSpec exercises the MERGE dialect
    * end-to-end against embedded Derby (insert arm, update arm, mixed,
    * parallel partitions) and pins the ON CONFLICT statement shape. */
  def upsertJdbc(df: DataFrame, url: String, table: String, keys: Seq[String],
                 batchSize: Int = 500,
                 dialect: UpsertDialect = UpsertDialect.OnConflict): Unit = {
    val cols = df.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"upsert keys ${keys.mkString(",")} must be columns of the batch (${cols.mkString(",")})")
    require(cols.exists(!keys.contains(_)),
      "upsert needs at least one non-key column to update")
    val stmt = dialect.statement(table, cols, keys)
    val binds = dialect.bindOrder(cols, keys).map(cols.indexOf).toArray
    df.repartition(keys.map(col): _*).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val ps = conn.prepareStatement(stmt)
            try {
              // NULLs need a TYPED setNull (Derby rejects an untyped
              // null setObject); parameter metadata knows each slot's
              // SQL type — fall back to VARCHAR for drivers that can't
              // describe parameters without a server round-trip
              val pTypes = (1 to binds.length).map { i =>
                try ps.getParameterMetaData.getParameterType(i)
                catch { case _: java.sql.SQLException => java.sql.Types.VARCHAR }
              }.toArray
              var n = 0
              rows.foreach { r =>
                var i = 0
                while (i < binds.length) {
                  val v = r.get(binds(i))
                  if (v == null) ps.setNull(i + 1, pTypes(i))
                  else ps.setObject(i + 1, v)
                  i += 1
                }
                ps.addBatch(); n += 1
                if (n % batchSize == 0) { ps.executeBatch(); conn.commit() }
              }
              if (n % batchSize != 0) { ps.executeBatch(); conn.commit() }
            } finally ps.close()
          } catch {
            // roll back the uncommitted tail explicitly rather than
            // relying on driver-specific close() semantics (r20
            // ADVICE); the task retry then replays the whole partition
            case t: Throwable =>
              try conn.rollback()
              catch { case scala.util.control.NonFatal(_) => () }
              throw t
          } finally conn.close()
        }
    }
  }

  /** Restore a whole-table store stranded at `<path>_old` by a writer
    * that crashed between its two swap renames. Shared by
    * [[upsertWholeTableLocked]] and every fenced caller that READS the
    * store before merging into it (e.g. the streaming HLL register
    * sink): a reader gating on `fs.exists(dst)` alone would see the
    * orphaned store as absent, merge against nothing, and the
    * subsequent upsert's own recovery would restore the orphan only to
    * overwrite it — silently dropping all previously merged state.
    * Call inside the store's writer fence. */
  private[graft] def restoreWholeTableOrphan(fs: org.apache.hadoop.fs.FileSystem,
                                             path: String,
                                             dst: org.apache.hadoop.fs.Path): Unit = {
    val orphan = new org.apache.hadoop.fs.Path(path + "_old")
    if (!fs.exists(dst) && fs.exists(orphan) && !fs.rename(orphan, dst))
      throw new java.io.IOException(s"upsertParquet: cannot restore $orphan to $dst")
  }

  private[graft] def upsertWholeTableLocked(spark: SparkSession, batch: DataFrame, path: String,
                                     keys: Seq[String], orderCol: Option[String],
                                     dst: org.apache.hadoop.fs.Path,
                                     fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val orphan = new org.apache.hadoop.fs.Path(path + "_old")
    // crash recovery: a previous run that died between its two swap
    // renames leaves the table at _old and nothing at dst — restore it
    // BEFORE reading, or the merge below would see an absent table and
    // the _old cleanup would erase the only surviving copy
    restoreWholeTableOrphan(fs, path, dst)
    // "table absent" is ONLY fs.exists == false. A transient read
    // failure (corrupt footer, FS hiccup) must propagate — treating it
    // as absent would silently replace the table with the batch alone.
    val existing =
      if (fs.exists(dst)) Some(spark.read.parquet(path).withColumn("_is_new", lit(0)))
      else None
    val all = existing match {
      case Some(e) => e.unionByName(batch.withColumn("_is_new", lit(1)))
      case None    => batch.withColumn("_is_new", lit(1))
    }
    // conflict winner: highest recency column if given, the incoming
    // batch on ties / by default (ON CONFLICT DO UPDATE semantics)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCol.map(c => col(c).desc).toSeq :+ col("_is_new").desc: _*)
    val merged = all.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_is_new")
    // parquet overwrite of the path being read requires a materialization
    // barrier: write to a sibling, then swap. The swap renames the old
    // dir ASIDE (not delete-then-rename) so a crash mid-swap leaves a
    // recoverable copy; old is deleted only after the new rename lands.
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(orphan, true) // leftover _old with dst present = stale copy
    val hadExisting = fs.exists(dst)
    if (hadExisting && !fs.rename(dst, orphan))
      throw new java.io.IOException(s"upsertParquet: cannot move $dst aside to $orphan")
    if (!fs.rename(tmp, dst)) {
      // restore the previous table before failing
      if (hadExisting) fs.rename(orphan, dst)
      throw new java.io.IOException(s"upsertParquet: cannot move $tmp into place at $dst")
    }
    fs.delete(orphan, true)
  }

  /** Partition column of the partition-scoped upsert store. No leading
    * underscore/dot — Spark's file index hides such paths, which would
    * make the partition dirs invisible to the reader. */
  private[graft] val BucketCol = "gbucket"
  /** Dot-prefixed so aside copies (and the meta file) are invisible to
    * Spark's partition discovery while a swap is in flight. */
  private val AsidePrefix = ".aside_"
  private val MetaFile = ".graft_upsert_meta"

  /** Create-exclusive writer fence for every mutating store operation.
    * The swap protocols here are SINGLE-writer: two concurrent merges
    * could interleave their bucket swaps undetected (each one's aside
    * copy clobbering the other's fresh data). The fence is a sibling
    * `<path>_lock` file created exclusively — atomic on HDFS
    * (`create(overwrite = false)` is a single namenode op); on the
    * local FS Hadoop's `RawLocalFileSystem` is check-then-create, NOT
    * atomic, so the `file` scheme goes through `java.nio` `CREATE_NEW`
    * (`O_CREAT|O_EXCL`) instead. Object stores without atomic
    * create-exclusive need an external coordinator; this fence still
    * catches the common same-cluster double-writer. The second writer
    * fails LOUDLY rather than corrupting the store; a lock left by a
    * crashed writer must be deleted by an operator (the message says
    * so — auto-expiry would reintroduce the race it exists to
    * prevent). If the fence file is created but the metadata payload
    * fails to land (close() is the actual PUT on object stores), the
    * fence is deleted before rethrowing so a transient write failure
    * cannot strand a lock that blocks all future merges. */
  private def acquireWriterLock(fs: org.apache.hadoop.fs.FileSystem,
                                path: String): org.apache.hadoop.fs.Path = {
    val lock = new org.apache.hadoop.fs.Path(path + "_lock")
    val payload =
      s"""{"holder_pid":${ProcessHandle.current.pid},"acquired_ms":${System.currentTimeMillis}}"""
        .getBytes("UTF-8")
    def contended(e: Throwable) =
      new java.util.ConcurrentModificationException(
        s"store at $path has another writer in flight (fence $lock exists); " +
          "concurrent merges are not coordinated — retry after it finishes, " +
          "or delete the fence file if the previous writer crashed", e)
    if (fs.getScheme == "file") {
      val p = java.nio.file.Paths.get(fs.makeQualified(lock).toUri.getPath)
      // hadoop fs.create makes parent dirs implicitly; nio does not —
      // a first-ever merge has no store dir yet
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      try java.nio.file.Files.write(p, payload,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      catch {
        case e: java.nio.file.FileAlreadyExistsException => throw contended(e)
        case scala.util.control.NonFatal(t) =>
          // create succeeded but the payload write failed — don't strand
          // the fence (FileAlreadyExists was already rethrown above, so
          // this can only delete OUR file, never another writer's)
          try java.nio.file.Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
          throw t
      }
    } else {
      val out = try fs.create(lock, false) catch {
        case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw contended(e)
        case e: java.nio.file.FileAlreadyExistsException => throw contended(e)
        // a generic IOException is only contention if the fence actually
        // exists — permission/transient-FS failures propagate as plain IO
        // errors instead of sending the operator chasing a phantom writer
        case e: java.io.IOException if (try fs.exists(lock) catch { case _: java.io.IOException => false }) =>
          throw contended(e)
      }
      try { try out.write(payload) finally out.close() }
      catch {
        case scala.util.control.NonFatal(t) =>
          try fs.delete(lock, false) catch { case _: java.io.IOException => () }
          throw t
      }
    }
    lock
  }

  /** Fence hold intervals (store path, acquire nanos, release nanos),
    * recorded by [[withWriterLock]]. Test-visible: mutual exclusion is
    * about when the FENCE was held, not when the enclosing merge call
    * started — a loser descheduled before its fence check can overlap
    * the winner's whole call and still be a legal sequential reacquire,
    * so a race test timing the call would false-fail on exactly the
    * schedule it means to permit (round-8 advisor). Bounded: a
    * long-lived writer (streaming runs one merge per micro-batch)
    * must not accumulate a tuple per merge forever, so the oldest
    * entries are dropped past the cap — the race test reads its own
    * handful of holds immediately after producing them. */
  private val FenceHoldCap = 4096
  /** Synchronized ArrayDeque, not a ConcurrentLinkedQueue: CLQ.size()
    * is O(n), which would make the cap check traverse ~2×cap nodes on
    * every merge at steady state; fence contention is two writers at
    * most, so a lock costs nothing next to the parquet merge it brackets. */
  private[graft] val fenceHolds =
    new java.util.ArrayDeque[(String, Long, Long)]()

  /** Acquire the writer fence for `path`, run `body`, release — and
    * record the [acquire, release) interval in [[fenceHolds]]. The
    * release stamp is taken BEFORE the lock file is deleted: a
    * successor can acquire the instant the delete lands, and stamping
    * after it could record our release later than the successor's
    * acquire — a phantom overlap on a legal sequential schedule. The
    * recorded interval therefore UNDERcovers the true hold, which is
    * the conservative direction for a no-overlap assertion. */
  private def withWriterLock[T](fs: org.apache.hadoop.fs.FileSystem,
                                path: String)(body: => T): T = {
    val lock = acquireWriterLock(fs, path)
    val t0 = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      // the hold is recorded even when the delete throws: a winner that
      // failed only at release still HELD the fence for [t0, end), and
      // dropping its interval would hide it from the race test's
      // holds-per-win accounting (round-9 advisor)
      try fs.delete(lock, false)
      finally fenceHolds.synchronized {
        fenceHolds.add((path, t0, end))
        while (fenceHolds.size > FenceHoldCap) fenceHolds.pollFirst()
      }
    }
  }

  /** Acquire the writer fences of SEVERAL stores at once (in sorted
    * path order, so every multi-store caller attempts them in the same
    * sequence), run `body`, release in reverse. For maintenance passes
    * whose READ phase must also exclude concurrent writers — e.g.
    * [[graft.streaming.Streaming.compactCuratedStore]], which computes
    * a loser set from one store and deletes from another: without the
    * fences a merge landing between its read and its delete would leave
    * the compact acting on a stale loser set. Fences are
    * create-exclusive, so contention FAILS loudly on either side (the
    * concurrent merge, or this call) rather than blocking — no ordering
    * deadlock is possible. Inside `body`, mutate the fenced stores only
    * through the `...Locked` variants; the public entry points would
    * re-acquire a fence this call already holds and throw. */
  def withStoreFences[T](spark: SparkSession, paths: Seq[String])(body: => T): T = {
    require(paths.nonEmpty, "withStoreFences needs at least one store path")
    require(paths.distinct.size == paths.size,
      s"duplicate store paths would self-deadlock the fence: $paths")
    def nest(remaining: Seq[String]): T = remaining match {
      case Seq() => body
      case p +: rest =>
        val dst = new org.apache.hadoop.fs.Path(p)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        withWriterLock(fs, p)(nest(rest))
    }
    nest(paths.sorted)
  }

  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
                        meta: org.apache.hadoop.fs.Path, n: Int,
                        keys: Seq[String]): Unit = {
    val out = fs.create(meta, true)
    val ks = keys.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    try out.write(s"""{"numBuckets":$n,"keys":$ks}""".getBytes("UTF-8")) finally out.close()
  }

  /** (numBuckets, creation keys). Both are properties of the STORE: a
    * merge hashing different keys (or a different count) would land
    * rows in the wrong partitions and silently duplicate them. */
  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
                       meta: org.apache.hadoop.fs.Path): (Int, Seq[String]) = {
    val in = fs.open(meta)
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
    val n = """"numBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new java.io.IOException(s"upsert store meta unreadable: $txt"))
    val keys = """"keys"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    (n, keys)
  }

  /** S11 at scale — partition-scoped upsert. [[upsertParquet]] is correct
    * but rewrites the WHOLE table per merge: at 100 TB a nightly 1 GB
    * batch pays a 100 TB write. This store is partitioned on a stable
    * hash bucket of the merge key (`gbucket = pmod(xxhash64(keys), n)`,
    * fixed at creation and recorded in a meta file), so a merge:
    *
    *   1. computes the batch's touched buckets (≤ numBuckets values),
    *   2. reads ONLY those partitions (partition-pruned scan — untouched
    *      data is never read),
    *   3. runs the same last-write-wins window within them,
    *   4. swaps ONLY the touched `gbucket=N` directories, each with the
    *      rename-aside protocol of [[upsertParquet]] (aside copy under a
    *      dot-prefixed name, restore-on-entry) — untouched partition
    *      files are never rewritten.
    *
    * Merge cost is O(batch + touched partitions), not O(table). Size
    * `numBuckets` so one bucket ≈ a comfortable task read (e.g. 100 TB /
    * 8192 buckets ≈ 12 GB); more buckets = finer merge granularity.
    * Reference semantics: ETL_Multi_Lvl_API/load.py:117-163 (upsert
    * touches only conflicting keys). Read back via [[readUpsertStore]].
    * Single-writer, ENFORCED: a create-exclusive `<path>_lock` fence
    * rejects a second concurrent merge loudly (see
    * [[acquireWriterLock]]) instead of letting interleaved bucket swaps
    * corrupt the store. */
  def upsertParquetPartitioned(spark: SparkSession, batch: DataFrame, path: String,
                               keys: Seq[String], orderCol: Option[String] = None,
                               numBuckets: Int = 64): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    require(!batch.columns.contains(BucketCol),
      s"batch already has a '$BucketCol' column — it is reserved for the store layout")
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fence FIRST: entry recovery itself mutates the store, so even the
    // recovery scan must not run under a concurrent writer
    withWriterLock(fs, path) {
      mergePartitionedLocked(spark, batch, path, keys, orderCol, numBuckets, dst, fs)
    }
  }

  /** [[upsertParquetPartitioned]] for callers already holding this
    * store's fence (via [[withStoreFences]]) — e.g.
    * [[graft.streaming.Streaming.compactMediaStore]], whose READ phase
    * computes a demotion set from the same store the merge then
    * rewrites: the whole read-compute-merge sequence must exclude
    * concurrent writers, so the public entry point's re-acquisition
    * would throw. `numBuckets` only applies on creation; an existing
    * store's meta wins. */
  private[graft] def upsertParquetPartitionedLocked(spark: SparkSession, batch: DataFrame,
                                                    path: String, keys: Seq[String],
                                                    orderCol: Option[String] = None,
                                                    numBuckets: Int = 64): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mergePartitionedLocked(spark, batch, path, keys, orderCol, numBuckets, dst, fs)
  }

  /** Store-level + bucket-level crash recovery for a partition-scoped
    * store. Factored out of the merge so readers that gate behavior on
    * store existence ([[recoverUpsertStore]]) run the SAME recovery the
    * writer would, under the same fence. Caller must hold the writer
    * lock. */
  private def recoverPartitionedLocked(fs: org.apache.hadoop.fs.FileSystem,
                                       path: String,
                                       dst: org.apache.hadoop.fs.Path): Unit = {
    // store level: a rebucket that crashed between its two renames
    // leaves the whole store at _old and nothing at dst — restore it,
    // or a merge would "create" a batch-only store and strand the real
    // one (and a reader would see no store at all)
    val storeOrphan = new org.apache.hadoop.fs.Path(path + "_old")
    if (!fs.exists(dst) && fs.exists(storeOrphan) && !fs.rename(storeOrphan, dst))
      throw new java.io.IOException(s"cannot restore $storeOrphan to $dst")
    // dst present + _old present = a rebucket crashed after its final
    // rename landed; the _old copy is stale — drop it, don't leak it
    if (fs.exists(dst)) fs.delete(storeOrphan, true)
    // bucket level: a crash mid-swap leaves a bucket at its aside name
    // and nothing live — restore it; an aside WITH a live dir is a
    // stale copy from a crash after the new data landed — drop it
    if (fs.exists(dst)) fs.listStatus(dst).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(AsidePrefix)) {
        val live = new org.apache.hadoop.fs.Path(dst, name.stripPrefix(AsidePrefix))
        if (!fs.exists(live)) {
          if (!fs.rename(st.getPath, live))
            throw new java.io.IOException(s"cannot restore ${st.getPath} to $live")
        } else fs.delete(st.getPath, true)
      }
    }
    // meta-only level (AFTER aside restore, which may have just revived
    // the last bucket): a delete that emptied every bucket re-absents
    // the whole store, but a crash between its last bucket swap and
    // that final dir delete strands the exact zero-data-file state the
    // re-absent rule exists to prevent — meta present, no gbucket=
    // partitions, every read/merge wedged on parquet schema inference.
    // Finish the crashed delete's intent: the store becomes absent.
    // Unreachable from any other protocol: creation stamps the meta
    // LAST (buckets exist first), and merges never remove buckets.
    if (fs.exists(dst)) {
      val entries = fs.listStatus(dst).map(_.getPath.getName)
      if (entries.contains(MetaFile) &&
          !entries.exists(_.startsWith(s"$BucketCol=")))
        fs.delete(dst, true)
    }
  }

  /** Run crash recovery for the partition-scoped store at `path` without
    * merging anything, and report whether a COMMITTED store exists there
    * afterwards — i.e. its meta file is present (creation stamps the meta
    * last, so a directory without one is a half-created store whose read
    * would fail schema inference).
    *
    * This is the existence check store-gated readers must use instead of
    * `fs.exists(dir)`: a bare directory check calls a crashed half-
    * creation "readable" (wedging every retry on schema inference) and a
    * store stranded at `<path>_old` by a crashed rebucket "absent"
    * (silently skipping whatever the store was guarding — for the
    * incremental curation sink, one replayed batch's cross-batch
    * suppression). */
  def recoverUpsertStore(spark: SparkSession, path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, path) {
      recoverPartitionedLocked(fs, path, dst)
    }
    fs.exists(new org.apache.hadoop.fs.Path(dst, MetaFile))
  }

  /** [[recoverUpsertStore]] for callers already holding this store's
    * fence (via [[withStoreFences]]) — same recovery + committed-store
    * check, no re-acquisition. */
  private[graft] def recoverUpsertStoreLocked(spark: SparkSession, path: String): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverPartitionedLocked(fs, path, dst)
    fs.exists(new org.apache.hadoop.fs.Path(dst, MetaFile))
  }

  private def mergePartitionedLocked(spark: SparkSession, batch: DataFrame, path: String,
                                     keys: Seq[String], orderCol: Option[String],
                                     numBuckets: Int,
                                     dst: org.apache.hadoop.fs.Path,
                                     fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val tmpRoot = new org.apache.hadoop.fs.Path(path + "_tmp")
    recoverPartitionedLocked(fs, path, dst)
    fs.delete(tmpRoot, true)
    val meta = new org.apache.hadoop.fs.Path(dst, MetaFile)
    val n = if (fs.exists(meta)) {
      val (storedN, storedKeys) = readMeta(fs, meta)
      if (storedKeys.nonEmpty && storedKeys != keys)
        throw new IllegalArgumentException(
          s"upsert store at $path was created with keys ${storedKeys.mkString(",")}; " +
            s"merging with ${keys.mkString(",")} would mis-bucket rows")
      storedN
    } else numBuckets
    // the batch plan is consumed twice below (touched-bucket scoping,
    // then the merge/creation write) and sink batches are often the
    // tail of an expensive pipeline (the curation sink's is an LSH
    // probe chain) — pin it so the second consumer reads the cache
    // instead of recomputing the whole chain. MEMORY_AND_DISK default:
    // batches are micro-batch sized by the sink contract, and a large
    // one degrades to a disk spill, not an OOM.
    val keyed = batch.withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(n.toLong)).cast("int")).persist()
    try {
    if (!fs.exists(meta)) {
      // creation overwrites dst, so it must never run over a directory
      // that is NOT a half-created store of ours: a crashed creation
      // leaves only gbucket=* dirs (+ markers), anything else (e.g. an
      // unpartitioned upsertParquet table) would be silently destroyed
      if (fs.exists(dst)) {
        val foreign = fs.listStatus(dst).map(_.getPath.getName).filterNot(nm =>
          nm.startsWith(s"$BucketCol=") || nm.startsWith("_") || nm.startsWith("."))
        if (foreign.nonEmpty)
          throw new IllegalArgumentException(
            s"$path exists but is not a partition-scoped upsert store " +
              s"(found: ${foreign.take(3).mkString(",")}); refusing to overwrite")
      }
      // an empty batch must not create a zero-file store — later reads
      // of it would fail schema inference and wedge every merge
      if (keyed.isEmpty) return
      // creation: lay the whole batch out bucketed, then stamp the meta
      // (meta-last so a crash mid-creation re-runs creation cleanly)
      keyed.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
      writeMeta(fs, meta, n, keys)
      return
    }
    // touched buckets: bounded by numBuckets, so the collect is small by
    // construction (this is the semi-join that scopes the merge)
    val touched = keyed.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return // empty batch: nothing to merge
    val existing = spark.read.parquet(path)
      .where(col(BucketCol).isin(touched.toIndexedSeq: _*)) // partition-pruned
      .withColumn("_is_new", lit(0))
    val all = existing.unionByName(keyed.withColumn("_is_new", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCol.map(c => col(c).desc).toSeq :+ col("_is_new").desc: _*)
    val merged = all.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_is_new")
    merged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmpRoot.toString)
    touched.foreach { b =>
      val live = new org.apache.hadoop.fs.Path(dst, s"$BucketCol=$b")
      val aside = new org.apache.hadoop.fs.Path(dst, s"$AsidePrefix$BucketCol=$b")
      val fresh = new org.apache.hadoop.fs.Path(tmpRoot, s"$BucketCol=$b")
      // every touched bucket holds at least the batch's own winners
      if (!fs.exists(fresh))
        throw new java.io.IOException(s"merge output missing for bucket $b at $fresh")
      fs.delete(aside, true)
      val had = fs.exists(live)
      if (had && !fs.rename(live, aside))
        throw new java.io.IOException(s"cannot move $live aside to $aside")
      if (!fs.rename(fresh, live)) {
        if (had) fs.rename(aside, live)
        throw new java.io.IOException(s"cannot move $fresh into place at $live")
      }
      fs.delete(aside, true)
    }
    fs.delete(tmpRoot, true)
    } finally keyed.unpersist(false)
  }

  /** Read the partition-scoped upsert store back with its user schema
    * (the internal bucket column stripped). */
  def readUpsertStore(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(BucketCol)

  /** Maintenance: delete the rows whose merge keys appear in `victims`
    * from a partition-scoped store — the primitive behind
    * [[graft.streaming.Streaming.compactCuratedStore]]'s
    * retro-canonicalization. Scoped exactly like the merge: only the
    * buckets holding victim keys are read (partition-pruned) and
    * rewritten, each swapped with the same aside protocol — a bucket
    * the delete empties entirely is removed. Victim keys absent from
    * the store are no-ops, so the operation is idempotent. Takes the
    * writer fence; a delete and a merge cannot interleave. */
  def deleteFromUpsertStore(spark: SparkSession, path: String, victims: DataFrame): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, path) {
      deleteFromUpsertStoreLocked(spark, path, victims)
    }
  }

  /** [[deleteFromUpsertStore]] for callers already holding this store's
    * fence (via [[withStoreFences]]) — the compact pass holds its
    * fences across its READ phase too, so the whole read-compute-delete
    * sequence excludes concurrent merges. */
  private[graft] def deleteFromUpsertStoreLocked(spark: SparkSession, path: String,
                                                 victims: DataFrame): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    locally {
      recoverPartitionedLocked(fs, path, dst)
      val meta = new org.apache.hadoop.fs.Path(dst, MetaFile)
      if (!fs.exists(meta))
        throw new java.io.IOException(s"no upsert store meta at $path")
      val (n, keys) = readMeta(fs, meta)
      if (keys.isEmpty)
        throw new java.io.IOException(s"store meta at $path lacks keys; cannot delete by key")
      val missing = keys.filterNot(victims.columns.contains)
      require(missing.isEmpty,
        s"victims frame lacks the store's merge key(s): ${missing.mkString(",")}")
      // same double-consumption shape as the merge (touched scoping +
      // the anti-join), and compact's victims are LSH pair-join output
      // — pin across both
      val keyed = victims.select(keys.map(col): _*).distinct()
        .withColumn(BucketCol,
          pmod(xxhash64(keys.map(col): _*), lit(n.toLong)).cast("int")).persist()
      try {
      val touched = keyed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val tmpRoot = new org.apache.hadoop.fs.Path(path + "_tmp")
        fs.delete(tmpRoot, true)
        val kept = spark.read.parquet(path)
          .where(col(BucketCol).isin(touched.toIndexedSeq: _*)) // partition-pruned
          .join(keyed.drop(BucketCol), keys, "left_anti")
        kept.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmpRoot.toString)
        touched.foreach { b =>
          val live = new org.apache.hadoop.fs.Path(dst, s"$BucketCol=$b")
          val aside = new org.apache.hadoop.fs.Path(dst, s"$AsidePrefix$BucketCol=$b")
          val fresh = new org.apache.hadoop.fs.Path(tmpRoot, s"$BucketCol=$b")
          fs.delete(aside, true)
          val had = fs.exists(live)
          if (had && !fs.rename(live, aside))
            throw new java.io.IOException(s"cannot move $live aside to $aside")
          // unlike the merge, a delete may EMPTY a bucket (no fresh dir):
          // the live dir then simply goes away
          if (fs.exists(fresh) && !fs.rename(fresh, live)) {
            if (had) fs.rename(aside, live)
            throw new java.io.IOException(s"cannot move $fresh into place at $live")
          }
          fs.delete(aside, true)
        }
        fs.delete(tmpRoot, true)
        // a delete that empties EVERY bucket must not leave a meta-only
        // store: zero data files wedge parquet schema inference for
        // every later read and merge (the creation path refuses the
        // same state — 'an empty batch must not create a zero-file
        // store'). The emptied store becomes ABSENT instead:
        // recoverUpsertStore then reads "no committed store", and the
        // next merge recreates it from its batch.
        val anyBucket = fs.exists(dst) && fs.listStatus(dst)
          .exists(_.getPath.getName.startsWith(s"$BucketCol="))
        if (!anyBucket) fs.delete(dst, true)
      }
      } finally keyed.unpersist(false)
    }
  }

  /** Maintenance: re-lay a partition-scoped store out with a new bucket
    * count. The count is fixed at creation (merges must hash with it),
    * so a store that has grown far past its sizing needs this offline
    * step to restore merge granularity — one full read+write, then the
    * same whole-directory swap as [[upsertParquet]] (crash before the
    * final rename leaves the original store untouched). Takes the same
    * writer fence as the merge, so a rebucket and a merge cannot
    * interleave. */
  def rebucketUpsertStore(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    require(newBuckets > 0, "newBuckets must be positive")
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, path) {
      rebucketLocked(spark, path, newBuckets, dst, fs)
    }
  }

  private def rebucketLocked(spark: SparkSession, path: String, newBuckets: Int,
                             dst: org.apache.hadoop.fs.Path,
                             fs: org.apache.hadoop.fs.FileSystem): Unit = {
    // restore a store stranded at _old by a previously crashed rebucket
    val prevOrphan = new org.apache.hadoop.fs.Path(path + "_old")
    if (!fs.exists(dst) && fs.exists(prevOrphan) && !fs.rename(prevOrphan, dst))
      throw new java.io.IOException(s"cannot restore $prevOrphan to $dst")
    val meta = new org.apache.hadoop.fs.Path(dst, MetaFile)
    if (!fs.exists(meta))
      throw new java.io.IOException(s"no upsert store meta at $path")
    val (_, keys) = readMeta(fs, meta)
    if (keys.isEmpty)
      throw new java.io.IOException(s"store meta at $path lacks keys; cannot rebucket")
    val tmp = new org.apache.hadoop.fs.Path(path + "_rebucket_tmp")
    fs.delete(tmp, true)
    val rekeyed = readUpsertStore(spark, path).withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(newBuckets.toLong)).cast("int"))
    rekeyed.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp.toString)
    writeMeta(fs, new org.apache.hadoop.fs.Path(tmp, MetaFile), newBuckets, keys)
    val orphan = new org.apache.hadoop.fs.Path(path + "_old")
    fs.delete(orphan, true)
    if (!fs.rename(dst, orphan))
      throw new java.io.IOException(s"rebucket: cannot move $dst aside")
    if (!fs.rename(tmp, dst)) {
      fs.rename(orphan, dst)
      throw new java.io.IOException(s"rebucket: cannot move $tmp into place")
    }
    fs.delete(orphan, true)
  }
}

/** The wire dialect for [[Sinks.upsertJdbc]]: how a warehouse spells
  * "insert or update on these keys" and the parameter bind order its
  * spelling implies. Two public spellings cover the reference's targets
  * and the test harness; both are plain parameterized SQL — no
  * driver-specific API. */
sealed trait UpsertDialect {
  /** The parameterized upsert statement for one row. */
  def statement(table: String, cols: Seq[String], keys: Seq[String]): String
  /** Column name bound at each `?` position, in order. */
  def bindOrder(cols: Seq[String], keys: Seq[String]): Seq[String]
}

object UpsertDialect {

  /** Postgres-family `INSERT … ON CONFLICT (keys) DO UPDATE SET c =
    * EXCLUDED.c` — the statement Supabase's upsert issues under the
    * reference's on_conflict="city,time" (ETL_Multi_Lvl_API/
    * load.py:126). One bind per column, insert order. Requires the key
    * to be a unique index on the target (Postgres's own precondition
    * for ON CONFLICT arbitration). */
  case object OnConflict extends UpsertDialect {
    def statement(table: String, cols: Seq[String], keys: Seq[String]): String = {
      val sets = cols.filterNot(keys.contains)
        .map(c => s"$c = EXCLUDED.$c").mkString(", ")
      s"INSERT INTO $table (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
        s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET $sets"
    }
    def bindOrder(cols: Seq[String], keys: Seq[String]): Seq[String] = cols
  }

  /** ANSI `MERGE INTO … USING <one-row table>` — Derby 10.11+ / DB2
    * spelling (SYSIBM.SYSDUMMY1 is the standard one-row source both
    * ship), exercised end-to-end by JdbcSpec against embedded Derby.
    * Binds: keys (ON clause), then non-keys (UPDATE SET), then every
    * column again (INSERT VALUES). */
  case object Merge extends UpsertDialect {
    def statement(table: String, cols: Seq[String], keys: Seq[String]): String = {
      val nonKeys = cols.filterNot(keys.contains)
      val on = keys.map(k => s"t.$k = ?").mkString(" AND ")
      val sets = nonKeys.map(c => s"t.$c = ?").mkString(", ")
      s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON $on " +
        s"WHEN MATCHED THEN UPDATE SET $sets " +
        s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    }
    def bindOrder(cols: Seq[String], keys: Seq[String]): Seq[String] =
      keys ++ cols.filterNot(keys.contains) ++ cols
  }
}
