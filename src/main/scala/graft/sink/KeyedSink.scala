package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Idempotent keyed sink with snapshot metadata — the engine's analog of
  * AFEC's `INSERT OR REPLACE INTO assets` keyed by filename
  * (`SqliteSampleDescriptorPool.cpp:1582-1651`) and of the incremental
  * change-list driver (`Crawler.cpp:934-998`).
  *
  * == Production mapping ==
  * On a real cluster this is Iceberg:
  * {{{
  *   MERGE INTO features t USING updates s ON t.doc_id = s.doc_id
  *   WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  * with snapshot commit-summary metrics and incremental scans between
  * snapshots for resume. This sandbox has no Iceberg jars, so the same
  * contract is implemented over parquet with an atomic snapshot-pointer
  * protocol (write `snap-N/`, fsync metadata JSON, flip `_latest`):
  * readers always see a complete snapshot; a killed writer leaves the
  * previous snapshot intact (resume = re-run, the upsert is idempotent).
  *
  * == Scale notes ==
  *  - [[upsert]] (copy-on-write) rewrites the table — right when updates
  *    are a large fraction of it. Counts come from `observe()` metrics on
  *    the single write job: the update pipeline executes exactly ONCE (a
  *    separate `count()` would re-run the whole upstream feature pipeline).
  *  - [[upsertDelta]] (merge-on-read) writes ONLY the update rows as a
  *    delta snapshot — O(|updates|) IO per incremental run; [[read]] folds
  *    the delta chain over its base with last-writer-wins anti-joins
  *    (Iceberg's equality-delete read path). [[compact]] folds the chain
  *    back into one full snapshot. At 100 TB an incremental run touching
  *    0.1% of keys writes 0.1% of the bytes, not 100%.
  *  - AFEC's single-writer mutex (`Crawler.cpp:685`) disappears: the atomic
  *    pointer flip is the only serialization point and is O(1).
  *
  * == Commit protocol ==
  * A commit writes `snap-N/` (parquet), then `snap-N.schema.json` (the
  * written DataFrame's schema) and `snap-N.json` (the summary: kind,
  * parent, row counts, per-file rows, throughput), then flips `_latest`
  * through a temp file + ATOMIC_MOVE. Each file is written once, before the
  * flip, so a reader never sees a half-described snapshot. Reads plan every
  * snapshot with its recorded schema, so building [[read]], [[readAt]],
  * [[pending]] or [[changedSince]] starts no Spark job (parquet schema
  * inference is a job per read); a snapshot committed without a schema file
  * is still inferred. A delta's `total_rows` is resolved before its commit
  * from the parent's summary: `upserted + parent total − rows of the
  * resolved parent whose key the delta rewrites`, one key-only semi-join
  * count (see [[upsertDelta]]).
  */
object KeyedSink extends SnapshotStore {

  private def latestFile(path: String) = Paths.get(path, "_latest")

  /** Current snapshot id, if any commit exists. */
  def latestSnapshot(path: String): Option[Int] = {
    val f = latestFile(path)
    if (Files.exists(f)) Some(Files.readString(f).trim.stripPrefix("snap-").toInt)
    else None
  }

  private def metaOf(path: String, n: Int): Option[String] = {
    val f = Paths.get(path, s"snap-$n.json")
    if (Files.exists(f)) Some(Files.readString(f)) else None
  }

  private def snapKind(path: String, n: Int): String =
    if (metaOf(path, n).exists(_.contains("\"kind\": \"delta\""))) "delta"
    else "full"

  private def snapParent(path: String, n: Int): Int = {
    val p = metaOf(path, n).flatMap("\"parent\": (\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).getOrElse(0)
    // a parent must be strictly older — a self-referential or forward
    // pointer (corrupt/hand-edited metadata) would otherwise spin the
    // chain walkers (readSnap recursion, deltaChainKeys loop) forever
    if (p >= n)
      throw new IllegalStateException(
        s"corrupt snapshot metadata: snap-$n.json declares parent $p >= $n")
    p
  }

  private def schemaFile(path: String, n: Int) =
    Paths.get(path, s"snap-$n.schema.json")

  /** Snapshot `n`'s own files (not resolved through its chain), planned
    * with the schema its commit recorded — no inference job. A snapshot
    * committed without a schema file is inferred. */
  private def snapFiles(spark: SparkSession, path: String, n: Int): DataFrame = {
    val f = schemaFile(path, n)
    val reader =
      if (!Files.exists(f)) spark.read
      else spark.read.schema(DataType.fromJson(Files.readString(f))
        .asInstanceOf[StructType])
    reader.parquet(s"$path/snap-$n")
  }

  /** Read snapshot `n` resolved through its delta chain (newest wins). */
  private def readSnap(spark: SparkSession, path: String, n: Int,
                       key: String): DataFrame = {
    val cur = snapFiles(spark, path, n)
    if (snapKind(path, n) == "full") cur
    else {
      val base = readSnap(spark, path, snapParent(path, n), key)
      merge(base, cur, key)
    }
  }

  /** Read the latest committed state (empty option when never committed).
    * Delta snapshots are folded over their base at read time (merge-on-read;
    * `key` is needed to resolve last-writer-wins — defaults to `doc_id`). */
  def read(spark: SparkSession, path: String,
           key: String = "doc_id"): Option[DataFrame] =
    latestSnapshot(path).map(n => readSnap(spark, path, n, key))

  /** Time travel: read the table AS OF snapshot `n` (Iceberg
    * `VERSION AS OF` analog — snapshots are immutable once the pointer
    * moves past them, so any committed id stays readable). None when the
    * snapshot was never committed. */
  def readAt(spark: SparkSession, path: String, n: Int,
             key: String = "doc_id"): Option[DataFrame] =
    if (n >= 1 && latestSnapshot(path).exists(_ >= n) &&
        new java.io.File(s"$path/snap-$n").isDirectory)
      Some(readSnap(spark, path, n, key))
    else None

  /** Logical MERGE: rows from `updates` win by `key`; `existing` rows with
    * no update pass through; keys in `deletes` are dropped. Schema
    * EVOLUTION (Iceberg add-column analog): columns present on only one
    * side union through with nulls on the other — an upsert batch may add
    * columns (old rows read null) or omit columns the table already has
    * (new rows carry null, the column is never dropped). */
  def merge(existing: DataFrame, updates: DataFrame, key: String,
            deletes: Option[DataFrame] = None): DataFrame = {
    val kept = existing.join(updates.select(col(key)), Seq(key), "left_anti")
    val merged = updates.unionByName(kept, allowMissingColumns = true)
    deletes match {
      case Some(d) => merged.join(d.select(col(key)), Seq(key), "left_anti")
      case None => merged
    }
  }

  /** Per-partition-file row counts straight from the parquet footers —
    * O(files) metadata reads, no data scan (the per-partition
    * lineage/row-count metrics an Iceberg snapshot summary carries;
    * BASELINE.json "resumable … per-partition checkpoints carrying
    * lineage and row-count metrics into snapshot metadata"). */
  private def fileRowCounts(snapDir: String): Seq[(String, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = new java.io.File(snapDir)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try f.getName -> r.getRecordCount finally r.close()
      }
  }

  /** Throughput fragment for the snapshot summary: the write job's wall
    * clock and its rows/sec — the "row-count/throughput metrics into
    * snapshot metadata" half of the resume contract (an Iceberg deploy
    * carries these as snapshot-summary properties). -1 wall = untimed
    * caller. */
  private def throughputJson(wallMs: Long, rows: Long): String =
    if (wallMs < 0) ""
    else s""", "wall_ms": $wallMs, "rows_per_sec": ${
      if (wallMs == 0) rows * 1000L else rows * 1000L / wallMs}"""

  /** Write snapshot `next`'s schema file and summary, then flip `_latest`
    * to it — the commit point. `total` is the resolved logical row count;
    * the throughput counts the rows WRITTEN (a delta writes only its
    * upserts). */
  private def commit(path: String, next: Int, kind: String, total: Long,
                     nUp: Long, nDel: Long, key: String, schema: StructType,
                     streamBatch: Option[Long] = None,
                     wallMs: Long = -1L): CommitStats = {
    val parent = latestSnapshot(path).getOrElse(0)
    val fileRows = fileRowCounts(s"$path/snap-$next")
    val files = fileRows
      .map { case (n, r) => s"""{"file": "$n", "rows": $r}""" }
      .mkString("[", ", ", "]")
    val sb = streamBatch.map(b => s""", "stream_batch": $b""").getOrElse("") +
      throughputJson(wallMs, if (kind == "delta") nUp else total)
    val meta =
      s"""{"snapshot": $next, "kind": "$kind", "total_rows": $total,
         | "upserted_rows": $nUp, "deleted_rows": $nDel,
         | "partitions": ${fileRows.size}, "parent": $parent,
         | "key": "$key"$sb, "file_rows": $files}""".stripMargin.replace("\n", "")
    Files.writeString(schemaFile(path, next), schema.json)
    Files.writeString(Paths.get(path, s"snap-$next.json"), meta)
    val tmp = Paths.get(path, "_latest.tmp")
    Files.writeString(tmp, s"snap-$next")
    Files.move(tmp, latestFile(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    CommitStats(next, total, nUp, nDel, fileRows.size)
  }

  /** Copy-on-write upsert of `updates` (and optional `deletes`) at `path`.
    * Row counts come from `observe()` on the ONE write job — the update
    * pipeline is never executed twice. */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
             key: String, deletes: Option[DataFrame] = None,
             streamBatch: Option[Long] = None): CommitStats = {
    Files.createDirectories(Paths.get(path))
    val next = latestSnapshot(path).getOrElse(0) + 1
    val updTagged = updates.withColumn("__upd", lit(true))
    // materialize the (small-by-construction) delete changelist ONCE: both
    // the anti-join and the stats count read the checkpoint, so the
    // delete-side pipeline never executes twice
    val delKeys = deletes.map(_.select(col(key)).localCheckpoint(true))
    val merged = read(spark, path, key) match {
      case Some(existing) =>
        val kept = existing.join(updates.select(col(key)), Seq(key), "left_anti")
          .withColumn("__upd", lit(false))
        // allowMissingColumns = schema evolution (see [[merge]])
        val m = updTagged.unionByName(kept, allowMissingColumns = true)
        delKeys match {
          case Some(d) => m.join(d, Seq(key), "left_anti")
          case None => m
        }
      case None => delKeys match {
        case Some(d) => updTagged.join(d, Seq(key), "left_anti")
        case None => updTagged
      }
    }
    val obs = Observation(s"keyed-sink-$next")
    val t0 = System.nanoTime()
    val out = merged.observe(obs,
        count(lit(1)).as("total"),
        sum(when(col("__upd"), 1L).otherwise(0L)).as("upserted"))
      .drop("__upd")
    out.write.mode("overwrite").parquet(s"$path/snap-$next")
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val row = obs.get
    val total = row("total").asInstanceOf[Long]
    val nUp = Option(row("upserted")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nDel = delKeys.map(_.count()).getOrElse(0L) // count on the checkpoint
    commit(path, next, "full", total, nUp, nDel, key, out.schema, streamBatch,
      wallMs)
  }

  /** Merge-on-read upsert: writes ONLY `updates` as a delta snapshot.
    * `totalRows` is the post-merge logical row count, resolved before the
    * one commit (Iceberg reads it from the snapshot summary the same way):
    * `upserted + parent total − rows of the resolved parent whose key is in
    * the delta`. The parent total comes from its summary (a key-only count
    * of the resolved parent when the summary lacks one); the last term is
    * one key-only semi-join count against the written delta's keys. */
  def upsertDelta(spark: SparkSession, path: String, updates: DataFrame,
                  key: String,
                  streamBatch: Option[Long] = None): CommitStats = {
    Files.createDirectories(Paths.get(path))
    val parent = latestSnapshot(path) match {
      case Some(p) => p
      case None => return upsert(spark, path, updates, key, streamBatch = streamBatch)
    }
    val next = parent + 1
    val obs = Observation(s"keyed-sink-delta-$next")
    val snapDir = s"$path/snap-$next"
    val t0 = System.nanoTime()
    updates.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(snapDir)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val nUp = obs.get("n").asInstanceOf[Long]
    val parentKeys = readSnap(spark, path, parent, key).select(col(key))
    val parentTotal = metaOf(path, parent)
      .flatMap("\"total_rows\": (-?\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).filter(_ >= 0L)
      .getOrElse(parentKeys.count())
    val deltaKeys = spark.read.schema(StructType(Seq(updates.schema(key))))
      .parquet(snapDir)
    val replaced = parentKeys.join(deltaKeys, Seq(key), "left_semi").count()
    commit(path, next, "delta", nUp + parentTotal - replaced, nUp, 0L, key,
      updates.schema, streamBatch, wallMs)
  }

  /** Fold the delta chain into one full snapshot (Iceberg rewrite-data-files
    * analog). No-op when the latest snapshot is already full. */
  def compact(spark: SparkSession, path: String, key: String): Option[CommitStats] = {
    val cur = latestSnapshot(path)
    if (cur.isEmpty || snapKind(path, cur.get) == "full") return None
    val folded = readSnap(spark, path, cur.get, key)
    val next = cur.get + 1
    val obs = Observation(s"keyed-sink-compact-$next")
    val t0 = System.nanoTime()
    folded.observe(obs, count(lit(1)).as("total"))
      .write.mode("overwrite").parquet(s"$path/snap-$next")
    val wallMs = (System.nanoTime() - t0) / 1000000L
    val total = obs.get("total").asInstanceOf[Long]
    Some(commit(path, next, "full", total, 0L, 0L, key, folded.schema,
      wallMs = wallMs))
  }

  /** Typed classifier-metadata side table — the `INSERT OR REPLACE INTO
    * classes(classifier, classes)` analog
    * (`SqliteSampleDescriptorPool.cpp:1737-1767`): a keyed snapshot table
    * `(classifier STRING, classes ARRAY<STRING>, model_version STRING)`
    * managed by the same atomic-pointer upsert as the feature table (the
    * reference serializes the class list to JSON for SQLite; parquet keeps
    * it typed). */
  def writeClassifierMeta(spark: SparkSession, path: String,
      entries: Seq[(String, Seq[String], String)]): CommitStats = {
    import spark.implicits._
    upsert(spark, path,
      entries.toDF("classifier", "classes", "model_version"), "classifier")
  }

  /** Read the current classifier side table (None before first commit). */
  def readClassifierMeta(spark: SparkSession,
      path: String): Option[DataFrame] = read(spark, path, "classifier")

  /** The key set written by the delta chain (m, n], newest to oldest —
    * defined only when EVERY snapshot in the range is a delta whose parent
    * chain lands exactly on `m` (a full rewrite or compaction in between
    * forfeits the shortcut). */
  private def deltaChainKeys(spark: SparkSession, path: String, m: Int,
                             n: Int, key: String): Option[DataFrame] = {
    var i = n
    var acc: List[DataFrame] = Nil
    while (i > m) {
      if (snapKind(path, i) == "full") return None
      acc ::= snapFiles(spark, path, i).select(col(key))
      i = snapParent(path, i)
    }
    if (i != m) None
    else Some(acc.reduce(_.unionByName(_)).distinct())
  }

  /** Incremental scan BETWEEN two committed snapshots (Iceberg
    * incremental-read / changelog analog; the table-level form of the
    * reference's re-run diff, `Crawler.cpp:934-998`): every key whose
    * state differs between snapshot `m` and snapshot `n`, with value
    * semantics — `added` (in n only; row values are n's), `updated` (in
    * both, any column differs; row values are n's), `deleted` (in m only;
    * row values are m's last state). `m = 0` means "before the first
    * commit" (everything in n is `added`). None when either snapshot is
    * not committed/readable or `m >= n`.
    *
    * == Scale shape ==
    * When the chain (m, n] is pure deltas, the diff first restricts BOTH
    * sides to the union of delta keys — O(|changed|) rows enter the
    * `exceptAll`, never the full table, and deletes are structurally
    * impossible (deltas only upsert), so the delete anti-join is skipped.
    * A compaction or full rewrite inside the range falls back to the
    * general full-table `exceptAll` diff (what Iceberg avoids by diffing
    * manifests — the parquet-and-pointer protocol has no manifests, so
    * the fallback pays one co-partitioned shuffle of both snapshots). */
  def changedSince(spark: SparkSession, path: String, m: Int, n: Int,
                   key: String = "doc_id"): Option[DataFrame] = {
    if (m >= n || m < 0) return None
    val newOpt = readAt(spark, path, n, key)
    val oldOpt =
      if (m == 0) newOpt.map(df => df.filter(lit(false)))
      else readAt(spark, path, m, key)
    (oldOpt, newOpt) match {
      case (Some(old), Some(nu)) =>
        val cand =
          if (m == 0) None
          else deltaChainKeys(spark, path, m, n, key)
        val (oldC, newC) = cand match {
          case Some(k) => (old.join(k, Seq(key), "left_semi"),
            nu.join(k, Seq(key), "left_semi"))
          case None => (old, nu)
        }
        val changedOrAdded = newC.exceptAll(oldC)
        val oldKeys = oldC.select(col(key))
        val added = changedOrAdded.join(oldKeys, Seq(key), "left_anti")
          .withColumn("change_type", lit("added"))
        val updated = changedOrAdded.join(oldKeys, Seq(key), "left_semi")
          .withColumn("change_type", lit("updated"))
        // pure-delta chains cannot delete; only the fallback pays this join
        val deleted = cand match {
          case Some(_) => old.filter(lit(false))
            .withColumn("change_type", lit("deleted"))
          case None => old.join(nu.select(col(key)), Seq(key), "left_anti")
            .withColumn("change_type", lit("deleted"))
        }
        Some(added.unionByName(updated).unionByName(deleted))
      case _ => None
    }
  }

  /** Resume support: the subset of `src` not yet up-to-date in the sink —
    * new keys plus keys whose `version` differs (modtime-diff semantics,
    * `Crawler.cpp:934-998`). Running the pipeline on `pending` and
    * upserting is an exact incremental re-run. */
  def pending(spark: SparkSession, path: String, src: DataFrame,
              key: String, version: String): DataFrame =
    read(spark, path, key) match {
      case None => src
      case Some(dst) =>
        val d = dst.select(col(key), col(version).as("__v"))
        src.join(d, Seq(key), "left_outer")
          .filter(col("__v").isNull || col("__v") =!= col(version))
          .drop("__v")
    }

  /** Highest stream-batch id committed to this sink (None when no commit
    * carries one). Reads the latest snapshot's metadata only — valid under
    * the streaming contract that the query's `foreachBatch` is the sole
    * writer to its sink path (Spark already serializes micro-batches). */
  def lastStreamBatch(path: String): Option[Long] =
    latestSnapshot(path).flatMap { n =>
      val meta = Paths.get(path, s"snap-$n.json")
      if (!Files.exists(meta)) None
      else "\"stream_batch\": (\\d+)".r
        .findFirstMatchIn(Files.readString(meta)).map(_.group(1).toLong)
    }

  /** Exactly-once micro-batch upsert: commit `updates` as a delta snapshot
    * stamped with `batchId`, or skip (None) when a commit with this or a
    * newer batch id already exists — the replay case after a streaming
    * restart. The batch id rides the SAME metadata JSON whose atomic
    * pointer flip is the commit, so "data visible" and "batch recorded"
    * cannot diverge: a writer killed before the flip leaves no trace and
    * the replayed batch commits cleanly; killed after the flip, the replay
    * sees its own id and skips. This is the Structured Streaming
    * `foreachBatch` idempotence recipe (batchId-keyed writes) fused with
    * the sink's snapshot protocol — end-to-end exactly-once on top of the
    * source's replayed offsets. */
  def upsertStreamBatch(spark: SparkSession, path: String, batchId: Long,
                        updates: DataFrame, key: String): Option[CommitStats] =
    if (lastStreamBatch(path).exists(_ >= batchId)) None
    else Some(upsertDelta(spark, path, updates, key,
      streamBatch = Some(batchId)))

  /** `writeStream.foreachBatch` adapter for [[upsertStreamBatch]]:
    * {{{ ds.writeStream.foreachBatch(KeyedSink.foreachBatchUpsert(p, k)) }}} */
  def foreachBatchUpsert(path: String, key: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      upsertStreamBatch(batch.sparkSession, path, batchId, batch, key)
      ()
    }
}
