package graft.state

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Persistent state for the micro-batch pipeline — the Spark-native
  * re-expression of the reference's SQLite layer
  * (/root/reference/app.py:20-52): `uploads` run metadata (S5/S6),
  * `customers` keyed upsert dimension (S7), `address_changes` CDC log
  * (S8), and the ordered audit scans (S10/S11).
  *
  * The reference's per-row `SELECT` + `INSERT OR REPLACE` loop
  * (app.py:110-123) is replaced by *set-based* plans with identical
  * semantics (SURVEY.md J3/S7): one window + one join per batch instead
  * of 2N point statements.
  *
  * Storage goes through the pluggable [[StateBackend]] (default:
  * [[ParquetSwapBackend]] — write-to-temp + atomic directory swap). On
  * an object store / multi-writer deployment a transactional table
  * format's MERGE drops into that interface; the operator semantics
  * here do not change.
  *
  * Concurrency/scale notes:
  *  - upload ids and change ids are dense driver-side sequences — the
  *    reference's AUTOINCREMENT contract (app.py:89). Single-writer by
  *    design, exactly like the reference.
  */
class StateStore(spark: SparkSession, dir: String,
                 backend0: Option[StateBackend] = None) {

  private val root = Paths.get(dir)
  Files.createDirectories(root)
  private val backend: StateBackend =
    backend0.getOrElse(new ParquetSwapBackend(spark, root))
  backend.recoverAll()

  def customers: DataFrame =
    backend.read("customers", Tables.customersSchema)
  def uploads: DataFrame =
    backend.read("uploads", Tables.uploadsSchema)
  def addressChanges: DataFrame =
    backend.read("address_changes", Tables.addressChangesSchema)

  /** S10: uploads audit listing, newest first (app.py:193-197). */
  def uploadsOrdered: DataFrame =
    uploads.orderBy(desc("timestamp"), desc("id"))

  /** S11: address-change audit listing, newest first (app.py:199-203). */
  def addressChangesOrdered: DataFrame =
    addressChanges.orderBy(desc("change_timestamp"), desc("id"))

  /** S6: append N upload rows in ONE write with dense ids in sequence
    * order — a driver-side single-writer sequence (the reference's
    * AUTOINCREMENT, app.py:89), NOT `monotonically_increasing_id`, which
    * is neither dense nor stable. One metadata append per micro-batch;
    * a single upload passes one element.
    *
    * @param metas (filename, timestamp, txRows, custRows, prodRows) in
    *              file order
    * @return the allocated dense ids, in the same order
    */
  def recordUploads(metas: Seq[(String, String, Long, Long, Long)])
      : Seq[Long] = {
    if (metas.isEmpty) return Seq.empty
    val base = uploads.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    val rows = metas.zipWithIndex.map { case ((fn, ts, t, c, p), i) =>
      Row(base + i + 1L, fn, ts, t, c, p)
    }
    backend.append("uploads", spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      Tables.uploadsSchema))
    metas.indices.map(base + _ + 1L)
  }

  /** Content-digest ingest ledger (idempotent re-ingest twin — see
    * [[graft.model.Tables.uploadDigestsSchema]]).
    */
  def uploadDigests: DataFrame =
    backend.read("upload_digests", Tables.uploadDigestsSchema)

  /** Records ingested files' content digests, appended AFTER their
    * state effects commit, so a crash between the two replays the files
    * (at-least-once) rather than silently dropping them. ONE backend
    * append for a whole micro-batch's survivor digests. The single write
    * is what makes the digest-gated landing's at-least-once claim hold:
    * the landing sink overwrites its per-batch dir on replay, so a
    * per-file digest loop that crashes midway would anti-join out the
    * recorded files on replay and rewrite the batch dir WITHOUT their
    * documents. With one
    * append the ledger update is all-or-nothing relative to the batch
    * replay — either no digest committed (full reprocess) or all (full
    * skip).
    *
    * @param entries (digest, uploadId, filename, timestamp) per file
    */
  def recordUploadDigests(
      entries: Seq[(String, Long, String, String)]): Unit = {
    if (entries.isEmpty) return
    val rows = entries.map { case (dg, id, fn, ts) => Row(dg, id, fn, ts) }
    // coalesce(1): the append must land as ONE part-file so the batch's
    // ledger update is a single rename at job commit — a multi-part
    // LocalRelation write commits file-by-file, and a crash mid-commit
    // would surface a PARTIAL digest set, reopening the replay window
    // this method exists to close (round-12 ADVICE). The frame is a
    // micro-batch's worth of 4-column rows; one partition is its
    // natural shape.
    backend.append("upload_digests", spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      Tables.uploadDigestsSchema).coalesce(1))
  }

  /** J3 + S7 + S8 (app.py:110-123): CDC against *mutating intra-batch
    * state* plus last-writer-wins upsert, set-based, for a micro-batch of
    * N workbooks' customer rows concatenated in file order — ONE CDC pass
    * and ONE customers swap however many files the batch holds.
    *
    * For the k-th occurrence of a customer in (file, row) order, the
    * "old" address is the (k-1)-th occurrence's address, or the stored
    * state for k=1 — `coalesce(lag(address) over (_upload_seq,
    * _row_idx), stored)`. File k's first occurrence therefore lags to
    * file k−1's last one: exactly the stored state a sequential per-file
    * application would have seen after file k−1's upsert, so one call
    * over N files equals N one-file calls (StateStoreSpec asserts it). A
    * change row is emitted whenever old exists and differs, so repeat
    * uploads of a file with intra-batch duplicates re-toggle addresses
    * every time (4 changes then 8 per repeat on the reference sample —
    * deliberately non-idempotent, SURVEY.md §7.4.3).
    *
    * Change rows attribute to the upload id of the file they occurred in;
    * change ids stay dense in (file, row) order; the last-wins upsert
    * winner carries its own file's upload id.
    *
    * Crash consistency: the change append commits BEFORE the customers
    * rewrite. Change rows already logged under one of `uploadIds` are
    * replaced, not appended to, so re-applying a batch under the SAME
    * upload ids does not double-log. The pipeline does not replay that
    * way: [[recordUploads]] allocates fresh ids on every attempt, so a
    * crash between the two writes leaves the failed attempt's uploads
    * row and change rows behind, and the replay logs its changes again
    * under new ids. Cross-table atomicity needs a transactional table
    * format (a [[StateBackend]] drop-in).
    *
    * `batch` is materialized several times (change count, change write,
    * upsert write); callers whose batch lineage is expensive (a workbook
    * parse) persist it for the call, as [[graft.Pipeline]] does — caching
    * is caller-owned so an already-cached frame is not clobbered here.
    *
    * @param batch parsed customer rows carrying `_upload_seq` (0-based
    *              file index within the batch) and `_row_idx` (file order)
    * @param uploadIds upload id per `_upload_seq`, in file order
    * @return change-row count per upload id (0 for files with none)
    */
  def applyCustomerBatch(batch: DataFrame, timestamp: String,
                         uploadIds: Seq[Long]): Map[Long, Long] = {
    require(uploadIds.nonEmpty, "applyCustomerBatch: no uploads")
    val idForSeq = element_at(
      array(uploadIds.map(lit): _*), col("_upload_seq") + 1).cast("long")
    val occ = Window.partitionBy("customer_id")
      .orderBy("_upload_seq", "_row_idx")
    val stored = customers.select(col("customer_id"),
      col("address").as("_stored_address"))
    val withOld = batch
      .join(stored, Seq("customer_id"), "left")
      .withColumn("_old",
        coalesce(lag("address", 1).over(occ), col("_stored_address")))

    val changes = withOld
      .where(col("_old").isNotNull && col("_old") =!= col("address"))
      .select(col("customer_id"), col("_old").as("old_address"),
        col("address").as("new_address"),
        lit(timestamp).as("change_timestamp"),
        idForSeq.as("upload_id"), col("_upload_seq"), col("_row_idx"))

    // Normal operation pays only this take-1 probe; the rewrite runs only
    // when a caller re-applies under upload ids that already logged rows.
    if (!addressChanges.where(col("upload_id").isin(uploadIds: _*)).isEmpty)
      backend.rewrite("address_changes",
        addressChanges.where(!col("upload_id").isin(uploadIds: _*)))

    // Dense change ids in (file, row) order. The unpartitioned window only
    // ever sees this batch's change rows (a per-batch trickle).
    val maxId =
      addressChanges.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    val idd = changes.withColumn("id",
        (lit(maxId) + row_number().over(
          Window.orderBy("_upload_seq", "_row_idx"))).cast("long"))
      .select(Tables.addressChangesSchema.fieldNames.toSeq.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val perUpload =
      try {
        val counts = idd.groupBy("upload_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (counts.valuesIterator.sum > 0) backend.append("address_changes", idd)
        uploadIds.map(id => id -> counts.getOrElse(id, 0L)).toMap
      } finally idd.unpersist(blocking = false)

    // S7 upsert: the batch-global last occurrence wins — (file, row)
    // descending — and carries its file's upload id.
    val lastWins = batch
      .withColumn("_rn",
        row_number().over(Window.partitionBy("customer_id")
          .orderBy(desc("_upload_seq"), desc("_row_idx"))))
      .where(col("_rn") === 1)
      .select(col("customer_id"), col("name"), col("email"), col("dob"),
        col("address"), col("created_date"), idForSeq.as("upload_id"))
    val newState = customers
      .join(lastWins.select("customer_id"), Seq("customer_id"), "left_anti")
      .unionByName(lastWins)

    backend.rewrite("customers", newState)
    perUpload
  }
}
