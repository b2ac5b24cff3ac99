package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Xlsx
import graft.state.StateStore

/** One micro-batch outcome (the reference's render/download payload,
  * /root/reference/app.py:169-174).
  */
case class BatchResult(
    uploadId: Long,
    summary: DataFrame,      // category_totals_summary: rank table
    topSpenders: DataFrame,  // one row per category
    merged: DataFrame,       // 14-column joined detail
    nested: DataFrame,       // per-customer category detail (A4)
    nChanges: Long)          // address-change rows captured this batch

/** The end-to-end micro-batch pipeline — the Spark-native equivalent of
  * the reference's `upload_file` flow (/root/reference/app.py:58-182):
  * xlsx ingest → sheet validation → upload metadata → customer parse →
  * CDC + upsert → header promotion → joins → aggregates → ranked outputs
  * → 3-sheet xlsx export.
  *
  * This is the reference-parity path: amounts are float64 with banker's
  * rounding, duplicate customers inflate the m:m join, repeat uploads
  * re-toggle addresses — all deliberately preserved (SURVEY.md §7.4).
  * The GoldenPipelineSpec asserts the reference's golden values on its
  * own sample workbook.
  */
class Pipeline(spark: SparkSession, stateDir: String, processedDir: String,
               shardThreshold: Long = Xlsx.DefaultShardThreshold) {

  val store = new StateStore(spark, stateDir)
  Files.createDirectories(Paths.get(processedDir))

  val RequiredSheets = Seq("Transactions", "Customers", "Products")

  /** S3: the reference accepts only .xlsx uploads (app.py:55-56). */
  def allowedFile(filename: String): Boolean =
    filename.toLowerCase.endsWith(".xlsx")

  /** Run one workbook as a micro-batch against persistent state.
    *
    * @param timestamp one ISO timestamp per batch (app.py:78 — computed
    *                  once, shared by all change rows; F9)
    */
  def runBatch(workbookPath: String,
               timestamp: String = LocalDateTime.now().toString)
      : BatchResult = {
    val filename = Paths.get(workbookPath).getFileName.toString
    require(allowedFile(filename), s"not an xlsx: $filename")

    val sheets = Xlsx.readSheets(spark, workbookPath).view
      .mapValues(_.withColumn("_source", lit(workbookPath))).toMap
    applyBatch(Seq(workbookPath), sheets, timestamp).head
  }

  /** One stateful micro-batch over N workbooks, in file order: the single
    * path by which a workbook reaches state, whether [[runBatch]] parsed
    * one on the driver or the set-based landing stream parsed many on
    * the executors
    * ([[graft.streaming.StreamingPipeline.workbookStreamSetBased]]).
    *
    *  1. S2 + row counts: one aggregate over the three sheets; every file
    *     must carry each required sheet with at least its header row, or
    *     the batch fails before ANY state is touched;
    *  2. one [[StateStore.recordUploads]] append (dense ids in file order);
    *  3. one customer parse, tagged `_upload_seq` by file position;
    *  4. one CDC + upsert ([[StateStore.applyCustomerBatch]] — equal to
    *     applying the files one by one);
    *  5. the per-file stateless [[renderBatch]] tail.
    *
    * @param paths  the batch's workbooks in file order, as tagged in
    *               `_source`
    * @param sheets sheet name → `_source`, `_row_idx`, `_c0..` rows of
    *               every workbook in the batch; a missing key is a sheet
    *               absent from every file
    */
  private[graft] def applyBatch(paths: Seq[String],
                                sheets: Map[String, DataFrame],
                                timestamp: String): Seq[BatchResult] = {
    val counts: Map[(String, String), Long] =
      RequiredSheets.filter(sheets.contains)
        .map(s => sheets(s).select(lit(s).as("_sheet"), col("_source")))
        .reduceOption(_ unionByName _).toSeq
        .flatMap(_.groupBy("_sheet", "_source").count().collect())
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (p <- paths; s <- RequiredSheets)                          // S2
      require(counts.getOrElse((s, p), 0L) > 0,
        s"File must contain Transactions, Customers, and Products " +
          s"sheets. ($p: $s missing or empty)")

    // A5 + S6: per-sheet data row counts (minus header), dense upload ids.
    val uploadIds = store.recordUploads(paths.map { p =>
      (Paths.get(p).getFileName.toString, timestamp,
        counts(("Transactions", p)) - 1, counts(("Customers", p)) - 1,
        counts(("Products", p)) - 1)
    })

    // P1-P9: skip header row, parse packed records, keep file order.
    // Cached for the batch: the CDC/upsert layer and the analytics chain
    // materialize it several times; the cache is dropped before returning
    // (post-return re-reads of the BatchResult frames re-derive lazily).
    val parsed = Relational.parseCustomers(
        sheets("Customers").where(col("_row_idx") > 0), "_c0",
        passthrough = Seq("_row_idx", "_source"))
      .withColumn("_upload_seq",
        array_position(array(paths.map(lit): _*), col("_source")).cast("int") - 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // J3 + S7 + S8: CDC capture + last-wins upsert for the whole batch.
      val nChanges = store.applyCustomerBatch(
        parsed.drop("_source"), timestamp, uploadIds)
      paths.zip(uploadIds).map { case (p, id) =>
        def own(df: DataFrame) =
          df.where(col("_source") === p).drop("_source", "_upload_seq")
        renderBatch(own(parsed), own(sheets("Transactions")),
          own(sheets("Products")), id, nChanges(id))
      }
    } finally parsed.unpersist(blocking = false)
  }

  /** The stateless tail of a micro-batch — joins, aggregates, ranked
    * outputs, xlsx export — for one file whose STATE effects (upload
    * metadata, CDC, upsert) [[applyBatch]] already applied.
    */
  private def renderBatch(parsed: DataFrame, txRaw: DataFrame,
                          prodRaw: DataFrame, uploadId: Long,
                          nChanges: Long): BatchResult = {
    // P10-P11: header promotion; the batch's own (possibly duplicated)
    // customer view joins the analytics — not the deduped state table
    // (app.py:132 uses the parsed frame; SURVEY.md §7.4.2).
    val transactions = Relational.promoteHeader(txRaw)
      .withColumnRenamed("_row_idx", "_tx_idx")
    val products = Relational.promoteHeader(prodRaw).drop("_row_idx")
    val customersBatch = parsed.withColumnRenamed("_row_idx", "_cust_idx")

    // J1 + J2 + P12. Row order mirrors pandas merge output (left row
    // order, then right occurrence order) via the carried indices.
    val merged = Relational.castAmount(
        Relational.enrich(transactions, products, customersBatch))
      .orderBy("_tx_idx", "_cust_idx")
      .select("transaction_id", "customer_id", "transaction_date",
        "product_code", "amount", "payment_type", "product_name", "category",
        "unit_price", "name", "email", "dob", "address", "created_date")

    // A1 → A2/W1 + A3 + A4. The parity path uses the literal W1 window
    // form: its input is one row per customer (bounded by the workbook),
    // and unlike the two-phase scale path it caches nothing — a
    // long-lived ingestion service must not accumulate persisted frames
    // per batch. The scale path is the SparkEntry flagship default and
    // is equality-tested against this form in RelationalSpec.
    val categoryTotals = Relational.categoryTotals(merged)
    val summary = Relational.summaryRankedWindow(categoryTotals)
    val top = Relational.topSpenders(categoryTotals)
    val nested = Relational.nestDetails(categoryTotals)

    // S12: 3-sheet export, rows ordered as rendered (SURVEY.md §7.4.5).
    // Size-aware (SURVEY §7.4.8): the bounded summary/top sheets always
    // collect into the single workbook; the input-sized MergedData sheet
    // switches to the executor-side sharded writer past shardThreshold
    // rows, so a large upload never collects its detail on the driver.
    Xlsx.writeAuto(s"$processedDir/processed_$uploadId.xlsx",
      Seq("CategoryTotalsSummary" -> summary,
        "TopSpenders" -> top.orderBy("category")),
      "MergedData" -> merged,
      shardThreshold)

    BatchResult(uploadId, summary, top, merged, nested, nChanges)
  }
}
