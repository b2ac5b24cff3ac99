package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end golden test: run the full micro-batch pipeline on the
  * reference's own sample workbook and assert the reference's observed
  * outputs (FIXTURES.md §3 — values derived by faithful re-execution of
  * /root/reference/app.py on Txn_Details.xlsx).
  */
class GoldenPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val sample = "/root/reference/uploads/Txn_Details.xlsx"

  private def withPipeline(f: Pipeline => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_golden").toString
    f(new Pipeline(spark, s"$tmp/state", s"$tmp/processed"))
  }

  test("golden: first upload reproduces the reference's outputs") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val r = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")

      // merged: 1,041 rows (m:m duplicate inflation), $177,663.67 total
      assert(r.merged.count() === 1041L)
      val total = r.merged.agg(bround(sum("amount"), 2)).head().getDouble(0)
      assert(total === 177663.67)

      // rank table: 100 customers, golden top-3 and bottom
      val rows = r.summary.collect()
      assert(rows.length === 100)
      val top3 = rows.take(3).map(x =>
        (x.getAs[String]("customer_id"), x.getAs[String]("name"),
         x.getAs[Double]("amount"), x.getAs[Int]("rank")))
      assert(top3(0) === (("C0012", "Matthew Fernandez", 8139.46, 1)))
      assert(top3(1) === (("C0036", "Mr. David Ramirez", 4825.09, 2)))
      assert(top3(2) === (("C0079", "Nicole Bowers", 4590.58, 3)))
      val bottom = rows.last
      assert(bottom.getAs[String]("customer_id") === "C0082")
      assert(bottom.getAs[Double]("amount") === 120.08)
      assert(bottom.getAs[Int]("rank") === 100)

      // top spenders per category (4 categories)
      val tops = r.topSpenders.orderBy("category").collect().map(x =>
        (x.getAs[String]("category"), x.getAs[String]("customer_id"),
         x.getAs[Double]("amount"))).toSeq
      assert(tops === Seq(
        ("Accessories", "C0042", 182.30),
        ("Equipment", "C0012", 7632.74),
        ("Fitness", "C0055", 296.98),
        ("Supplements", "C0071", 266.92)))

      // state: upload row counts, 4 intra-batch address changes, 100
      // distinct customers upserted
      val up = p.store.uploads.head()
      assert((up.getAs[Long]("transactions_rows"),
              up.getAs[Long]("customers_rows"),
              up.getAs[Long]("products_rows")) === ((1000L, 104L, 8L)))
      assert(r.nChanges === 4L)
      assert(p.store.customers.count() === 100L)
    }
  }

  test("golden: repeat upload re-toggles addresses (4 then 8 changes)") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val r1 = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")
      val r2 = p.runBatch(sample, timestamp = "2026-01-02T00:00:00")
      assert(r1.nChanges === 4L)
      assert(r2.nChanges === 8L)
      assert(p.store.addressChanges.count() === 12L)
      assert(p.store.customers.count() === 100L)
      // dense upload ids, audit scan newest-first
      assert(p.store.uploadsOrdered.select("id").collect()
        .map(_.getLong(0)).toSeq === Seq(2L, 1L))
      // change ids are dense 1..12
      assert(p.store.addressChanges.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 12L))
    }
  }

  test("golden: 39-upload replay reproduces the reference's end state") {
    // The reference ships upload_logs.db materialized after 39 uploads of
    // the sample workbook: 39 upload rows (1000/104/8 each), 100 customers,
    // 308 address_changes (4 on the first batch, 8 per repeat — SURVEY §5).
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    withPipeline { p =>
      val changes = (1 to 39).map { i =>
        p.runBatch(sample, timestamp = f"2026-01-01T00:00:$i%02d").nChanges
      }
      assert(changes.head === 4L)
      assert(changes.tail.forall(_ === 8L))
      assert(p.store.uploads.count() === 39L)
      assert(p.store.customers.count() === 100L)
      assert(p.store.addressChanges.count() === 308L)  // 4 + 38×8
      // dense id sequences survive the replay
      assert(p.store.uploads.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 39L))
      assert(p.store.addressChanges.select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === (1L to 308L))
    }
  }

  test("rejects workbooks without the required sheets (S2) and bad extensions (S3)") {
    val tmp = Files.createTempDirectory("graft_badwb").toString
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    // wrong extension
    assertThrows[IllegalArgumentException] {
      p.runBatch(s"$tmp/data.csv")
    }
    // xlsx missing required sheets
    import spark.implicits._
    val wb = s"$tmp/partial.xlsx"
    graft.sources.Xlsx.write(wb,
      Seq("Transactions" -> Seq(("a", "b")).toDF("c1", "c2")))
    val e = intercept[IllegalArgumentException] { p.runBatch(wb) }
    assert(e.getMessage.contains("must contain"))
    // all three sheets present, but Customers has no rows at all (not
    // even its header): rejected before an uploads row is written
    val full = SampleWorkbook.write(spark, s"$tmp/full.xlsx", tx = 20,
      customers = 5, dupes = 1).path
    val empty = s"$tmp/empty_customers.xlsx"
    withEmptySheet(full, empty, "xl/worksheets/sheet2.xml")
    assert(graft.sources.Xlsx.read(empty).toMap.get("Customers") ===
      Some(Vector.empty))
    val e2 = intercept[IllegalArgumentException] { p.runBatch(empty) }
    assert(e2.getMessage.contains("must contain"))
    // nothing was recorded against state on the failed batches
    assert(p.store.uploads.count() === 0)
    assert(p.store.customers.count() === 0)
  }

  /** Copies workbook `src` to `dst` with worksheet part `part` emptied. */
  private def withEmptySheet(src: String, dst: String, part: String): Unit = {
    import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
    val in = new ZipFile(src)
    val out = new ZipOutputStream(new java.io.FileOutputStream(dst))
    try in.entries().asIterator().forEachRemaining { e =>
      out.putNextEntry(new ZipEntry(e.getName))
      out.write(
        if (e.getName == part)
          ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<worksheet xmlns="http://schemas.openxmlformats.org/""" +
            """spreadsheetml/2006/main"><sheetData/></worksheet>""")
            .getBytes("UTF-8")
        else in.getInputStream(e).readAllBytes())
      out.closeEntry()
    } finally { out.close(); in.close() }
  }

  test("seeded sample: repeat uploads re-toggle (4 then 8), dense ids, " +
       "3-sheet export") {
    val tmp = Files.createTempDirectory("graft_golden_f").toString
    val wb = SampleWorkbook.write(spark, s"$tmp/Txn_Details.xlsx")
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    val rs = (1 to 3).map(i =>
      p.runBatch(wb.path, timestamp = s"2026-01-0${i}T00:00:00"))
    assert(rs.map(_.nChanges) === Seq(4L, 8L, 8L))
    assert(rs.map(_.uploadId) === Seq(1L, 2L, 3L))
    assert(rs.head.merged.count() === wb.mergedRows)
    assert(rs.head.summary.count() === wb.distinctCustomers.toLong)
    assert(p.store.customers.count() === wb.distinctCustomers.toLong)
    val up = p.store.uploadsOrdered.head()
    assert((up.getAs[Long]("id"), up.getAs[Long]("transactions_rows"),
            up.getAs[Long]("customers_rows"),
            up.getAs[Long]("products_rows")) === ((3L, 1000L, 104L, 8L)))
    assert(p.store.addressChanges.select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (1L to 20L))
    val sheets = graft.sources.Xlsx.read(s"$tmp/processed/processed_1.xlsx")
    assert(sheets.map(_._1) ===
      Seq("CategoryTotalsSummary", "TopSpenders", "MergedData"))
    assert(sheets.head._2.head === Vector("customer_id", "name", "amount", "rank"))
    assert(sheets.head._2.length === 1 + wb.distinctCustomers)
    assert(sheets(2)._2.length === 1 + wb.mergedRows)
  }

  test("golden: processed xlsx export round-trips the rank table") {
    assume(Files.exists(Paths.get(sample)), s"sample workbook missing")
    val tmp = Files.createTempDirectory("graft_golden_x").toString
    val p = new Pipeline(spark, s"$tmp/state", s"$tmp/processed")
    val r = p.runBatch(sample, timestamp = "2026-01-01T00:00:00")
    val sheets = graft.sources.Xlsx.read(s"$tmp/processed/processed_${r.uploadId}.xlsx")
    assert(sheets.map(_._1) ===
      Seq("CategoryTotalsSummary", "TopSpenders", "MergedData"))
    val summaryRows = sheets.head._2
    assert(summaryRows.head === Vector("customer_id", "name", "amount", "rank"))
    assert(summaryRows(1)(0) === "C0012")
    assert(summaryRows(1)(2).toDouble === 8139.46)
    assert(summaryRows.length === 101) // header + 100
    assert(sheets(2)._2.length === 1042) // header + 1041 merged rows
  }
}
