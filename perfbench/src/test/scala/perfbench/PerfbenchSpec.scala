package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {
  private val shape = Shape(tx = 200, customers = 30, dupes = 3, pool = 40)

  test("the same seed gives the same workbook bytes, another seed other bytes") {
    def digests(seed: Long) = Workbooks.series(seed, "upload", 3, shape).map(wb => Workbooks.sha256(wb.bytes))
    assert(digests(7) == digests(7))
    assert(digests(7) != digests(8))
  }

  test("generated workbooks carry in-file duplicate customers and address changes") {
    val wbs = Workbooks.series(1, "upload", 2, shape)
    wbs.foreach(wb => assert(wb.customers.size - wb.customers.map(_.id).distinct.size == shape.dupes))
    val model = new ReferenceModel
    assert(model(wbs(0)).changes >= shape.dupes - 1)
    assert(model(wbs(1)).changes > 0)
  }

  test("the engine's xlsx reader sees the cells the benchmark wrote") {
    val wb = Workbooks.series(3, "upload", 1, shape).head
    val f = java.nio.file.Files.createTempFile("perfbench", ".xlsx")
    try {
      Ooxml.write(f, wb.sheets)
      val engine = graft.sources.Xlsx.read(f.toString).toMap
      val ours = Ooxml.read(f.toString)
      assert(engine.keySet == Set("Transactions", "Customers", "Products"))
      assert(engine.keySet.forall(k => engine(k) == ours(k)))
      assert(engine("Transactions")(1)(4) == Workbooks.money(wb.txs.head.cents))
    } finally java.nio.file.Files.delete(f)
  }

  test("the model inflates duplicated customers, rounds to cents and dense-ranks") {
    val a1 = Customer("C0001", "Ann", "a@x", "1990-01-01", "1 Road", "1.0")
    val a2 = a1.copy(address = "2 Road")
    val b = Customer("C0002", "Bob", "b@x", "1990-01-01", "3 Road", "1.0")
    val c = Customer("C0003", "Cy", "c@x", "1990-01-01", "4 Road", "1.0")
    val p = Workbooks.Products
    val txs = Vector(Tx("TXN00001", "C0001", 45000, "P001", 1005, "Cash"), // 10.05, twice
      Tx("TXN00002", "C0002", 45000, "P003", 2010, "Cash"),
      Tx("TXN00003", "C0003", 45000, "P007", 1000, "Cash"), // both Accessories
      Tx("TXN00004", "C0003", 45000, "P008", 1010, "Cash"))
    val exp = new ReferenceModel()(Workbook("t.xlsx", txs, Vector(a1, b, a2, c), p))
    assert(exp.changes == 1)
    assert(exp.summary.map(r => (r._1, r._3, r._4)) == Vector(
      ("C0001", BigDecimal("20.10"), 1), ("C0002", BigDecimal("20.10"), 1), ("C0003", BigDecimal("20.10"), 1)))
    assert(exp.top("Accessories") == (Set(("C0003", "Cy")), BigDecimal("20.10")))
    assert(exp.top("Supplements") == (Set(("C0001", "Ann")), BigDecimal("20.10")))
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((50, 10.0)))
    assert(Stats.tail((1 to 40).map(_.toDouble).reverse).contains((75, 30.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).contains((99, 990.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time is the duration minus the union of the children inside it") {
    val spans = Seq(Span(0, -1, 1, "op", "op", 0, 100), Span(1, 0, 1, "state", "a", 10, 30),
      Span(2, 0, 1, "state", "b", 20, 50), Span(3, 0, 1, "sources", "c", 90, 130),
      Span(4, 1, 1, "state", "d", 12, 14))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 18)
    assert(self(3) == 40)
    assert(Trace.covered(Seq((5, 8), (1, 3), (2, 4)), 0, 10) == 6)
  }

  test("a job's layer is the first engine or benchmark frame of its call site") {
    def site(frames: String*) = frames.mkString("\n")
    assert(Layers.ofCallSite(site("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.state.StateStore.applyCustomerBatch(StateStore.scala:198)",
      "graft.Pipeline.runBatchImpl(Pipeline.scala:100)")) == "state")
    assert(Layers.ofCallSite(site("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.Pipeline.runBatchSheets(Pipeline.scala:82)")) == "pipeline")
    assert(Layers.ofCallSite("graft.operators.Relational$.promoteHeader(Relational.scala:62)") == "operators")
    assert(Layers.ofCallSite("graft.functions.TokenNgrams.eval(TokenNgrams.scala:1)") == "operators")
    assert(Layers.ofCallSite("graft.sources.Xlsx$.write(Xlsx.scala:179)") == "sources")
    assert(Layers.ofCallSite("graft.model.Tables$.load(Tables.scala:21)") == "sources")
    assert(Layers.ofCallSite("graft.streaming.StreamingPipeline$.$anonfun$x$1(StreamingPipeline.scala:620)") == "streaming")
    // every job of a stream carries the call site of the stream's start()
    assert(Layers.ofCallSite(site("org.apache.spark.sql.classic.DataStreamWriter.start(DataStreamWriter.scala:1)",
      "graft.streaming.StreamingPipeline$.workbookStreamSetBased(StreamingPipeline.scala:1)",
      "perfbench.Backfill.wave(Workloads.scala:1)")) == "streaming")
    assert(Layers.ofCallSite("graft.EntryQueries$.$anonfun$all$1(EntryQueries.scala:40)") == "registry")
    assert(Layers.ofCallSite("perfbench.Analytics.run(Workloads.scala:1)") == "exec")
    assert(Layers.ofCallSite("graft.Bench$.main(Bench.scala:1)") == "other")
    assert(Layers.ofCallSite(site("java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
      "java.lang.Thread.run(Thread.java:840)")) == "other")
  }
}
