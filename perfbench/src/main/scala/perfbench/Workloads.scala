package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry}
import graft.state.StateStore
import graft.streaming.StreamingPipeline

/** One timed operation: an upload, a wave or a query. */
final case class Op(id: Int, name: String, start: Long, end: Long, error: Option[String]) {
  def seconds: Double = (end - start) / 1e9
}

/** One pass of a workload's operation sequence.
  *
  * @param counters per-pass sizes for the traced metrics (state.*, sources.*)
  * @param check    the output checks, run after the pass and off the clock
  */
final case class Pass(ops: Vector[Op], inputRows: Long, counters: Map[String, Double],
                      check: () => Checked) {
  def wall: Double = ops.map(_.seconds).sum
}

/** Output check result: op id → reason for every op whose output is
  * wrong, plus counters that are read back from the engine's outputs.
  */
final case class Checked(failures: Map[Int, String], counters: Map[String, Double] = Map.empty)

/** A generated input file: its name and its bytes, made from the seed. */
final case class Input(name: String, bytes: () => Array[Byte])

abstract class Workload(val work: Path) {
  /** About how long one pass takes on a 4-core box; a run makes one pass
    * per this many seconds of `--seconds`, so the number of passes follows
    * from `--seconds` alone and not from how fast the run happens to be.
    */
  def passSeconds: Double

  /** Inputs the run writes before set-up, made from the seed alone. */
  def inputs: Seq[Input]
  def warmUp(spark: SparkSession): Unit
  def pass(spark: SparkSession, no: Int, tr: Tracer, nextOp: () => Int): Pass
  /** Runs once after set-up, before the timed passes; returns its ops. */
  def firstPass(spark: SparkSession, nextOp: () => Int): Vector[Op] = Vector.empty

  protected def input(name: String): Path = work.resolve("inputs").resolve(name)

  /** Runs one operation on the clock. Before it, as the engine's own bench
    * does, the session's cache is cleared and the heap collected, so no
    * operation pays for the garbage or cached frames of the one before.
    */
  protected def timed(spark: SparkSession, tr: Tracer, id: Int, name: String)(body: => Unit): Op = {
    spark.catalog.clearCache()
    System.gc()
    val t0 = Clock.now()
    val r = Try(tr.span("op", name, op = id)(body))
    Op(id, name, t0, Clock.now(), r.failed.toOption.map(Workload.describe))
  }
}

object Workload {
  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Compares an exported workbook with the model; None when it matches. */
  def checkExport(path: Path, exp: Expected): Option[String] = Try {
    val sheets = Ooxml.read(path.toString, Set("CategoryTotalsSummary", "TopSpenders"))
    def table(name: String): Vector[Map[String, String]] = {
      val rows = sheets(name)
      rows.tail.map(r => rows.head.zipWithIndex.map { case (h, i) => h -> r.lift(i).orNull }.toMap)
    }
    val summary = table("CategoryTotalsSummary").map(r =>
      (r("customer_id"), r("name"), BigDecimal(r("amount")), r("rank").toDouble.toInt))
    val summaryOk = summary.size == exp.summary.size && summary.zip(exp.summary).forall {
      case ((id, n, a, k), (eid, en, ea, ek)) => id == eid && n == en && a.compare(ea) == 0 && k == ek
    }
    val top = table("TopSpenders")
    val topOk = top.size == exp.top.size && top.forall { r =>
      exp.top.get(r("category")).exists { case (who, amount) =>
        who.contains((r("customer_id"), r("name"))) && BigDecimal(r("amount")).compare(amount) == 0
      }
    }
    if (!summaryOk) Some(s"summary rank table differs from the model (${summary.size} vs ${exp.summary.size} rows)")
    else if (!topOk) Some("top spenders differ from the model")
    else None
  }.fold(e => Some(describe(e)), identity)
}

/** `uploads`: reference-sized workbooks through `Pipeline.runBatch`, one at
  * a time, against one state dir per pass.
  */
final class Uploads(work: Path, seed: Long) extends Workload(work) {
  val PerPass = 3
  val passSeconds = 12.0
  private val books = Workbooks.series(seed, "upload", PerPass, Shape(tx = 1000, customers = 100, dupes = 4, pool = 130))
  private val warm = Workbooks.series(seed, "warmup", 1, Shape(tx = 50, customers = 10, dupes = 2, pool = 12)).head

  def inputs: Seq[Input] = (warm +: books).map(wb => Input(wb.name, () => wb.bytes))

  def warmUp(spark: SparkSession): Unit = {
    val d = work.resolve("warmup")
    new Pipeline(spark, d.resolve("state").toString, d.resolve("out").toString)
      .runBatch(input(warm.name).toString)
  }

  def pass(spark: SparkSession, no: Int, tr: Tracer, nextOp: () => Int): Pass = {
    val d = work.resolve(s"pass$no")
    val pipeline = new Pipeline(spark, d.resolve("state").toString, d.resolve("out").toString)
    val results = books.map { wb =>
      var res: Option[graft.BatchResult] = None
      val op = timed(spark, tr, nextOp(), s"upload ${wb.name}") {
        res = Some(tr.span("pipeline", "Pipeline.runBatch")(pipeline.runBatch(input(wb.name).toString)))
      }
      (wb, op, res)
    }
    val changes = results.flatMap(_._3).map(_.nChanges).sum
    Pass(results.map(_._2), books.map(_.txs.size.toLong).sum,
      Map("state.bytes_on_disk" -> Workload.dirBytes(d.resolve("state")).toDouble,
        "state.change_rows" -> changes.toDouble,
        "state.customer_bytes" -> books.map(_.customerBytes).sum.toDouble,
        "sources.xlsx_bytes_in" -> books.map(wb => Files.size(input(wb.name))).sum.toDouble,
        "sources.xlsx_bytes_out" -> Workload.dirBytes(d.resolve("out")).toDouble),
      () => {
        val model = new ReferenceModel
        val failures = results.flatMap { case (wb, op, res) =>
          val exp = model(wb)
          val why = op.error.orElse(res.flatMap { r =>
            if (r.nChanges != exp.changes) Some(s"change rows ${r.nChanges}, model ${exp.changes}")
            else Workload.checkExport(d.resolve("out").resolve(s"processed_${r.uploadId}.xlsx"), exp)
          })
          why.map(op.id -> _)
        }.toMap
        Checked(failures)
      })
  }
}

/** `backfill`: waves of K large workbooks dropped into a landing dir and
  * applied by the set-based landing stream, one micro-batch per wave.
  */
final class Backfill(work: Path, seed: Long) extends Workload(work) {
  val Waves = 1
  val K = 2
  val passSeconds = 12.0
  private val books = Workbooks.series(seed, "backfill", Waves * K,
    Shape(tx = 10000, customers = 1000, dupes = 20, pool = 1500)).grouped(K).toVector
  private val warm = Workbooks.series(seed, "warmup", 1, Shape(tx = 200, customers = 20, dupes = 2, pool = 25)).head

  def inputs: Seq[Input] = (warm +: books.flatten).map(wb => Input(wb.name, () => wb.bytes))

  private def dirs(d: Path) = Seq("landing", "state", "out", "ckpt").map(d.resolve)

  /** Drops the wave's files into the landing dir, then runs the stream
    * until it has applied everything available.
    */
  private def wave(spark: SparkSession, d: Path, wave: Seq[Workbook], tr: Tracer): Unit = {
    val Seq(landing, state, out, ckpt) = dirs(d)
    tr.span("exec", "landing.drop") {
      Files.createDirectories(landing)
      wave.foreach { wb =>
        val tmp = d.resolve(wb.name + ".part")
        Files.copy(input(wb.name), tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, landing.resolve(wb.name), StandardCopyOption.ATOMIC_MOVE)
      }
    }
    val q = tr.span("streaming", "StreamingPipeline.workbookStreamSetBased") {
      StreamingPipeline.workbookStreamSetBased(spark, landing.toString, state.toString,
        out.toString, ckpt.toString)
    }
    try tr.span("streaming", "StreamingQuery.processAllAvailable")(q.processAllAvailable())
    finally tr.span("streaming", "StreamingQuery.stop")(q.stop())
    q.exception.foreach(e => throw e)
  }

  def warmUp(spark: SparkSession): Unit =
    wave(spark, work.resolve("warmup"), Seq(warm), new Tracer(false))

  def pass(spark: SparkSession, no: Int, tr: Tracer, nextOp: () => Int): Pass = {
    val d = work.resolve(s"pass$no")
    val ops = books.zipWithIndex.map { case (w, i) =>
      timed(spark, tr, nextOp(), s"wave $i (${w.size} workbooks)")(wave(spark, d, w, tr))
    }
    val Seq(_, state, out, _) = dirs(d)
    val all = books.flatten
    Pass(ops, all.map(_.txs.size.toLong).sum,
      Map("state.bytes_on_disk" -> Workload.dirBytes(state).toDouble,
        "state.customer_bytes" -> all.map(_.customerBytes).sum.toDouble,
        "sources.xlsx_bytes_in" -> all.map(wb => Files.size(input(wb.name))).sum.toDouble,
        "sources.xlsx_bytes_out" -> Workload.dirBytes(out).toDouble),
      () => {
        val store = new StateStore(spark, state.toString)
        val ids = store.uploads.select("filename", "id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val changes = store.addressChanges.groupBy("upload_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val model = new ReferenceModel
        val failures = books.zip(ops).flatMap { case (w, op) =>
          val why = w.sortBy(_.name).iterator.map { wb =>
            val exp = model(wb)
            op.error.orElse(ids.get(wb.name) match {
              case None => Some(s"${wb.name} was never applied")
              case Some(id) =>
                val got = changes.getOrElse(id, 0L)
                if (got != exp.changes) Some(s"${wb.name}: change rows $got, model ${exp.changes}")
                else Workload.checkExport(out.resolve(s"processed_$id.xlsx"), exp)
                  .map(r => s"${wb.name}: $r")
            })
          }.collectFirst { case Some(r) => r }
          why.map(op.id -> _)
        }.toMap
        Checked(failures, Map("state.change_rows" -> changes.values.sum.toDouble))
      })
  }
}

/** `analytics`: one analyst running a fixed query mix from the engine's
  * registry over seeded star-schema tables, each materialized through the
  * noop sink, in an order drawn from the seed.
  */
final class Analytics(work: Path, seed: Long, data: Path) extends Workload(work) {
  val passSeconds = 7.0
  /** Query → the tables it reads (for rows_per_s): the relational chain
    * of the reference flow and four of the ROADMAP's open rows. The composed
    * chains (corpus_production, incremental_production,
    * incremental_relabel) are left out: cold, warm and with their DuckDB
    * oracles each takes 15 s or more of a run.
    */
  val Mix: Seq[(String, Seq[String])] = {
    val fact = Seq("lineitem", "orders", "part", "customer")
    Seq("flagship_rank" -> fact, "top_spenders" -> fact, "nested_details" -> fact,
      "gapfill_hourly" -> Seq("events"), "range_bounds" -> Seq("lineitem"),
      "degree_hist" -> Seq("documents"), "triangle_count" -> Seq("documents"))
  }
  val order: Seq[String] = {
    val rng = new java.util.Random(seed)
    scala.util.Random.javaRandomToRandom(rng).shuffle(Mix.map(_._1))
  }
  private val rows: Map[String, Long] =
    Files.readAllLines(data.resolve("manifest.tsv")).asScala.map(_.split("\t"))
      .map(f => f(0) -> f(1).toLong).toMap

  /** The tables are written by the launcher; their row digests stand in
    * for file bytes (parquet files carry writer metadata).
    */
  def inputs: Seq[Input] = Seq(Input("manifest.tsv", () => Files.readAllBytes(data.resolve("manifest.tsv"))))

  private def run(spark: SparkSession, q: String, tr: Tracer)(sink: DataFrame => Unit): Unit = {
    val df = tr.span("registry", s"SparkEntry.queries($q)")(SparkEntry.queries(q)(spark, data.toString))
    tr.span("exec", s"write $q")(sink(df))
  }

  def warmUp(spark: SparkSession): Unit =
    run(spark, "flagship_rank", new Tracer(false))(_.write.format("noop").mode("overwrite").save())

  /** The correctness pass: every query's output to parquet, with the
    * oracle SQL beside it, for the launcher's DuckDB comparison.
    */
  override def firstPass(spark: SparkSession, nextOp: () => Int): Vector[Op] = {
    val outDir = work.resolve("outputs")
    val sql = SparkEntry.oracleSql
    val json = order.filter(sql.contains).map(q => s"${Json.str(q)}:${Json.str(sql(q))}")
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"), json.mkString("{", ",", "}"))
    order.map { q =>
      timed(spark, new Tracer(false), nextOp(), q)(run(spark, q, new Tracer(false))(
        _.write.mode("overwrite").parquet(outDir.resolve(q).toString)))
    }.toVector
  }

  def pass(spark: SparkSession, no: Int, tr: Tracer, nextOp: () => Int): Pass = {
    val ops = order.map { q =>
      timed(spark, tr, nextOp(), q)(run(spark, q, tr)(_.write.format("noop").mode("overwrite").save()))
    }.toVector
    Pass(ops, Mix.map(_._2.map(rows).sum).sum, Map.empty,
      () => Checked(ops.flatMap(o => o.error.map(o.id -> _)).toMap))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
