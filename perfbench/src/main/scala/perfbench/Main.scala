package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate the seeded inputs, set up a Spark session
  * once, cold (session start plus a warm-up operation, timed as `setup_s`),
  * then time passes of the workload's operation sequence for about `--seconds`
  * (one pass per [[Workload.passSeconds]]),
  * check every output, and write `result.json` into the work dir.
  *
  * With `--trace 1` the run makes four passes: untraced, untraced, traced,
  * untraced. The first warms the JVM; the traced one carries the
  * benchmark's listener and spans and gives the per-layer metrics and,
  * against the mean of the untraced passes on either side of it, the
  * tracing overhead.
  *
  * `--report <spans.tsv>` prints the per-layer table of an earlier span dump.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("report") match {
      case Some(f) => println(Trace.layerTable(Trace.load(Paths.get(f))))
      case None => sys.exit(run(opts))
    }
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (Clock.now() - t0) / 1e9

  def run(opts: Map[String, String]): Int = {
    Clock.now()
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = math.min(4, Machine.nproc)
    val machine = Machine.window()

    val wl: Workload = name match {
      case "uploads" => new Uploads(work, seed)
      case "backfill" => new Backfill(work, seed)
      case "analytics" => new Analytics(work, seed, Paths.get(opts("data")).toAbsolutePath)
      case other => sys.error(s"unknown workload $other")
    }
    val digestErrors = writeInputs(wl, work, Paths.get(opts("digests")), name, seed)
    println(f"inputs ready at ${secs(0)}%.1f s")

    val t0 = Clock.now()
    val spark = session(work, cpus)
    wl.warmUp(spark)
    val setup = secs(t0)
    println(f"setup $setup%.3f s, done at ${secs(0)}%.1f s")

    var opId = 0
    val nextOp = () => { opId += 1; opId }
    val first = wl.firstPass(spark, nextOp)
    first.foreach(o => println(f"  checked op ${o.id}%3d ${o.seconds}%8.3f s  ${o.name}"))
    println(f"first pass done at ${secs(0)}%.1f s")

    val probe = new SparkProbe
    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean, VectorMap[String, Double])]
    val failures = mutable.LinkedHashMap.empty[Int, String]
    first.foreach(o => o.error.foreach(failures(o.id) = _))
    val timedPasses = math.max(1, math.round(seconds / wl.passSeconds).toInt)
    def another: Boolean = passes.size < (if (trace) 4 else timedPasses)
    while (another) {
      val traced = trace && passes.size == 2
      val tr = new Tracer(traced)
      if (traced) { SparkProbe.drain(spark.sparkContext); probe.reset(); probe.attach(spark) }
      val p = wl.pass(spark, passes.size, tr, nextOp)
      val layers = if (traced) { probe.detach(spark); layerMetrics(p, probe, tr) } else VectorMap.empty[String, Double]
      val checked = p.check()
      failures ++= checked.failures
      passes += ((p, traced, layers ++ checked.counters.filter(c => layers.contains(c._1))))
      if (traced) {
        p.ops.foreach { o =>
          val js = probe.jobs.filter(j => j.start >= o.start && j.start <= o.end)
          val byLayer = js.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, g) => s"$l ${g.size}" }
          println(s"  op ${o.id}: ${js.size} jobs = ${byLayer.mkString(" + ")}")
        }
        val dump = work.resolve(s"spans_pass${passes.size - 1}.tsv")
        Trace.dump(tr.recorded, dump)
        println(s"span dump: $dump")
        println(Trace.layerTable(Trace.load(dump)))
      }
      p.ops.foreach(o => println(f"  op ${o.id}%3d ${o.seconds}%8.3f s  ${o.name}${failures.get(o.id).fold("")("  FAILED: " + _)}"))
    }
    val peakRss = Machine.peakRssMb()
    println(f"passes done at ${secs(0)}%.1f s")
    spark.stop()
    println(f"stopped at ${secs(0)}%.1f s")
    val box = machine()

    val timedOps = passes.filterNot(_._2).flatMap(_._1.ops)
    val untraced = passes.filterNot(_._2).map(_._1)
    val attempted = first.size + passes.map(_._1.ops.size).sum
    val failed = failures.size + (if (digestErrors.nonEmpty) 1 else 0)
    val opSecs = timedOps.map(_.seconds).toSeq
    val wall = Stats.median(untraced.map(_.wall).toSeq)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("wall_s") = (wall, "s")
      metrics("op_p50_s") = (Stats.median(opSecs), "s")
      Stats.tail(opSecs).foreach { case (p, v) =>
        metrics("op_tail_s") = (v, "s")
        println(s"op_tail_s is p$p of ${opSecs.size} ops")
      }
      metrics("rows_per_s") = (untraced.head.inputRows / wall, "rows/s")
      metrics("setup_s") = (setup, "s")
      metrics("peak_rss_mb") = (peakRss, "MiB")
    } else {
      val tracedPasses = passes.filter(_._2)
      val names = tracedPasses.flatMap(_._3.keys).distinct
      names.foreach { k =>
        metrics(k) = (Stats.median(tracedPasses.map(_._3.getOrElse(k, 0.0)).toSeq), unit(k))
      }
      val tw = Stats.median(tracedPasses.map(_._1.wall).toSeq)
      val base = Stats.median(untraced.drop(1).map(_.wall).toSeq)
      metrics("trace.overhead_pct") = (100 * (tw - base) / base, "%")
    }

    failures.foreach { case (id, why) => println(s"FAILED op $id: $why") }
    digestErrors.foreach(e => println(s"FAILED input digest: $e"))
    if (box.busy) println("machine was busy during this run: " + box.json)
    val json = new StringBuilder("{")
    json ++= s""""workload":${Json.str(name)},"seed":$seed,"trace":${if (trace) 1 else 0},"""
    json ++= s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,"""
    json ++= s""""passes":${untraced.size},"ops_per_pass":${untraced.head.ops.size},"""
    json ++= s""""machine":${box.json},"metrics":{"""
    json ++= metrics.map { case (k, (v, u)) => s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    json ++= "}}"
    Files.writeString(work.resolve("result.json"), json.toString)
    0
  }

  /** Unit of a per-layer metric, from its name. */
  def unit(metric: String): String =
    if (metric.endsWith("_pct")) "%" else if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_s")) "s" else if (metric.contains("bytes")) "bytes"
    else if (metric.endsWith("amplification")) "ratio" else "count"

  /** Writes the inputs and checks their digests against the ones recorded
    * by the first run with this seed (recording them if this is it), so
    * a generator whose output is not a function of the seed alone fails
    * the run; returns what did not match.
    */
  def writeInputs(wl: Workload, work: Path, digestDir: Path, name: String, seed: Long): Seq[String] = {
    val dir = work.resolve("inputs")
    Files.createDirectories(dir)
    val lines = wl.inputs.map { in =>
      val b = in.bytes()
      Files.write(dir.resolve(in.name), b)
      s"${Workbooks.sha256(b)}  ${in.name}"
    }
    Files.createDirectories(digestDir)
    val rec = digestDir.resolve(s"$name-seed$seed.sha256")
    if (!Files.exists(rec)) { Files.write(rec, lines.asJava); Nil }
    else if (Files.readAllLines(rec).asScala == lines) Nil
    else Seq(s"inputs differ from the digests recorded in $rec")
  }

  /** The per-layer metrics of one traced pass, from the listener's jobs
    * inside the pass's operations and the benchmark's own spans. A layer's
    * time is given as its share of the operations' wall time (jobs) or of
    * the pass's task time, so a layer a workload never enters reads 0%
    * rather than a time of exactly zero.
    */
  def layerMetrics(p: Pass, probe: SparkProbe, tr: Tracer): VectorMap[String, Double] = {
    val inOp = probe.jobs.filter(j => p.ops.exists(o => j.start >= o.start && j.start <= o.end)).toSeq
    inOp.foreach(j => tr.attach(j.layer, s"job ${j.id} ${j.site}", j.start, j.end))
    val opNs = p.ops.map(o => o.end - o.start).sum.toDouble
    val runMs = math.max(1L, inOp.map(_.runMs).sum).toDouble
    val cpuNs = math.max(1L, inOp.map(_.cpuNs).sum).toDouble
    def pct(part: Long, whole: Double) = 100.0 * part / whole
    val m = mutable.LinkedHashMap.empty[String, Double]
    Layers.All.foreach { l =>
      val js = inOp.filter(_.layer == l)
      m(s"$l.jobs") = js.size
      if (Layers.Engine.contains(l)) {
        m(s"$l.job_pct") = pct(js.map(j => j.end - j.start).sum, opNs)
        m(s"$l.task_run_pct") = pct(js.map(_.runMs).sum, runMs)
        m(s"$l.task_cpu_pct") = pct(js.map(_.cpuNs).sum, cpuNs)
        m(s"$l.shuffle_write_bytes") = js.map(_.shuffleWrite).sum.toDouble
      }
    }
    val stateWritten = inOp.filter(_.layer == "state").map(_.written).sum.toDouble
    val custBytes = p.counters.getOrElse("state.customer_bytes", 0.0)
    m("state.bytes_written") = stateWritten
    m("state.bytes_on_disk") = p.counters.getOrElse("state.bytes_on_disk", 0.0)
    m("state.write_amplification") = if (custBytes > 0) stateWritten / custBytes else 0.0
    m("state.change_rows") = p.counters.getOrElse("state.change_rows", 0.0)
    m("sources.xlsx_bytes_in") = p.counters.getOrElse("sources.xlsx_bytes_in", 0.0)
    m("sources.xlsx_bytes_out") = p.counters.getOrElse("sources.xlsx_bytes_out", 0.0)
    m("streaming.micro_batches") = probe.microBatches.toDouble
    val spans = tr.recorded
    m("registry.build_pct") = pct(spans.filter(_.name.startsWith("SparkEntry.queries")).map(_.dur).sum, opNs)
    m("exec.noop_write_pct") = pct(spans.filter(_.name.startsWith("write ")).map(_.dur).sum, opNs)
    m("spark.jobs") = inOp.size
    m("spark.stages") = inOp.map(_.stages).sum
    m("spark.tasks") = inOp.map(_.tasks).sum
    m("spark.sql_executions") = probe.sqlExecutions.toDouble
    m("spark.catalyst_analysis_ms") = probe.analysisMs.toDouble
    m("spark.catalyst_optimization_ms") = probe.optimizationMs.toDouble
    m("spark.catalyst_planning_ms") = probe.planningMs.toDouble
    m("spark.driver_remainder_s") = p.ops.map { o =>
      o.end - o.start - Trace.covered(inOp.map(j => (j.start, j.end)), o.start, o.end)
    }.sum / 1e9
    m("spark.task_run_s") = inOp.map(_.runMs).sum / 1e3
    m("spark.task_cpu_s") = inOp.map(_.cpuNs).sum / 1e9
    m("spark.gc_pct") = pct(inOp.map(_.gcMs).sum, runMs)
    m("spark.shuffle_read_bytes") = inOp.map(_.shuffleRead).sum.toDouble
    m("spark.shuffle_write_bytes") = inOp.map(_.shuffleWrite).sum.toDouble
    m("spark.spill_bytes") = inOp.map(_.spill).sum.toDouble
    m("spark.records_read") = inOp.map(_.records).sum.toDouble
    VectorMap.from(m)
  }
}
