package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Ivf

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

/** One benchmark run: session, timers, failure accounting, tracing. */
final class Harness(val args: Args, val work: Path) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(args.trace)
  private val processStartNs: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }
  private var excludedNs = 0L
  private var setupS = Double.NaN
  var spark: SparkSession = _
  var probes: Probes = _

  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  private var nextOp = 0L

  /** Runs work the set-up time leaves out: input generation and ground
    * truth.
    */
  def excluded[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }

  /** The repository's standard local session: `local[nproc]`, shuffle
    * partitions = cores. Traced runs add the listener and the counting
    * local filesystem.
    */
  def startSession(): Unit = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (args.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counters = if (args.trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    probes = new Probes(spark, counters)
  }

  /** Marks the end of set-up: the first timed operation starts next. */
  def setupDone(): Unit =
    setupS = (System.nanoTime() - processStartNs - excludedNs) / 1e9

  def setupSeconds: Double = setupS

  def newOp(): Long = { nextOp += 1; nextOp }

  /** One attempted operation. `body` returns the problems its checks
    * found; a throw counts as a failure too.
    */
  def op(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (problems.nonEmpty) failures += s"$what: ${problems.take(3).mkString("; ")}"
  }

  /** Runs `body` in a span named `span` and returns the probe deltas it
    * caused (traced runs only; untraced, the map is empty).
    */
  def measured[T](span: String, op: Long)(body: => T): (T, Map[String, Long]) =
    if (!args.trace) (body, Map.empty)
    else {
      val before = probes.snapshot()
      val r = tracer.span(span, op)(body)
      (r, probes.delta(before))
    }

  def vectorsDf(ids: Range, vecs: Int => Array[Float]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, vecs(i))).toDF("vec_id", "embedding")
  }

  /** `Ivf.build` with the per-stage and per-call layer samples. */
  def build(df: DataFrame, dir: Path, seed: Long): (Ivf.Index, Double) = {
    val op = newOp()
    val t0 = System.nanoTime()
    val (idx, d) = measured("build", op) {
      Ivf.build(df, "vec_id", "embedding", dir.toString, seed,
        onStage = (stage, s) => tracer.sample(s"build.${stage}_s", s))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (args.trace) {
      val (_, bytes) = Probes.dirSize(dir)
      tracer.sample("build.files", Probes.parquetFiles(dir).toDouble)
      tracer.sample("build.bytes", bytes.toDouble)
      tracer.sample("build.jobs", d("spark.jobs").toDouble)
      tracer.sample("build.tasks", d("spark.tasks").toDouble)
    }
    (idx, wall)
  }

  /** One top-k search through `Ivf.search`, collected. Returns rows and
    * the latency. Untraced, the latency runs from the call to collected
    * rows. Traced, the call, its planning and its execution are separate
    * spans, routing is measured by a separate `Ivf.probeSelection` call
    * on the same query, and the latency covers all of that work and the
    * probe reads, from the route call to the last probe read.
    */
  def search(idx: Ivf.Index, q: Array[Float], k: Int, nProbe: Int)
      : (Seq[(Long, Double)], Double) = {
    val (rows, ms) = timed("search") { op =>
      route(idx, Seq(q), nProbe, op)
      val before = probes.snapshot()
      val t0 = System.nanoTime()
      val df = tracer.span("ivf.call", op)(Ivf.search(spark, idx, q, k, nProbe))
      planAndExec(df, op, t0, before)
    } { Ivf.search(spark, idx, q, k, nProbe).collect() }
    (rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq, ms)
  }

  /** One `Ivf.searchBatch` of `qs`, collected: rows of
    * (query_id, rank, external_id, distance) and the latency, measured
    * as in [[search]].
    */
  def searchBatch(idx: Ivf.Index, qs: Array[(Long, Array[Float])], k: Int,
      nProbe: Int): (Seq[org.apache.spark.sql.Row], Double) = {
    val (rows, ms) = timed("search_batch") { op =>
      route(idx, qs.map(_._2).toSeq, nProbe, op)
      val before = probes.snapshot()
      val t0 = System.nanoTime()
      val df = tracer.span("ivf.call", op)(Ivf.searchBatch(spark, idx, qs, k, nProbe))
      planAndExec(df, op, t0, before)
    } { Ivf.searchBatch(spark, idx, qs, k, nProbe).collect() }
    (rows.toSeq, ms)
  }

  /** Runs `traced` in a span named `span` in a traced run once set-up is
    * done, `untraced` otherwise (warm-up searches are not traced); returns
    * the result and its wall milliseconds. Traced latencies are also kept
    * as `latency.traced_ms`.
    */
  private def timed[T](span: String)(traced: Long => T)(untraced: => T): (T, Double) = {
    val op = newOp()
    val tracing = args.trace && !setupS.isNaN
    val t0 = System.nanoTime()
    val r = if (tracing) tracer.span(span, op)(traced(op)) else untraced
    val ms = (System.nanoTime() - t0) / 1e6
    if (tracing) tracer.sample("latency.traced_ms", ms)
    (r, ms)
  }

  private def route(idx: Ivf.Index, qs: Seq[Array[Float]], nProbe: Int,
      op: Long): Unit = {
    val t0 = System.nanoTime()
    val sel = tracer.span("route", op)(qs.map(q => Ivf.probeSelection(idx, q, nProbe)))
    tracer.sample("route.ms", (System.nanoTime() - t0) / 1e6)
    tracer.sample("route.cells", sel.map(_._1.size).sum.toDouble / qs.size)
    tracer.sample("route.shards", sel.map(_._2.size).sum.toDouble / qs.size)
  }

  /** Plans and collects `df`, whose `Ivf` call started at `t0` with the
    * probes at `before`, and samples the layers below the call.
    */
  private def planAndExec(df: DataFrame, op: Long, t0: Long,
      before: Map[String, Long]): Array[org.apache.spark.sql.Row] = {
    val t1 = System.nanoTime()
    val callDelta = probes.delta(before)
    val t2 = System.nanoTime()
    tracer.span("plan", op)(df.queryExecution.executedPlan)
    val t3 = System.nanoTime()
    val rows = tracer.span("exec", op)(df.collect())
    val t4 = System.nanoTime()
    val d = probes.delta(before)
    tracer.sample("ivf.call_ms", (t1 - t0) / 1e6)
    tracer.sample("plan.ms", (t3 - t2) / 1e6)
    tracer.sample("exec.ms", (t4 - t3) / 1e6)
    tracer.sample("fs.read_ops", callDelta("fs.read_ops").toDouble)
    tracer.sample("fs.list_ops", callDelta("fs.list_ops").toDouble)
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
      "spark.sched_wait_ms", "spark.spill_bytes", "jvm.gc_ms")
      .foreach(m => tracer.sample(m, d(m).toDouble))
    tracer.sample("topk.shuffle_write_bytes", d("shuffle.write_bytes").toDouble)
    tracer.sample("topk.shuffle_records", d("shuffle.write_records").toDouble)
    val plan = df.queryExecution.executedPlan
    val (files, bytes, scanned) = Probes.scan(plan)
    tracer.sample("scan.files", files.toDouble)
    tracer.sample("scan.bytes", bytes.toDouble)
    tracer.sample("scan.rows", scanned.toDouble)
    tracer.sample("scan.rows_per_result", scanned.toDouble / math.max(1, rows.length))
    tracer.sample("distance.evals", Probes.distanceEvals(plan).toDouble)
    rows
  }
}

object Harness {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
