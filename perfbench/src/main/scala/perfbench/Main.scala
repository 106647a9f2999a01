package perfbench

import java.nio.file.{Path, Paths}

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}` with every end-to-end
  * metric (untraced) or every per-layer metric (traced).
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * with `-Dperfbench.work=<dir>` naming a scratch directory.
  */
object Main {

  /** End-to-end metrics: name → unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "build_s" -> "s", "search_p50_ms" -> "ms",
    "search_p75_ms" -> "ms", "recall_at_10" -> "fraction",
    "qps" -> "queries/s", "ingest_vps" -> "vectors/s",
    "space_amp" -> "ratio")

  /** Per-layer metrics: name → unit. Each is the median over the calls
    * that sampled it, except `maintain.compactions`, a count per run; a
    * layer the workload never calls reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "route.ms" -> "ms", "route.cells" -> "count", "route.shards" -> "count",
    "ivf.call_ms" -> "ms", "fs.read_ops" -> "count", "fs.list_ops" -> "count",
    "plan.ms" -> "ms",
    "exec.ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_ms" -> "ms",
    "spark.sched_wait_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "scan.files" -> "count", "scan.bytes" -> "bytes", "scan.rows" -> "count",
    "scan.rows_per_result" -> "ratio",
    "distance.evals" -> "count",
    "topk.shuffle_write_bytes" -> "bytes", "topk.shuffle_records" -> "count",
    "build.count_s" -> "s", "build.pool_train_s" -> "s",
    "build.assign_count_s" -> "s", "build.shard_model_s" -> "s",
    "build.shard_write_s" -> "s", "build.sidecar_s" -> "s",
    "build.files" -> "count", "build.bytes" -> "bytes",
    "build.jobs" -> "count", "build.tasks" -> "count",
    "append.ms" -> "ms", "append.files_added" -> "count",
    "append.jobs" -> "count", "append.tasks" -> "count", "delete.ms" -> "ms",
    "maintain.ms" -> "ms", "maintain.compactions" -> "count",
    "maintain.files_merged" -> "count", "maintain.bytes_rewritten" -> "bytes",
    "layout.files_max_per_shard" -> "count", "layout.tombstones" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB",
    "trace.overhead_ms" -> "ms")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** How the traced layers account for the untraced latency: the medians
    * of the search entry call, planning and execution against
    * `search_p50_ms` of the untraced run, and whether the gap is within
    * the tracing overhead.
    */
  private def accounting(h: Harness, untraced: Double): String = {
    def med(m: String) = {
      val xs = h.tracer.samplesOf(m)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val layers = med("ivf.call_ms") + med("plan.ms") + med("exec.ms")
    val overhead = med("trace.overhead_ms")
    Json.obj(Seq(
      "call_plan_exec_ms" -> Json.num(layers),
      "untraced_search_p50_ms" -> Json.num(untraced),
      "unaccounted_ms" -> Json.num(untraced - layers),
      "traced_p50_ms" -> Json.num(med("latency.traced_ms")),
      "trace_overhead_ms" -> Json.num(overhead),
      "within_overhead" -> (math.abs(untraced - layers) <= overhead).toString))
  }

  private def loadAvg(): String =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workload.all.find(_.name == args.workload).getOrElse(
      sys.error(s"unknown workload ${args.workload}; one of " +
        Workload.all.map(_.name).mkString(", ")))
    // `search_p50_ms` of the untraced run of the same workload and seed,
    // which run.py makes before a traced run
    val untracedP50 =
      if (!args.trace) Double.NaN
      else sys.props.get("perfbench.untraced_search_p50_ms").map(_.toDouble).getOrElse(
        sys.error("a traced run needs -Dperfbench.untraced_search_p50_ms, " +
          "the search_p50_ms of the untraced run"))
    val root = Paths.get(sys.props.getOrElse("perfbench.work", ".perfbench/work"))
    val work: Path = root.resolve(s"${wl.name}-${ProcessHandle.current().pid()}")
    Harness.deleteTree(work)
    java.nio.file.Files.createDirectories(work)
    val loadStart = loadAvg()
    val h = new Harness(args, work)
    val e2e =
      try wl.run(h)
      finally {
        if (h.spark != null) h.spark.stop()
        Harness.deleteTree(work)
      }

    // information only: never a gate or a scale factor
    val info = Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> Json.str(if (args.trace) "1" else "0"),
      "params" -> Json.obj(wl.params.map { case (k, v) => k -> Json.str(v) }),
      "nproc" -> h.cpus.toString,
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.vm.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "git_commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
      "source_hash" -> Json.str(sys.props.getOrElse("perfbench.source_hash", "unknown")),
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadAvg())))
    println(s"""{"info":$info}""")
    h.failures.foreach(f => println(s"FAILED $f"))

    val metrics =
      if (!args.trace) {
        endToEnd.map { case (n, u) => n -> (e2e.values(n), u) }
      } else {
        h.tracer.sample("jvm.peak_rss_mb", Probes.peakRssMb())
        // the traced median latency of the unit operation (a search, or a
        // batch) against the untraced run's
        h.tracer.sample("trace.overhead_ms",
          Stats.median(h.tracer.samplesOf("latency.traced_ms")) - untracedP50)
        val self = h.tracer.selfMs.toSeq.sortBy(_._1).map { case (n, xs) =>
          n -> Json.obj(Seq("spans" -> xs.size.toString,
            "median_ms" -> Json.num(Stats.median(xs)),
            "total_ms" -> Json.num(xs.sum)))
        }
        println(s"""{"self_time":${Json.obj(self)}}""")
        println(s"""{"accounting":${accounting(h, untracedP50)}}""")
        h.tracer.write(root.resolve(s"trace-${wl.name}-seed${args.seed}.json"), info)
        perLayer.map { case (n, u) =>
          val xs = h.tracer.samplesOf(n)
          n -> ((if (xs.isEmpty) 0.0
            else if (n == "maintain.compactions") xs.sum
            else Stats.median(xs)), u)
        }
      }
    val ok = h.failures.isEmpty
    val result = Json.obj(Seq(
      "correct" -> ok.toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failures.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(result)
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }
}
