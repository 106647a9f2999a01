package perfbench

import scala.collection.mutable

import graft.operators.Ivf

/** End-to-end values of one run, by metric name. */
final case class EndToEnd(values: Map[String, Double])

trait Workload {
  def name: String
  /** Workload parameters, recorded in every output. */
  def params: Seq[(String, String)]
  def run(h: Harness): EndToEnd
}

object Workload {
  val Dim = 128
  /** Index builds per run; build time is their median. A smaller build
    * over the first [[WarmupBuildN]] vectors warms the JVM before them.
    * Set-up time includes all three.
    */
  val Builds = 2
  val WarmupBuildN = 1000
  /** Held-out queries, drawn apart from the indexed vectors. */
  val NumQueries = 1000
  /** Vectors are a Gaussian mixture: real embeddings are clustered, and
    * k-means on clustered data converges in a build that fits a run. The
    * mixture is the same for every seed (its centers come from
    * [[CentersSeed]]); the seed draws the vectors and queries from it, so
    * index layouts, and the work a query does, vary little across seeds.
    */
  val Clusters = 256
  val Noise = 1.0
  val CentersSeed = 1234567L
  /** The tail latency reported: the highest percentile a run's single
    * searches leave at least ten samples beyond (see [[AnnBatch.TailBeyond]]
    * for batches).
    */
  val TailPercentile = 75.0

  val all: Seq[Workload] = Seq(AnnServe, AnnBatch, IngestChurn)

  /** `n` indexed vectors and [[NumQueries]] held-out queries from `seed`. */
  def data(n: Int, seed: Long): (Array[Array[Float]], Array[Array[Float]]) = {
    val centers = Truth.gaussian(Clusters, Dim, CentersSeed)
    (Truth.mixture(n, centers, Noise, seed * 31 + 1),
      Truth.mixture(NumQueries, centers, Noise, seed * 31 + 2))
  }

  /** Builds `Builds` indexes over `df` into fresh directories, after the
    * warm-up build, and keeps the last one. Returns it, its directory and
    * the median build seconds.
    */
  def buildRepeated(h: Harness, df: org.apache.spark.sql.DataFrame,
      seed: Long): (Ivf.Index, java.nio.file.Path, Double) = {
    val warm = h.work.resolve("index-warmup")
    Ivf.build(df.limit(WarmupBuildN), "vec_id", "embedding", warm.toString, seed)
    Harness.deleteTree(warm)
    val runs = (0 until Builds).map { i =>
      val dir = h.work.resolve(s"index-$i")
      val (idx, s) = h.build(df, dir, seed)
      (idx, dir, s)
    }
    runs.init.foreach(r => Harness.deleteTree(r._2))
    (runs.last._1, runs.last._2, Stats.median(runs.map(_._3)))
  }

  /** `Ivf.maintain` at its defaults; returns its seconds. Traced, also
    * the layout it saw and what it rewrote.
    */
  def maintain(h: Harness, idx: Ivf.Index, dir: java.nio.file.Path): Double = {
    if (h.args.trace) {
      val st = Ivf.maintenanceStats(h.spark, idx)
      h.tracer.sample("layout.files_max_per_shard", st.filesPerShardMax)
      h.tracer.sample("layout.tombstones", st.tombstones.toDouble)
    }
    val filesBefore = Probes.parquetFiles(dir.resolve("vectors"))
    val op = h.newOp()
    val t0 = System.nanoTime()
    var outcome: Ivf.MaintainOutcome = Ivf.MaintainSkipped
    h.op("maintain") {
      outcome = h.tracer.span("maintain", op)(Ivf.maintain(h.spark, idx))
      Nil
    }
    val s = (System.nanoTime() - t0) / 1e9
    h.tracer.sample("maintain.ms", s * 1000)
    if (h.args.trace) outcome match {
      case Ivf.MaintainCompacted(_) =>
        h.tracer.sample("maintain.compactions", 1)
        h.tracer.sample("maintain.files_merged",
          (filesBefore - Probes.parquetFiles(dir.resolve("vectors"))).toDouble)
        h.tracer.sample("maintain.bytes_rewritten",
          Probes.dirSize(dir.resolve("vectors"))._2.toDouble)
      case Ivf.MaintainSkipped =>
        h.tracer.sample("maintain.compactions", 0)
    }
    s
  }

  /** Index bytes on disk per byte of live raw vectors. */
  def spaceAmp(dir: java.nio.file.Path, live: Long): Double =
    Probes.dirSize(dir)._2.toDouble / (live * Dim * 4L)

  def latencyMetrics(lat: Seq[Double], searchWallMs: Double, queries: Long,
      minBeyond: Int = Stats.MinBeyond): Seq[(String, Double)] = {
    require(Stats.samplesBeyond(lat.size, TailPercentile) >= minBeyond,
      s"${lat.size} latency samples leave fewer than $minBeyond beyond p$TailPercentile")
    Seq("search_p50_ms" -> Stats.median(lat),
      "search_p75_ms" -> Stats.percentile(lat, TailPercentile),
      "qps" -> queries / (searchWallMs / 1000.0))
  }

}

/** Single top-k queries from one closed-loop client: per-query fixed
  * overhead (routing, DataFrame construction, planning, job launch)
  * dominates; scan and distance work stay small.
  */
object AnnServe extends Workload {
  val name = "ann-serve"
  val N = 5000
  val K = 10
  val NProbe = 8
  /** Untimed searches first: latency keeps falling for tens of queries
    * while the JIT compiles the planning and execution paths.
    */
  val Warmup = 25
  val params = Seq("n" -> N.toString, "dim" -> Workload.Dim.toString,
    "queries" -> Workload.NumQueries.toString, "k" -> K.toString,
    "clusters" -> Workload.Clusters.toString, "noise" -> Workload.Noise.toString,
    "n_probe" -> NProbe.toString, "clients" -> "1",
    "builds" -> Workload.Builds.toString)

  def run(h: Harness): EndToEnd = {
    val seed = h.args.seed
    val (xb, xq) = h.excluded(Workload.data(N, seed))
    h.startSession()
    val (idx, dir, buildS) = Workload.buildRepeated(h, h.vectorsDf(0 until N, xb), seed)
    val truth = h.excluded(Truth.nearestAll(xb, _ => true, xq, h.cpus))
    Workload.maintain(h, idx, dir)
    val known = (id: Long) => if (id >= 0 && id < N) Some(xb(id.toInt)) else None
    val order = new scala.util.Random(seed).shuffle((0 until Workload.NumQueries).toVector)

    def one(i: Int): Option[(Seq[Long], Long, Double)] = {
      val qi = order(i % order.size)
      var out: Option[(Seq[Long], Long, Double)] = None
      h.op("search") {
        val (rows, ms) = h.search(idx, xq(qi), K, NProbe)
        out = Some((rows.map(_._1), truth(qi).toLong, ms))
        Truth.checkTopK(rows, xq(qi), K, known, N)
      }
      out
    }
    (0 until Warmup).foreach(one)
    h.setupDone()

    val lat = mutable.ArrayBuffer[Double]()
    val answers = mutable.ArrayBuffer[Seq[Long]]()
    val truths = mutable.ArrayBuffer[Long]()
    val need = Stats.samplesNeeded(Workload.TailPercentile)
    val deadline = System.nanoTime() + h.args.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || lat.size < need) {
      one(Warmup + i).foreach { case (a, t, ms) =>
        lat += ms
        answers += a
        truths += t
      }
      i += 1
    }
    if (h.args.trace) EndToEnd(Map.empty) else EndToEnd((Workload.latencyMetrics(lat.toSeq, lat.sum, lat.size) ++ Seq(
      "setup_s" -> h.setupSeconds,
      "build_s" -> buildS,
      "recall_at_10" -> Truth.recallAt(answers.toSeq, truths.toSeq, 10),
      "ingest_vps" -> N / buildS,
      "space_amp" -> Workload.spaceAmp(dir, N))).toMap)
  }
}

/** One `searchBatch` of every held-out query at the widest probe: one
  * scan serves all queries, so scan, distance and top-k do the work and
  * per-query overhead is amortised.
  */
object AnnBatch extends Workload {
  val name = "ann-batch"
  val N = 5000
  val K = 100
  val NProbe = 32
  /** Successive batches take successive windows of the held-out queries. */
  val BatchQueries = 125
  val WarmupBatches = 3
  /** A latency sample is one batch of about 1.2 s, so a run holds about
    * ten, and p75 leaves at least [[TailBeyond]] batches beyond it, not
    * [[Stats.MinBeyond]]: forty batches would take about 45 s, more than
    * a run may spend. (A batch costs about 310 ms plus 7 ms per query,
    * so smaller batches would not fit forty either.)
    */
  val TailBeyond = 2
  val params = Seq("n" -> N.toString, "dim" -> Workload.Dim.toString,
    "queries_per_batch" -> BatchQueries.toString, "k" -> K.toString,
    "clusters" -> Workload.Clusters.toString, "noise" -> Workload.Noise.toString,
    "n_probe" -> NProbe.toString, "builds" -> Workload.Builds.toString)

  def run(h: Harness): EndToEnd = {
    val seed = h.args.seed
    val (xb, xq) = h.excluded(Workload.data(N, seed))
    h.startSession()
    val (idx, dir, buildS) = Workload.buildRepeated(h, h.vectorsDf(0 until N, xb), seed)
    val truth = h.excluded(Truth.nearestAll(xb, _ => true, xq, h.cpus))
    Workload.maintain(h, idx, dir)
    val known = (id: Long) => if (id >= 0 && id < N) Some(xb(id.toInt)) else None
    val answers = mutable.ArrayBuffer[Seq[Long]]()
    val truths = mutable.ArrayBuffer[Long]()

    def one(b: Int): Option[Double] = {
      val ids = (0 until BatchQueries).map(j => (b * BatchQueries + j) % xq.length)
      val batch = ids.map(i => (i.toLong, xq(i))).toArray
      var out: Option[Double] = None
      h.op("search_batch") {
        val (rows, ms) = h.searchBatch(idx, batch, K, NProbe)
        out = Some(ms)
        val byQuery = rows.groupBy(_.getLong(0))
        val problems = mutable.ArrayBuffer[String]()
        if (byQuery.keySet != ids.map(_.toLong).toSet)
          problems += s"${byQuery.size} queries answered of ${batch.length}"
        ids.foreach { qi =>
          val rs = byQuery.getOrElse(qi.toLong, Seq.empty).sortBy(_.getInt(1))
          if (rs.map(_.getInt(1)) != (1 to rs.size))
            problems += s"query $qi ranks are not 1..${rs.size}"
          val ans = rs.map(r => (r.getLong(2), r.getDouble(3)))
          problems ++= Truth.checkTopK(ans, xq(qi), K, known, N).map(p => s"query $qi: $p")
          answers += ans.map(_._1)
          truths += truth(qi).toLong
        }
        problems.toSeq
      }
      out
    }
    (0 until WarmupBatches).foreach(one)
    answers.clear()
    truths.clear()
    h.setupDone()

    val lat = mutable.ArrayBuffer[Double]()
    val need = Stats.samplesNeeded(Workload.TailPercentile, TailBeyond)
    val deadline = System.nanoTime() + h.args.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || lat.size < need) {
      one(WarmupBatches + i).foreach(lat += _)
      i += 1
    }
    // a latency sample is one batch: every query of a batch is answered
    // when the batch is
    if (h.args.trace) EndToEnd(Map.empty) else EndToEnd((Workload.latencyMetrics(lat.toSeq, lat.sum, lat.size.toLong * BatchQueries, TailBeyond) ++ Seq(
      "setup_s" -> h.setupSeconds,
      "build_s" -> buildS,
      "recall_at_10" -> Truth.recallAt(answers.toSeq, truths.toSeq, 10),
      "ingest_vps" -> N / buildS,
      "space_amp" -> Workload.spaceAmp(dir, N))).toMap)
  }
}

/** Writes beside reads: each round appends, deletes (half original ids,
  * half appended ones), searches the fragmented, tombstoned layout and
  * lets `Ivf.maintain` decide whether to compact.
  */
object IngestChurn extends Workload {
  val name = "ingest-churn"
  val N0 = 5000
  val AppendN = 2500
  val DeleteN = 250
  val Rounds = 2
  val K = 10
  val NProbe = 8
  val Warmup = 8
  /** Every this many searches, one queries an appended vector, which must
    * come back as its own rank-1 hit.
    */
  val SelfEvery = 10
  val params = Seq("n_initial" -> N0.toString, "dim" -> Workload.Dim.toString,
    "rounds" -> Rounds.toString, "append_per_round" -> AppendN.toString,
    "delete_per_round" -> DeleteN.toString, "k" -> K.toString,
    "clusters" -> Workload.Clusters.toString, "noise" -> Workload.Noise.toString,
    "n_probe" -> NProbe.toString, "builds" -> Workload.Builds.toString)

  def run(h: Harness): EndToEnd = {
    val seed = h.args.seed
    val total = N0 + Rounds * AppendN
    val (xb, xq) = h.excluded(Workload.data(total, seed))
    val live = Array.tabulate(total)(_ < N0)
    var liveCount = N0.toLong
    var appended = 0 // ids [N0, N0 + appended) have been appended
    val rnd = new scala.util.Random(seed)
    h.startSession()
    val (idx, dir, buildS) = Workload.buildRepeated(h, h.vectorsDf(0 until N0, xb), seed)
    val known = (id: Long) =>
      if (id >= 0 && id < N0 + appended && live(id.toInt)) Some(xb(id.toInt)) else None

    val lat = mutable.ArrayBuffer[Double]()
    val answers = mutable.ArrayBuffer[Seq[Long]]()
    val truths = mutable.ArrayBuffer[Long]()
    var nextQuery = 0
    def one(j: Int, timed: Boolean): Unit = {
      val self = j % SelfEvery == 0 && appended > 0
      val (q, selfId) =
        if (self) {
          val id = Iterator.continually(N0 + rnd.nextInt(appended)).find(live(_)).get
          (xb(id), id)
        } else {
          nextQuery += 1
          (xq((nextQuery - 1) % xq.length), -1)
        }
      h.op("search") {
        val (rows, ms) = h.search(idx, q, K, NProbe)
        if (timed) lat += ms
        val problems = Truth.checkTopK(rows, q, K, known, liveCount)
        if (self) {
          if (rows.headOption.map(_._1) != Some(selfId.toLong))
            problems :+ s"appended id $selfId is not its own rank-1 hit"
          else problems
        } else {
          if (timed) {
            answers += rows.map(_._1)
            truths += Truth.nearest(xb, i => i < N0 + appended && live(i), q)
          }
          problems
        }
      }
    }
    (0 until Warmup).foreach(j => one(j, timed = false))
    h.setupDone()

    var writeNs = 0L
    val perRound = math.max(1, math.ceil(Stats.samplesNeeded(Workload.TailPercentile).toDouble / Rounds).toInt)
    var j = 0
    for (_ <- 0 until Rounds) {
      val from = N0 + appended
      val filesBefore = Probes.parquetFiles(dir.resolve("vectors"))
      val op = h.newOp()
      val t0 = System.nanoTime()
      val (_, d) = h.measured("append", op) {
        h.op("append") {
          Ivf.append(idx, h.vectorsDf(from until from + AppendN, xb), "vec_id", "embedding")
          Nil
        }
      }
      val t1 = System.nanoTime()
      (from until from + AppendN).foreach(live(_) = true)
      appended += AppendN
      liveCount += AppendN
      if (h.args.trace) {
        h.tracer.sample("append.ms", (t1 - t0) / 1e6)
        h.tracer.sample("append.files_added",
          (Probes.parquetFiles(dir.resolve("vectors")) - filesBefore).toDouble)
        h.tracer.sample("append.jobs", d("spark.jobs").toDouble)
        h.tracer.sample("append.tasks", d("spark.tasks").toDouble)
      }

      def pick(lo: Int, hi: Int, n: Int): Seq[Int] =
        rnd.shuffle((lo until hi).filter(live(_)).toVector).take(n)
      val victims = pick(0, N0, DeleteN / 2) ++ pick(N0, N0 + appended, DeleteN - DeleteN / 2)
      val t2 = System.nanoTime()
      h.op("delete") {
        h.tracer.span("delete", h.newOp())(Ivf.delete(h.spark, idx, victims.map(_.toLong)))
        Nil
      }
      val t3 = System.nanoTime()
      h.tracer.sample("delete.ms", (t3 - t2) / 1e6)
      victims.foreach(v => live(v) = false)
      liveCount -= victims.size
      writeNs += (t1 - t0) + (t3 - t2)

      val until = System.nanoTime() + h.args.seconds * 1000000000L / Rounds
      var n = 0
      while (System.nanoTime() < until || n < perRound) {
        one(Warmup + j, timed = true)
        j += 1
        n += 1
      }
      writeNs += (Workload.maintain(h, idx, dir) * 1e9).toLong
    }
    if (h.args.trace) EndToEnd(Map.empty) else EndToEnd((Workload.latencyMetrics(lat.toSeq, lat.sum, lat.size) ++ Seq(
      "setup_s" -> h.setupSeconds,
      "build_s" -> buildS,
      "recall_at_10" -> Truth.recallAt(answers.toSeq, truths.toSeq, 10),
      "ingest_vps" -> Rounds.toDouble * AppendN / (writeNs / 1e9),
      "space_amp" -> Workload.spaceAmp(dir, liveCount))).toMap)
  }
}
