package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** Inputs and exact answers, computed in plain Scala over the generated
  * arrays — never through an engine path.
  */
object Truth {

  /** `n` standard-normal vectors of dimension `dim` from `seed`. */
  def gaussian(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** `n` vectors from a mixture of `centers` (drawn by [[gaussian]]) with
    * isotropic Gaussian noise of standard deviation `noise`; `seed` picks
    * the stream, so indexed vectors and queries can share the centers.
    */
  def mixture(n: Int, centers: Array[Array[Float]], noise: Double,
      seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n) {
      val c = centers(rnd.nextInt(centers.length))
      Array.tabulate(c.length)(j => (c(j) + noise * rnd.nextGaussian()).toFloat)
    }
  }

  /** Squared L2 in double, summed in element order — the same arithmetic
    * as the engine's distance kernel, so answers compare tightly.
    */
  def sqL2(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dimension ${a.length} != ${b.length}")
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Id of the live vector nearest to `q`, ties to the smaller id. */
  def nearest(base: Array[Array[Float]], live: Int => Boolean,
      q: Array[Float]): Int = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var i = 0
    while (i < base.length) {
      if (live(i)) {
        val d = sqL2(base(i), q)
        if (d < bestD) { bestD = d; best = i }
      }
      i += 1
    }
    require(best >= 0, "no live vector")
    best
  }

  /** [[nearest]] for every query, spread over `threads` threads. */
  def nearestAll(base: Array[Array[Float]], live: Int => Boolean,
      qs: Array[Array[Float]], threads: Int): Array[Int] = {
    val out = new Array[Int](qs.length)
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val futures = qs.indices.grouped(math.max(1, qs.length / threads / 4 + 1))
        .map { chunk =>
          pool.submit(new Runnable {
            def run(): Unit = chunk.foreach(i => out(i) = nearest(base, live, qs(i)))
          })
        }.toList
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    out
  }

  /** Share of queries whose true nearest id is among the first `r`
    * answered ids (the reference's recall@r: `bench_all_ivf.py:337-349`).
    */
  def recallAt(answers: Seq[Seq[Long]], truth: Seq[Long], r: Int): Double = {
    require(answers.size == truth.size && answers.nonEmpty,
      "recall needs one truth per answered query")
    answers.zip(truth).count { case (a, t) => a.take(r).contains(t) }
      .toDouble / answers.size
  }

  /** Problems with one top-k answer, empty when it is correct: `k` rows
    * (fewer only if fewer vectors are live), distances ascending and
    * equal to the recomputed ones, every id known and live.
    */
  def checkTopK(rows: Seq[(Long, Double)], q: Array[Float], k: Int,
      vectors: Long => Option[Array[Float]], liveCount: Long): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val want = math.min(k.toLong, liveCount)
    if (rows.size != want) problems += s"${rows.size} rows, expected $want"
    rows.sliding(2).foreach {
      case Seq((_, a), (_, b)) if a > b =>
        problems += s"distance $a before $b is not ascending"
      case _ =>
    }
    if (rows.map(_._1).distinct.size != rows.size) problems += "duplicate ids"
    rows.foreach { case (id, d) =>
      vectors(id) match {
        case None => problems += s"id $id is deleted or unknown"
        case Some(v) =>
          val exact = sqL2(v, q)
          if (math.abs(exact - d) > 1e-6 * math.max(1.0, exact))
            problems += s"id $id distance $d, recomputed $exact"
      }
    }
    problems.result()
  }
}
