package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Job, stage and task counts from the scheduler's events. */
final class SparkCounters extends SparkListener {
  private val submittedAt = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val c = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_ms", "spark.sched_wait_ms", "spark.spill_bytes",
    "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes")
    .map(_ -> new AtomicLong()).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("spark.jobs").incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    c("spark.stages").incrementAndGet()
    val info = e.stageInfo
    val at: Long = info.submissionTime.getOrElse(System.currentTimeMillis())
    submittedAt.put((info.stageId, info.attemptNumber()), at)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = submittedAt.get((e.stageId, e.stageAttemptId))
    if (s != null)
      c("spark.sched_wait_ms").addAndGet(math.max(0L, e.taskInfo.launchTime - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("spark.tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("spark.task_run_ms").addAndGet(m.executorRunTime)
      c("spark.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("shuffle.write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle.write_records").addAndGet(m.shuffleWriteMetrics.recordsWritten)
      c("shuffle.read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get() }
}

/** The local filesystem with open and listing calls counted. Installed
  * as `fs.file.impl` in traced runs only.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: Path, bufferSize: Int) = {
    CountingLocalFs.reads.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFs {
  val reads = new AtomicLong()
  val lists = new AtomicLong()
}

/** Counters read before and after a call; [[Probes.delta]] gives what
  * the call did. Spark counts need the listener (traced runs only).
  */
final class Probes(spark: SparkSession, counters: Option[SparkCounters]) {

  def snapshot(): Map[String, Long] = {
    counters.foreach(_ => org.apache.spark.ListenerDrain(spark.sparkContext))
    counters.map(_.snapshot()).getOrElse(Map.empty) ++ Map(
      "fs.read_ops" -> CountingLocalFs.reads.get(),
      "fs.list_ops" -> CountingLocalFs.lists.get(),
      "jvm.gc_ms" -> Probes.gcMs())
  }

  def delta(before: Map[String, Long]): Map[String, Long] = {
    val after = snapshot()
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
  }
}

object Probes {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)

  /** Files and bytes of every regular file under `dir`. */
  def dirSize(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((n, b), p) =>
          (n + 1, b + java.nio.file.Files.size(p))
        }
      finally s.close()
    }

  /** Parquet data files under `dir` (no checksums or markers). */
  def parquetFiles(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  /** Every physical node of an executed plan, through adaptive stages,
    * reused exchanges and subqueries.
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Scan work on the index's vector files (the tombstone sidecar scan is
    * left out): files, bytes and rows read.
    */
  def scan(plan: SparkPlan): (Long, Long, Long) = {
    val scans = nodes(plan).collect {
      case s: FileSourceScanExec
          if !s.output.exists(_.name == "__deleted_id") => s
    }
    (scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
  }

  /** Rows the distance kernel is evaluated on. For a batch, the output
    * rows of the candidate join that attaches each query vector (`qe`);
    * for a single query, the rows entering the projection that computes
    * `distance`, read from the nearest node below it that counts rows.
    */
  def distanceEvals(plan: SparkPlan): Long = {
    val all = nodes(plan)
    all.collectFirst {
      case j: BroadcastHashJoinExec if j.output.exists(_.name == "qe") =>
        metric(j, "numOutputRows")
    }.orElse(all.collectFirst {
      case p: ProjectExec if p.projectList.exists {
            case a: Alias => a.name == "distance"
            case _ => false
          } =>
        Iterator.iterate(p.child)(c => c.children.headOption.orNull)
          .takeWhile(_ != null)
          .collectFirst { case c if c.metrics.contains("numOutputRows") =>
            metric(c, "numOutputRows")
          }.getOrElse(0L)
    }).getOrElse(0L)
  }
}
