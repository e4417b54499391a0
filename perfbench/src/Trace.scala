package perfbench

import java.util.IdentityHashMap

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A set of time intervals in epoch milliseconds, kept sorted and merged,
  * so the time one layer covers can be subtracted from another's. */
final case class Spans(parts: Vector[(Double, Double)]) {
  def total: Double = parts.iterator.map { case (a, b) => b - a }.sum
  def union(o: Spans): Spans = Spans.of(parts ++ o.parts)
  def minus(o: Spans): Spans = Spans(parts.flatMap { case (a, b) =>
    o.parts.filter { case (c, d) => d > a && c < b }
      .foldLeft(Vector((a, b))) { (rest, cut) =>
        rest.flatMap { case (x, y) =>
          Vector((x, math.min(y, cut._1)), (math.max(x, cut._2), y)).filter(p => p._2 > p._1)
        }
      }
  })
  def contains(t: Double): Boolean = parts.exists { case (a, b) => t >= a && t < b }
}

object Spans {
  val empty: Spans = Spans(Vector.empty)
  def of(xs: Iterable[(Double, Double)]): Spans = Spans(
    xs.filter(p => p._2 > p._1).toVector.sortBy(_._1).foldLeft(Vector.empty[(Double, Double)]) {
      case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
      case (acc, p) => acc :+ p
    })
}

/** Where one query of a pass spent its time, as seen from the benchmark:
  * the `fn(spark, dir)` call and the one action on its result. */
final case class QuerySpans(build: (Double, Double), action: (Double, Double))

/** Collects scheduler, task, storage and query-execution events while it is
  * attached. Events arrive on listener-bus threads; the benchmark reads the
  * fields only after draining the bus, under the same lock. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val stages = mutable.ArrayBuffer[(Double, Double)]()
  val jobs = mutable.ArrayBuffer[(Double, Double)]()
  private val jobStart = mutable.Map[Int, Double]()
  val qes = mutable.ArrayBuffer[QueryExecution]()
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** RDD blocks currently held (pins and caches), with their size in bytes. */
  val blocks = mutable.Map[RDDBlockId, Long]()
  val addedThisPass = mutable.Set[RDDBlockId]()
  var storagePeak = 0L

  def reset(): Unit = synchronized {
    stages.clear(); jobs.clear(); jobStart.clear(); qes.clear(); counts.clear()
    addedThisPass.clear(); storagePeak = blocks.values.sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time.toDouble
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time.toDouble)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += ((s.toDouble, c.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counts("tasks") += 1
    Option(e.taskMetrics).foreach { m =>
      counts("task_ms") += m.executorRunTime
      counts("task_cpu_ns") += m.executorCpuTime
      counts("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      counts("shuffle_read") += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      counts("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      counts("spill") += m.diskBytesSpilled
      counts("out_bytes") += m.outputMetrics.bytesWritten
      counts("out_rows") += m.outputMetrics.recordsWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        if (info.storageLevel.isValid) {
          if (!blocks.contains(id)) addedThisPass += id
          blocks(id) = info.memSize + info.diskSize
        } else blocks.remove(id)
        storagePeak = math.max(storagePeak, blocks.values.sum)
      case _ =>
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { qes += qe }

  /** Per-layer metrics of one traced pass of `wallMs` milliseconds.
    *
    * The pass wall time splits into four disjoint parts: stage-busy time,
    * planning phases outside it, time inside jobs or actions that is neither
    * (the driver's scheduling and result handling), and what is left of the
    * `fn(spark, dir)` calls (the queries' own driver code). */
  def layers(qs: Seq[QuerySpans], wallMs: Double, slots: Int): Map[String, Double] = synchronized {
    val busy = Spans.of(stages)
    val phases = Seq("analysis", "optimization", "planning").map { ph =>
      ph -> Spans.of(qes.flatMap(_.tracker.phases.get(ph))
        .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    }.toMap
    val planning = phases.values.foldLeft(Spans.empty)(_ union _)
    val jobSpans = Spans.of(jobs)
    val builds = Spans.of(qs.map(_.build))
    val actions = Spans.of(qs.map(_.action))
    val driverGap = jobSpans.union(actions).minus(busy.union(planning))
    val buildSelf = builds.minus(busy.union(planning).union(jobSpans))

    val seen = new IdentityHashMap[SparkPlan, Unit]()
    // a query that failed during planning has no executed plan
    val nodes = qes.iterator
      .flatMap(qe => Try(qe.executedPlan).toOption.iterator.flatMap(walk))
      .filter { p => val fresh = !seen.containsKey(p); seen.put(p, ()); fresh }
      .toVector
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(p: SparkPlan, name: String): Double = p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    val scanCols = scans.map(_.requiredSchema.length).sum.toDouble
    val tableCols = scans.map(_.relation.schema.length).sum.toDouble

    val sec = 1e-3
    val m = Map(
      "queries.build_s" -> buildSelf.total * sec,
      "queries.build_jobs" -> jobs.count(j => builds.contains(j._1)).toDouble,
      "plans.analysis_s" -> phases("analysis").minus(busy).total * sec,
      "plans.optimization_s" -> phases("optimization").minus(busy).total * sec,
      "plans.planning_s" -> phases("planning").minus(busy).total * sec,
      "plans.exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "plans.broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble,
      "core.scan_bytes" -> scans.map(metric(_, "filesSize")).sum,
      "core.scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
      "core.cols_read_frac" -> (if (tableCols > 0) scanCols / tableCols else 0.0),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.jobs_per_query" -> jobs.size.toDouble / math.max(1, qs.size),
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> counts("tasks"),
      "exec.task_s" -> counts("task_ms") * sec,
      "exec.task_cpu_s" -> counts("task_cpu_ns") * 1e-9,
      "exec.busy_s" -> busy.total * sec,
      "exec.driver_gap_s" -> driverGap.total * sec,
      "exec.slot_util" -> counts("task_ms") / (wallMs * slots),
      "shuffle.write_bytes" -> counts("shuffle_write"),
      "shuffle.read_bytes" -> counts("shuffle_read"),
      "shuffle.spill_bytes" -> counts("spill"),
      "shuffle.fetch_wait_s" -> counts("fetch_wait_ms") * sec,
      "storage.peak_mb" -> storagePeak / 1048576.0,
      "storage.blocks_left" -> addedThisPass.count(blocks.contains).toDouble,
      "io.write_bytes" -> counts("out_bytes"),
      "io.write_rows" -> counts("out_rows"))
    val plansS = Seq("analysis", "optimization", "planning").map(p => m(s"plans.${p}_s")).sum
    val accounted = m("queries.build_s") + plansS + m("exec.busy_s") + m("exec.driver_gap_s")
    m ++ Map(
      "plans.frac" -> plansS / (wallMs * sec),
      "exec.driver_gap_frac" -> m("exec.driver_gap_s") / (wallMs * sec),
      "trace.recon_ratio" -> accounted / (wallMs * sec))
  }

  /** Every physical node that ran, looking through adaptive plans and query
    * stages; a reused exchange is counted where it first ran. */
  private def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case _ => Iterator.single(p) ++ (p.children ++ p.subqueries).iterator.flatMap(walk)
  }
}
