package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base as
  * Spark's listener event times (`System.currentTimeMillis`). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, run: Int, t0: Double, var t1: Double)

/** In-memory spans around the benchmark's calls into each layer. A span's
  * layer is its name up to the first '.', so `queries.exec` is a child
  * span in the `queries` layer. When disabled, `span` only runs the body.
  * Each span also becomes the Spark job group of the jobs it submits. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var run = 0
  private var stack = List.empty[Span]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), run, Clock.nowMs, Double.NaN)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.t1 = Clock.nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }
}

/** Per-job and per-stage Spark work, attributed to spans after the run. */
final class SparkProbe extends SparkListener {
  /** (job id, submission ms, job group, stage ids) */
  val jobs = new ConcurrentLinkedQueue[(Int, Double, String, Seq[Int])]()
  /** stage id -> tasks, run ms, deserialize ms, shuffle bytes, spill bytes,
    * gc ms, output bytes, output records */
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.add((e.jobId, e.time.toDouble, group, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.computeIfAbsent(e.stageId, _ => new Array[Double](8))
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorDeserializeTime
      a(3) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(5) += m.jvmGCTime
      a(6) += m.outputMetrics.bytesWritten
      a(7) += m.outputMetrics.recordsWritten
    }
  }
}

/** Planning time and similarity-join counts of every executed query,
  * read from its `QueryExecution` when it finishes. */
final class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  /** start ms, planning ms, optimization ms, candidates, pairs, prefilter hits */
  val events = new ConcurrentLinkedQueue[Array[Double]]()

  private val simName = "(?i)levenshtein|indel|ratio|jaccard|tokensort|cosine|intersect|bitset|minhash|simhash".r

  private def isSim(e: Expression): Boolean =
    e.find(x => simName.findFirstIn(x.getClass.getSimpleName + " " + x.prettyName).isDefined).isDefined

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows produced by the nearest operator at or below `p` that counts them. */
  private def rowsBelow(p: SparkPlan): Long = rows(p).getOrElse(p match {
    case q: QueryStageExec => rowsBelow(q.plan)
    case _                 => p.children.headOption.fold(0L)(rowsBelow)
  })

  private def conditions(plan: LogicalPlan): Seq[Expression] = plan.collect {
    case f: Filter                  => f.condition
    case Join(_, _, _, Some(c), _)  => c
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.isEmpty) return
    val start = ph.values.map(_.startTimeMs).min.toDouble
    def ms(k: String) = ph.get(k).fold(0.0)(_.durationMs.toDouble)
    var cand, pairs = 0L
    foreach(qe.executedPlan) {
      case j: BaseJoinExec if j.condition.exists(isSim) =>
        pairs += rows(j).getOrElse(0L)
        cand += j.children.map(rowsBelow).sum
      case f: FilterExec if isSim(f.condition) =>
        pairs += rows(f).getOrElse(0L)
        cand += rowsBelow(f.child)
      case _ =>
    }
    val before = conditions(qe.analyzed)
    val after = conditions(graft.plans.SimilarityPrefilter(qe.analyzed))
    val hits = before.zip(after).count { case (a, b) => !a.fastEquals(b) }
    events.add(Array(start, ms("analysis") + ms("optimization") + ms("planning"),
      ms("optimization"), cand.toDouble, pairs.toDouble, hits.toDouble))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Bytes and files under a set of roots, for storage accounting. */
object Storage {
  /** path -> (size, mtime) of every regular file under the roots */
  def scan(roots: Seq[String]): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out(f.getPath) = (f.length(), f.lastModified())
    roots.foreach(r => walk(new java.io.File(r)))
    out.toMap
  }

  /** (bytes, files) new or changed between two scans */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.values.map(_._1).sum, w.size.toLong)
  }

  def bytes(roots: Seq[String]): Long = scan(roots).values.map(_._1).sum
}

object Probes {
  /** Spark work as JSON-ready maps, once the listener bus has drained. */
  def dump(sc: SparkContext, sp: SparkProbe, pp: PlanProbe): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Map(
      "jobs" -> sp.jobs.asScala.toSeq.map { case (id, t, g, st) =>
        Map("id" -> id, "t" -> t, "group" -> g, "stages" -> st) },
      "stages" -> sp.stages.asScala.map { case (k, v) => k.toString -> v.toSeq },
      "sql" -> pp.events.asScala.toSeq.map(_.toSeq))
  }
}

/** Memory the program uses, from the JVM's own accounting: the peak heap
  * in use right after a collection (what the collector could not free:
  * the live set plus garbage it kept), the peak direct-buffer use seen at
  * those moments, and the peak non-heap use (metaspace, code cache). */
final class MemProbe {
  import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
    .filter(_.getName == "direct")
  private var heapAfterGc, directPeak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      val d = direct.map(_.getMemoryUsed).sum
      synchronized {
        heapAfterGc = math.max(heapAfterGc, used)
        directPeak = math.max(directPeak, d)
      }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      =>
  }

  def dump(): Map[String, Long] = synchronized {
    Map("heap_after_gc_b" -> heapAfterGc, "direct_b" -> directPeak,
      "non_heap_b" -> pools.filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum)
  }
}
