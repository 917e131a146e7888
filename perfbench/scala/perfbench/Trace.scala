package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** One span around a call the benchmark makes into a layer's public API. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single client thread. Spans nest by call
  * order; nothing is written until [[toJson]] at the end of the run. When
  * disabled, [[apply]] only runs the body.
  */
final class Tracer(val run: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var enabled = false

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, t0, System.nanoTime(), run)
        stack = stack.tail
      }
    }

  def seconds(name: String): Seq[Double] = done.filter(_.name == name).map(_.seconds).toSeq

  /** Self time of every span: its duration minus what its children cover
    * (children of one client thread never overlap, so that is their sum).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = done.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum)
    done.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  /** layer -> (spans, total s, self s), sorted by self time. */
  def layerTable: Seq[(String, Int, Double, Double)] = {
    val self = selfSeconds
    done.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      (layer, ss.size, ss.map(_.seconds).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._4)
  }

  def toJson: String = Json.arr(done.map { s =>
    Json.Raw(Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.run))
  }.toSeq)
}

/** Scheduler footprint between [[reset]] calls (the idea of BenchExtra's
  * listener, plus shuffle bytes and executor run time for core utilization),
  * and the classes Spark's code generator compiled in that time.
  */
final class Footprint(sc: SparkContext) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val runMs = new AtomicLong
  private var compiles0 = 0L
  sc.addSparkListener(this)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(): Unit }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(t.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Seq(jobs, stages, tasks, shuffleWriteBytes, runMs).foreach(_.set(0))
    compiles0 = compiles
  }

  /** Counts since the last reset, after every event so far is delivered. */
  def read(): Footprint.Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Footprint.Counts(jobs.get, stages.get, tasks.get, shuffleWriteBytes.get, runMs.get / 1e3,
      compiles - compiles0)
  }
}

object Footprint {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleWriteBytes: Long, taskRunS: Double, codegenCompiles: Long)
}

/** JVM-wide GC, JIT and heap figures from the management beans. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Old-generation occupancy right after the last collection, in MB. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
