package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.util.Json
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

object Layers {
  /** Local property carrying the layer (graft module) of the operation
    * whose thread started a job. */
  val Key = "graft.bench.layer"
}

/** Task-level counters per layer. A job is charged to the layer named by
  * the local property of the thread that started it; streaming queries
  * inherit it from the thread that started them.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val stageLayer = TrieMap.empty[Int, String]
  private val counts = TrieMap.empty[String, Array[AtomicLong]]

  private def add(layer: String, i: Int, v: Long): Unit =
    counts.getOrElseUpdate(layer, Array.fill(Fields)(new AtomicLong))(i).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Layers.Key))).foreach { l =>
      add(l, Jobs, 1)
      e.stageInfos.foreach(si => stageLayer(si.stageId) = l)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (l <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
      add(l, Tasks, 1)
      add(l, RunMs, m.executorRunTime)
      add(l, CpuNs, m.executorCpuTime)
      add(l, GcMs, m.jvmGCTime)
      add(l, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      add(l, Spill, m.memoryBytesSpilled)
      add(l, Output, m.outputMetrics.bytesWritten)
    }

  /** Counters per layer, in the metric units the benchmark reports. */
  def snapshot: Map[String, Map[String, Double]] = counts.map { case (l, a) =>
    l -> Map(
      "jobs" -> a(Jobs).get.toDouble,
      "tasks" -> a(Tasks).get.toDouble,
      "task_run_s" -> a(RunMs).get / 1e3,
      "task_cpu_s" -> a(CpuNs).get / 1e9,
      "gc_s" -> a(GcMs).get / 1e3,
      "shuffle_write_bytes" -> a(ShuffleWrite).get.toDouble,
      "spill_bytes" -> a(Spill).get.toDouble,
      "output_bytes" -> a(Output).get.toDouble)
  }.toMap
}

object LayerListener {
  private val Fields = 8
  private val Jobs = 0
  private val Tasks = 1
  private val RunMs = 2
  private val CpuNs = 3
  private val GcMs = 4
  private val ShuffleWrite = 5
  private val Spill = 6
  private val Output = 7
}

/** One timed interval: a pass, an operation, or one of an operation's
  * three phases (build, plan, exec). */
final case class Span(id: Int, parent: Int, layer: String, op: String, startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val workload: String, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private var lastId = 0

  /** An id for a span recorded later, so its children can name it first. */
  def reserve(): Int = { lastId += 1; lastId }

  def record(id: Int, parent: Int, layer: String, op: String, startNs: Long, endNs: Long): Int = {
    spans += Span(id, parent, layer, op, startNs - origin, endNs - origin)
    id
  }

  def record(parent: Int, layer: String, op: String, startNs: Long, endNs: Long): Int =
    record(reserve(), parent, layer, op, startNs, endNs)

  /** Per layer: summed span time not covered by child spans of another
    * layer. A layer's own phases (build/plan/exec) count as its self time. */
  def selfSeconds: Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val foreignChildNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.filter(c => byId.get(p).exists(_.layer != c.layer)).map(c => c.endNs - c.startNs).sum
    }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.filter(s => byId.get(s.parent).forall(_.layer != l))
        .map(s => s.endNs - s.startNs - foreignChildNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def json(extra: String): String = {
    val ss = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"workload":${Json.q(workload)},"run":${Json.q(runId)},""" +
        s""""layer":${Json.q(s.layer)},"op":${Json.q(s.op)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val self = selfSeconds.map { case (l, v) => s"${Json.q(l)}:$v" }.mkString("{", ",", "}")
    s"""{"workload":${Json.q(workload)},"run":${Json.q(runId)},"self_s":$self,$extra,"spans":${ss.mkString("[", ",\n", "]")}}"""
  }
}
