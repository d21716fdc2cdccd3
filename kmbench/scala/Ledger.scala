package kmbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, SparkInternals}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** One timed interval around a call into the program. `parent` is the id
  * of the enclosing span (-1 for a repetition's root). Jobs are attributed
  * to a span through the job group `kmbench-<id>` set while it is open. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long) {
  var endNs: Long = -1L
  var compiles0: Long = 0L
  var compiles: Long = 0L
}

/** In-memory span recorder. With `traced` off it only takes the two
  * nanoTime stamps per call that wall time needs; with it on, each span
  * also sets the Spark job group and reads the codegen compile counter. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var traced = false
  private var stack = List.empty[Span]

  def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    stack ::= s
    if (traced) {
      s.compiles0 = Tracer.compileCount
      sc.setJobGroup(s"kmbench-${s.id}", name)
    }
    s
  }

  def close(): Span = {
    val s = stack.head
    stack = stack.tail
    s.endNs = System.nanoTime()
    if (traced) {
      s.compiles = Tracer.compileCount - s.compiles0
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"kmbench-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
    s
  }

  def apply[T](name: String)(body: => T): T = {
    open(name)
    try body finally close()
  }
}

object Tracer {
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Spark work counters per job and per stage, read from the listener bus.
  * Task metrics are summed per stage; each stage belongs to the first job
  * that listed it, and each job to the span whose group was set when it
  * was submitted. */
final class Ledger extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Long) {
    var endMs: Long = -1L
  }
  final class Stage(val id: Int, val job: Int) {
    var map = false
    var tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleReadB, shuffleWriteB, shuffleWriteRec, spillB = 0L
    var inB, inRec, outB, outRec = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val ran = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageInfos.foreach { si =>
      stages.getOrElseUpdate(si.stageId, new Stage(si.stageId, e.jobId)).map =
        SparkInternals.isShuffleMapStage(si)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    ran += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).filter(_ => m != null).foreach { st =>
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      st.shuffleWriteRec += m.shuffleWriteMetrics.recordsWritten
      st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inB += m.inputMetrics.bytesRead
      st.inRec += m.inputMetrics.recordsRead
      st.outB += m.outputMetrics.bytesWritten
      st.outRec += m.outputMetrics.recordsWritten
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map(
        "id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> stages.values.toSeq.filter(s => ran(s.id)).map(s => Map(
        "id" -> s.id, "job" -> s.job, "map" -> s.map, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_read_b" -> s.shuffleReadB, "shuffle_write_b" -> s.shuffleWriteB,
        "shuffle_write_rec" -> s.shuffleWriteRec, "spill_b" -> s.spillB,
        "in_b" -> s.inB, "in_rec" -> s.inRec, "out_b" -> s.outB, "out_rec" -> s.outRec)))
  }
}
