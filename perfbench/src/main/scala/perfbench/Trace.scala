package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** One timed interval of an op. Spans of one op share `op`; `parent`
  * names the enclosing span ("op" for the op's direct children, None
  * for the op span itself). */
final case class Span(op: Int, name: String, parent: Option[String],
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for one op. When `traced`, each span also becomes the
  * Spark job group `<op>/<span>`, so the listener can attribute the
  * jobs, stages and task metrics the span launches; when not traced it
  * only runs the body. [[bookNs]] sums the time the op's thread spent
  * on this bookkeeping. */
final class OpCtx(val op: Int, val traced: Boolean, sc: SparkContext,
    sink: mutable.ArrayBuffer[Span]) {
  private var stack: List[String] = List("op")
  var bookNs = 0L

  /** Run tracing bookkeeping, adding its time to [[bookNs]]. */
  def book[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally bookNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val parent = stack.head
      book {
        stack = name :: stack
        sc.setJobGroup(s"$op/$name", name)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        book {
          sink += Span(op, name, Some(parent), t0, t1)
          stack = stack.tail
          sc.setJobGroup(s"$op/${stack.head}", stack.head)
        }
      }
    }
}

/** Scheduler counters of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/** Attributes jobs and completed stages to the job group that
  * submitted them. Events arrive on Spark's listener thread; read
  * [[byGroup]] only after draining the bus. */
final class GroupListener extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counters(group(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = counters(stageGroup.remove(info.stageId).getOrElse("unattributed"))
    c.stages += 1
    c.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }

  def forGroup(g: String): Counters = synchronized {
    val total = new Counters
    byGroup.get(g).foreach(total += _)
    total
  }

  /** Counters of one op: every group whose id starts with `<op>/`,
    * optionally only the groups of one span name. */
  def forOp(op: Int, span: Option[String] = None): Counters = synchronized {
    val total = new Counters
    byGroup.foreach { case (g, c) =>
      val Array(o, s) = g.split("/", 2).padTo(2, "")
      if (o == op.toString && span.forall(_ == s)) total += c
    }
    total
  }
}
