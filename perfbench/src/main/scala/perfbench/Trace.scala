package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** A timed interval around one call into a layer. `run` groups the spans
  * of one timed run; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, run: Int, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. The untraced runs use [[Spans.Off]], which only calls
  * the body, so they measure the program and nothing else. */
sealed trait Spans {
  def apply[T](name: String, layer: String)(body: => T): T
}

object Spans {
  object Off extends Spans {
    def apply[T](name: String, layer: String)(body: => T): T = body
  }

  /** Keeps every span in memory; the caller writes them out at exit.
    * Single-threaded: spans are opened on the benchmark's driver thread. */
  final class On extends Spans {
    val spans: ArrayBuffer[Span] = ArrayBuffer[Span]()
    var run: Int = 0
    private var open: List[Int] = Nil

    def apply[T](name: String, layer: String)(body: => T): T = {
      val id = spans.length + open.length
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, run, name, layer, t0, System.nanoTime())
        open = open.tail
      }
    }

    /** Duration minus the part of it that direct children cover (children
      * run one after another on the same thread, so they never overlap). */
    def selfNs(s: Span): Long =
      s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum
  }
}

/** Spark listener counters, summed since the last [[reset]]. Registered
  * only in the traced invocation. Read them after draining the bus. */
final class Counters extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillDisk = 0L
  val stageIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; spillDisk = 0
    stageIntervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spillDisk += m.diskBytesSpilled
    }
  }

  /** Milliseconds of [fromMs, toMs] during which no stage ran. */
  def gapMs(fromMs: Long, toMs: Long): Long = synchronized {
    var covered = 0L
    var end = fromMs
    stageIntervals.map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
      .foreach { case (s, c) =>
        if (c > end) { covered += c - math.max(s, end); end = c }
      }
    (toMs - fromMs) - covered
  }
}
