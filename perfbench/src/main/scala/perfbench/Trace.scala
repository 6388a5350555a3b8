package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job tag. */
final class Counters {
  val jobs, stages, tasks, shuffleRead, shuffleWrite, spill,
    inputRecords, inputBytes, outputBytes = new LongAdder
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "shuffle_read_bytes" -> shuffleRead.sum,
    "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spill.sum,
    "input_records" -> inputRecords.sum, "input_bytes" -> inputBytes.sum,
    "output_bytes" -> outputBytes.sum)
}

/** Attributes jobs, stages, tasks and their I/O to every job tag the
  * submitting thread carried (`SparkContext.addJobTag`). Nested spans each
  * add their own tag, so a parent's counters include its children's. */
final class TagListener extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()

  private def counters(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(org.apache.spark.BenchShims.JobTagsKey)))
      .map(_.split(",").toSeq.filter(_.startsWith(Tracer.TagPrefix)))
      .getOrElse(Nil)
    if (tags.nonEmpty) {
      tags.foreach(counters(_).jobs.increment())
      e.stageIds.foreach(s => stageTags.putIfAbsent(s, tags))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTags.get(e.stageInfo.stageId))
      .foreach(_.foreach(counters(_).stages.increment()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tags <- Option(stageTags.get(e.stageId)); m <- Option(e.taskMetrics);
         t <- tags) {
      val c = counters(t)
      c.tasks.increment()
      c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputRecords.add(m.inputMetrics.recordsRead)
      c.inputBytes.add(m.inputMetrics.bytesRead)
      c.outputBytes.add(m.outputMetrics.bytesWritten)
    }

  def of(tag: String): Map[String, Long] =
    Option(byTag.get(tag)).map(_.snapshot).getOrElse(new Counters().snapshot)
}

/** One timed interval around a call into a layer. Spans of one operation
  * share `trace`; `parent` is the enclosing span on the same thread (0 at
  * the top). `spark` holds the Spark counters of the span's job tag. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, spark: Map[String, Long] = Map.empty) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing; enabled, each span tags the Spark jobs its
  * body submits and is kept until [[finish]] resolves the counters. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new TagListener
  if (enabled) sc.addSparkListener(listener)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue: List[(Long, Long)] = Nil
  }

  /** Time `body` as span `name`, a child of the thread's enclosing span;
    * a span with no enclosing one starts a new trace. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, tr) = outer.headOption.getOrElse((0L, id))
      val tag = Tracer.TagPrefix + id
      stack.set((id, tr) :: outer)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(outer)
        spans.add(Span(id, parent, tr, name, t0, t1))
      }
    }

  /** Wait for the listener bus, attach each span's counters and return
    * every span recorded (the first call resolves; later calls return
    * the same spans). */
  lazy val finish: Seq[Span] =
    if (!enabled) Nil
    else {
      org.apache.spark.BenchShims.drainListeners(sc)
      val all = spans.asScala.toSeq.sortBy(_.id)
        .map(s => s.copy(spark = listener.of(Tracer.TagPrefix + s.id)))
      sc.removeSparkListener(listener)
      all
    }
}

object Tracer {
  val TagPrefix = "perfbench-span-"

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          val from = math.max(a, end)
          if (b > from) (sum + (b - from), b) else (sum, end)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def toJson(s: Span, self: Double): String = {
    val counters = s.spark.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""ms":${s.ms}%.3f,"self_ms":$self%.3f,"spark":{$counters}}"""
  }
}
