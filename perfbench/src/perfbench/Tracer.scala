package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftCoreBridge, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-level totals attributed to one job group. */
final class Totals {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var failedTasks = 0L

  def add(o: Totals): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes; tasks += o.tasks; failedTasks += o.failedTasks
  }
}

/** One closed span: a named call into a layer, with the task totals of the
  * jobs it ran (`jobs`: each job's start time and totals). `cpuS` is summed
  * executor CPU of those tasks; the local executors share the JVM, so it is
  * the same clock the process CPU uses.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
                      wallS: Double, jobs: Seq[(Long, Totals)]) {
  val t: Totals = { val a = new Totals; jobs.foreach(j => a.add(j._2)); a }
  def cpuS: Double = t.cpuNs / 1e9
  def mb(bytes: Long): Double = bytes / 1e6

  /** Totals of the jobs started before `cutoffMs`, and of the rest. */
  def split(cutoffMs: Long): (Totals, Totals) = {
    val (a, b) = jobs.partition(_._1 < cutoffMs)
    def sum(js: Seq[(Long, Totals)]) = { val x = new Totals; js.foreach(j => x.add(j._2)); x }
    (sum(a), sum(b))
  }
}

/** The benchmark's one SparkListener. Every span labels the jobs it submits
  * with `setJobGroup(<span id>)`; the listener maps each stage to the job
  * that submitted it and sums task metrics per job, so a span's CPU, GC and
  * shuffle bytes are exactly those of the jobs in its group.
  *
  * The listener bus delivers events asynchronously. Without
  * [[GraftCoreBridge.drainListenerBus]] before each snapshot, the task-end
  * events of a span's last stage can still be queued when the span closes:
  * they would land after the snapshot and be missed, or be counted by
  * whichever later snapshot reads the group. Every span therefore drains the
  * bus at both ends.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  /** The local property `SparkContext.setJobGroup` sets. */
  private val JobGroupKey = "spark.jobGroup.id"
  private final class Job(val group: String, val startMs: Long) { val t = new Totals }
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  val all = new Totals
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("")
    jobs.put(e.jobId, new Job(g, e.time))
    e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = new Totals
    t.tasks = 1
    if (e.reason != Success) t.failedTasks = 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs = m.executorCpuTime
      t.gcMs = m.jvmGCTime
      t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      t.inputBytes = m.inputMetrics.bytesRead
      t.outputBytes = m.outputMetrics.bytesWritten
      t.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.t.synchronized(j.t.add(t))
    }
    all.synchronized(all.add(t))
  }

  private def drain(): Unit =
    require(GraftCoreBridge.drainListenerBus(sc, 60000L), "listener bus did not drain within 60 s")

  /** Run `body` as a span named `name`, nested in the enclosing span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = spans.length + stack.length + 1
    val group = s"$runId/$id/$name"
    val parent = stack.headOption.getOrElse(0)
    val outer = sc.getLocalProperty(JobGroupKey)
    drain()
    stack = id :: stack
    sc.setJobGroup(group, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try body
      finally {
        stack = stack.tail
        if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, outer)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    val own = jobs.asScala.filter(_._2.group == group).toSeq.map { case (jobId, j) =>
      jobs.remove(jobId)
      (j.startMs, j.t)
    }
    // a child's jobs ran under the child's group: fold them into this span
    val children = spans.filter(_.parent == id).flatMap(_.jobs)
    val s = Span(id, name, parent, startMs, startMs + (wall * 1000).toLong, wall, own ++ children)
    spans += s
    (res, s)
  }

  def spansJson: String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
      "gc_s" -> s.t.gcMs / 1e3, "shuffle_write_mb" -> s.mb(s.t.shuffleWrite),
      "shuffle_read_mb" -> s.mb(s.t.shuffleRead), "input_mb" -> s.mb(s.t.inputBytes),
      "output_mb" -> s.mb(s.t.outputBytes), "tasks" -> s.t.tasks))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the flat records the benchmark prints. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
