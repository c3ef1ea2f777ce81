package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark work attributed to one span: counts that load does not move
  * (jobs, stages, tasks, bytes) and executor CPU/GC time.
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, spillB: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0) {

  private def zip(o: Counters, f: (Long, Long) => Long) = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(shuffleWriteB, o.shuffleWriteB), f(shuffleReadB, o.shuffleReadB),
    f(spillB, o.spillB), f(cpuNs, o.cpuNs), f(gcMs, o.gcMs))

  def +(o: Counters): Counters = zip(o, _ + _)
  def -(o: Counters): Counters = zip(o, _ - _)

  def metrics(layer: String): Seq[(String, Double)] = Seq(
    s"$layer.jobs" -> jobs.toDouble, s"$layer.stages" -> stages.toDouble,
    s"$layer.tasks" -> tasks.toDouble, s"$layer.shuffle_write_b" -> shuffleWriteB.toDouble,
    s"$layer.shuffle_read_b" -> shuffleReadB.toDouble, s"$layer.spill_b" -> spillB.toDouble,
    s"$layer.cpu_s" -> cpuNs / 1e9, s"$layer.gc_s" -> gcMs / 1e3)
}

final case class Span(id: Int, name: String, parent: Int, startS: Double, endS: Double,
    counters: Counters) {
  def seconds: Double = endS - startS
}

/** In-memory span recorder for the traced run. A span is opened around a
  * call into one engine module from the benchmark's own code; Spark jobs
  * started inside it carry the span id as a thread-local job property, and
  * a listener sums their stage/task metrics into the span's [[Counters]]
  * (jobs of a nested span count only toward the innermost one).
  */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  private object Listener extends SparkListener {
    val stageSpan = mutable.Map.empty[Int, Int]
    val counters = mutable.Map.empty[Int, Counters]
    private def add(span: Int, c: Counters): Unit =
      counters(span) = counters.getOrElse(span, Counters()) + c

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).foreach { s =>
        e.stageIds.foreach(stageSpan(_) = s)
        add(s, Counters(jobs = 1))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(add(_, Counters(stages = 1)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach(add(_, Counters(
        tasks = 1, shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime)))
    }
  }
  sc.addSparkListener(Listener)

  def stop(): Unit = sc.removeSparkListener(Listener)

  private def now: Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` as span `name`; returns its result and the closed span. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    open = id :: open
    val start = now
    try {
      val a = body
      val end = now
      drainBus()
      val s = Span(id, name, parent, start, end,
        Listener.synchronized(Listener.counters.getOrElse(id, Counters())))
      closed += s
      (a, s)
    } finally {
      open = open.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Counters of a span plus all of its descendants. */
  def total(s: Span): Counters =
    closed.filter(_.parent == s.id).foldLeft(s.counters)((c, k) => c + total(k))

  def spans: Seq[Span] = closed.sortBy(_.id).toSeq

  /** The listener bus is asynchronous; wait for it so a span's counters are
    * complete when it closes. `waitUntilEmpty` is Spark-internal, reached
    * reflectively; without it the counters may undercount.
    */
  private def drainBus(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
        .foreach(_.invoke(bus, java.lang.Long.valueOf(10000L)))
    } catch { case _: ReflectiveOperationException => }
}
