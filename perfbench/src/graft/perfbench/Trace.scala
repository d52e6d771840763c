package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each engine layer: name,
  * start, end, parent and run id, with counts recorded at the same
  * boundary. Kept in memory and written out when the run ends. With
  * tracing off, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean, runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, endNs: Long, counts: Map[String, Double])

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Int, mutable.Map[String, Double])]] {
    override def initialValue(): List[(Int, mutable.Map[String, Double])] = Nil
  }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = open.get
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val counts = mutable.Map.empty[String, Double]
      open.set((id, counts) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { done += Span(id, name, parent, t0, t1, counts.toMap) }
      }
    }

  /** Add to a count of the innermost open span of this thread. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.get.headOption.foreach { case (_, c) =>
      c(key) = c.getOrElse(key, 0.0) + v
    }

  def spans: Seq[Span] = synchronized(done.toList)

  /** Self time of every span called `name`, in ms: its duration minus the
    * part of it that its child spans cover. */
  def selfMs(name: String): Seq[Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.filter(_.name == name).sortBy(_.startNs).map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - (a max end), b)
        }._1
      (s.endNs - s.startNs - covered) / 1e6
    }
  }

  def countsOf(name: String, key: String): Seq[Double] =
    spans.filter(_.name == name).sortBy(_.startNs)
      .map(_.counts.getOrElse(key, 0.0))

  def json: String = Json(Map("run" -> runId, "spans" -> spans.map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> s.counts))))
}

/** Task metrics summed per job tag (and in total), plan-phase time from
  * each `QueryExecution.tracker`, and streaming progress. Read only after
  * [[drain]]. */
final class Ledger(spark: SparkSession) extends SparkListener {
  final class Acc {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L
    var spill = 0L; var recordsOut = 0L; var bytesOut = 0L
    def snapshot: Map[String, Double] = Map("tasks" -> tasks.toDouble,
      "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs.toDouble,
      "shuffle_write" -> shuffleWrite.toDouble, "spill" -> spill.toDouble,
      "records_out" -> recordsOut.toDouble, "bytes_out" -> bytesOut.toDouble)
  }
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
  private val accs = mutable.Map.empty[String, Acc]
  @volatile var planMs = 0.0
  val progress = mutable.ArrayBuffer.empty[QueryProgressEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    e.stageIds.foreach(s => stageTags.put(s, tags))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val tags = "total" +: stageTags.getOrDefault(e.stageId, Nil)
      tags.foreach { t =>
        val a = accs.getOrElseUpdate(t, new Acc)
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.recordsOut += m.outputMetrics.recordsWritten
        a.bytesOut += m.outputMetrics.bytesWritten
      }
    }

  def get(tag: String): Map[String, Double] = synchronized {
    accs.getOrElse(tag, new Acc).snapshot
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Run `body` with every job it starts tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(qe)
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      Ledger.this.synchronized { planMs += ms }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Ledger.this.synchronized { progress += e }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** CPU time all threads of this process have used so far, in ns. Unlike
    * wall time it does not grow while other work on the host holds the
    * processors. */
  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Thread CPU ms of a fixed single-threaded kernel: sort 2^20 seeded
    * longs, then count them in a hash map. It measures how fast this host
    * runs JVM code just now; the CPU metrics are scaled by it. */
  def calibrationMs(): Double = {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val t0 = bean.getCurrentThreadCpuTime
    val a = new Array[Long](1 << 20)
    var x = 88172645463325252L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x & 0xffffL
      i += 1
    }
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    i = 0
    while (i < a.length) {
      m.put(a(i), m.getOrDefault(a(i), 0L) + 1)
      i += 1
    }
    calibrationSink += m.size
    (bean.getCurrentThreadCpuTime - t0) / 1e6
  }
  /** Keeps the kernel's result live, so the JIT cannot drop the work. */
  @volatile private var calibrationSink = 0L

  /** The calibration kernel's time on the reference host when no other
    * tenant loads it (README). */
  val ReferenceCalibrationMs = 100.0

  /** CPU cost measured while the kernel took `calibrationMs`, scaled to
    * the reference host's speed: the shared host's per-core speed moves
    * CPU time by up to 2x between windows minutes apart, and the kernel's
    * time moves with it while the engine's work stays the same. */
  def scaled(cpuMs: Double, calibrationMs: Double): Double =
    cpuMs * ReferenceCalibrationMs / calibrationMs

  /** Bytes this process has passed to write(2) so far (`wchar`). */
  def wchar(): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
      .asScala.find(_.startsWith("wchar:")).map(_.split(':')(1).trim.toLong)
      .getOrElse(0L)
}

object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
