package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

/** A JSON object whose fields keep their insertion order. */
final case class Obj(fields: Seq[(String, Any)])

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, render(v).getBytes(StandardCharsets.UTF_8))
  }
}

object Stat {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that still has `beyond` samples above it, as
    * (percentile, value); None when there are too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val i = s.length - beyond - 1
    if (i < 0) None else Some((100.0 * (i + 1) / s.length, s(i)))
  }

  /** Median over consecutive (traced, untraced) pairs of traced / untraced - 1. */
  def pairedOverhead(traced: Seq[Double], plain: Seq[Double]): Double =
    median(traced.zip(plain).map { case (t, p) => t / p - 1 })

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }
}

/** The run's own weather: machine load, hypervisor steal and this
  * process's share of the machine's CPU over a window. */
object Weather {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    catch { case NonFatal(_) => "" }

  def loadavg1(): Double =
    read("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** (all jiffies, steal jiffies) of the machine. */
  def machineJiffies(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      case None => (0L, 0L)
    }

  /** user + system jiffies of this process. */
  def selfJiffies(): Long = {
    val s = read("/proc/self/stat")
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    if (f.length > 12) f(11).toLong + f(12).toLong else 0L
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  final class Window {
    private val load0 = loadavg1()
    private val (all0, steal0) = machineJiffies()
    private val self0 = selfJiffies()

    def close(): Obj = {
      val (all1, steal1) = machineJiffies()
      val dAll = math.max(all1 - all0, 1L).toDouble
      Obj(Seq(
        "loadavg1_start" -> load0,
        "loadavg1_end" -> loadavg1(),
        "steal_frac" -> (steal1 - steal0) / dAll,
        "cpu_share" -> (selfJiffies() - self0) / dAll))
    }
  }
}

/** The highest heap occupancy seen right after a garbage collection: the
  * most memory the run kept live, which varies far less between runs than
  * the JVM's resident size. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.synchronized { peak = math.max(peak, used) }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Per-job, per-stage and per-task records from the listener bus, read
  * back through marks that bracket one measured operation. */
final class StageStats(sc: SparkContext) extends SparkListener {
  final case class StageRec(id: Int, wallMs: Long, runMs: Long, gcMs: Long,
                            shuffleWrite: Long, inputRecords: Long, output: Long)
  final case class TaskRec(stage: Int, runMs: Long)
  final case class Mark(jobs: Int, stages: Int, tasks: Int)
  final case class Window(jobs: Int, stages: Seq[StageRec], tasks: Seq[TaskRec]) {
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def inputRecords: Long = stages.map(_.inputRecords).sum
    def output: Long = stages.map(_.output).sum
    /** The stage that ran longest in executor time: the kernel stage of
      * an extraction pass. */
    def heaviest: Option[StageRec] = stages.maxByOption(_.runMs)
    def taskRunMs(stage: Int): Seq[Double] =
      tasks.filter(_.stage == stage).map(_.runMs.toDouble)
  }

  private val jobs = ArrayBuffer.empty[Int]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.jobId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    val rec =
      if (m == null) StageRec(i.stageId, wall, 0, 0, 0, 0, 0)
      else StageRec(i.stageId, wall, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten)
    synchronized { stages += rec }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      synchronized { tasks += TaskRec(e.stageId, e.taskMetrics.executorRunTime) }

  def mark(): Mark = {
    org.apache.spark.graftbench.BusDrain(sc)
    synchronized { Mark(jobs.size, stages.size, tasks.size) }
  }

  def since(m: Mark): Window = {
    org.apache.spark.graftbench.BusDrain(sc)
    synchronized {
      Window(jobs.size - m.jobs, stages.drop(m.stages).toSeq, tasks.drop(m.tasks).toSeq)
    }
  }
}

/** Spans recorded from the benchmark's own calls into each layer: name,
  * start, end, parent and the pass they belong to. Kept in memory and
  * written out once, at the end of a traced run. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, pass: Long)

  @volatile var enabled = false
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private var nextId = 0

  def span[A](name: String, pass: Long)(f: => A): A =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, t0 - origin, t1 - origin, parent, pass) }
      }
    }

  def count: Int = synchronized { spans.size }

  def writeTo(path: Path): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val sb = new java.lang.StringBuilder
    spans.foreach { s =>
      sb.append(Json.render(Obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "pass" -> s.pass)))).append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** What one run reports: operation counts, named metrics with units, and
  * a free-form record of what else the run saw. */
final class Result {
  var attempted = 0L
  var failed = 0L
  /** Outputs compared with their reference, and how many matched. */
  var checked = 0L
  var matched = 0L
  val metrics = LinkedHashMap.empty[String, (Double, String)]
  val info = LinkedHashMap.empty[String, Any]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Runs one operation: an exception counts it as failed. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def toObj: Obj = Obj(Seq(
    "attempted" -> attempted, "failed" -> failed, "checked" -> checked, "matched" -> matched,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Obj(Seq("value" -> v, "unit" -> u)) },
    "info" -> info))
}
