package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark work done under one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var gcMs, cpuNs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; gcMs += o.gcMs; cpuNs += o.cpuNs
  }
}

/** Benchmark-owned listener: attributes every job, completed stage and
  * finished task to the job group that was set when its job started. The
  * tracer sets one group per span, so each span gets the Spark work it
  * caused. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    counters(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.cpuNs += m.executorCpuTime
    }
  }

  /** Counters of one group, after all queued events have arrived. */
  def of(sc: org.apache.spark.SparkContext, group: String): Counters = {
    ListenerDrain(sc)
    synchronized(byGroup.getOrElse(group, new Counters))
  }
}

/** One traced layer call: `parent` is the id of the enclosing span, -1 at
  * the root. Times are seconds since the tracer started. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      start: Double, end: Double, work: Counters) {
  def seconds: Double = end - start
}

/** Records a span around each layer call the benchmark makes, and runs the
  * call under a job group named after the span so the listener can key
  * Spark work to it. Off, it only runs the call. */
final class Tracer(spark: SparkSession, listener: Option[GroupListener]) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  private def now = (System.nanoTime() - origin) / 1e9

  def apply[A](layer: String, name: String)(f: => A): A =
    if (!on || listener.isEmpty) f
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(id.toString, name)
      val start = now
      try f
      finally {
        val end = now
        stack = stack.tail
        stack.headOption match {
          case Some((p, pname)) => sc.setJobGroup(p.toString, pname)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, layer, parent, start, end,
          listener.get.of(sc, id.toString))
      }
    }

  /** Spans recorded from `from` on (index into [[spans]]). */
  def since(from: Int): Seq[Span] = spans.drop(from).toSeq

  /** Self time of each span: its duration minus its children's. */
  def selfSeconds(ss: Seq[Span]): Map[Int, Double] = {
    val child = ss.groupBy(_.parent).map { case (p, c) => p -> c.map(_.seconds).sum }
    ss.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }
}

/** Host speed probe. On a shared VM the CPU runs up to a third slower for
  * minutes at a time, with no CPU time stolen and the VM otherwise idle,
  * and every timed phase slows with it. Between timed phases the probe runs
  * two fixed loops on four threads at once, one on registers and one
  * chasing pointers through 64 MB off the heap, and reads each thread's own
  * CPU clock, so only how fast the CPU ran counts, not waiting for one. A
  * sample is the geometric mean of the two loops' times: passes slowed
  * about twice as much as the register loop did, and scaling by the mean
  * steadied them more than scaling by either loop alone. A time is
  * reported scaled by `RefCpuS` over the median sample taken while it ran:
  * seconds at the reference host speed. */
object HostSpeed {
  /** A sample's CPU seconds on the 4-vCPU VM the bounds were set on. */
  val RefCpuS = 0.04
  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
  private val slots = 1 << 23
  private val table = {
    val t = java.nio.ByteBuffer.allocateDirect(8 * slots).asLongBuffer()
    for (i <- 0 until slots) t.put(i, i * 0x9E3779B97F4A7C15L)
    t
  }
  private val taken = mutable.ArrayBuffer.empty[Double]
  @volatile private var sink = 0L

  private def spin(n: Int): Long = {
    var x = 88172645463325252L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def chase(n: Int): Long = {
    var x = 1L
    var i = 0
    while (i < n) { x = table.get(((x >>> 7) & (slots - 1)).toInt) + i; i += 1 }
    x
  }

  /** Mean CPU seconds of `loop` run on four threads at once. */
  private def onFour(loop: () => Long): Double = {
    val cpu = new Array[Double](4)
    val threads = (0 until 4).map(k => new Thread(() => {
      val c0 = bean.getCurrentThreadCpuTime
      sink += loop()
      cpu(k) = (bean.getCurrentThreadCpuTime - c0) / 1e9
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    cpu.sum / 4
  }

  /** Runs both loops once and keeps the geometric mean of their times. */
  def sample(): Unit = {
    val s = math.sqrt(onFour(() => spin(15000000)) * onFour(() => chase(200000)))
    synchronized(taken += s)
  }

  /** Median sample since the last call; starts a new interval. */
  def interval(): Double = synchronized {
    val m = Stats.median(taken.toSeq)
    taken.clear()
    m
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Heap still in use after full collections: what the run keeps alive.
    * The pause between them lets Spark's cleaner drop the blocks of
    * datasets the first collection found unreachable. */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the result line (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
