package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** In-memory span store for the traced run. A span has a name, a start and
  * an end (`System.nanoTime`), the id of the span that caused it (0 = none)
  * and an operation id. Spans live in preallocated primitive arrays (no
  * object per span) so executor threads can record them concurrently at low
  * cost; the store is written out once, when the run ends.
  *
  * It is a static object because in local mode the executor-side closures
  * run in the driver JVM and must reach the same store.
  */
object Trace {
  @volatile var enabled = false
  private var capacity = 0
  private var names: Array[Int] = Array.empty
  private var starts: Array[Long] = Array.empty
  private var ends: Array[Long] = Array.empty
  private var parents: Array[Long] = Array.empty
  private var ops: Array[Long] = Array.empty
  private val cursor = new AtomicInteger(0)
  private val dropped = new AtomicLong(0)
  private val nameIds = new ConcurrentHashMap[String, Integer]()
  private val nameList = new java.util.concurrent.CopyOnWriteArrayList[String]()

  def enable(maxSpans: Int): Unit = {
    capacity = maxSpans
    names = new Array[Int](maxSpans)
    starts = new Array[Long](maxSpans)
    ends = new Array[Long](maxSpans)
    parents = new Array[Long](maxSpans)
    ops = new Array[Long](maxSpans)
    enabled = true
  }

  private def nameId(name: String): Int = {
    val id = nameIds.get(name)
    if (id != null) id.intValue
    else synchronized {
      nameIds.computeIfAbsent(name, n => { nameList.add(n); Integer.valueOf(nameList.size - 1) }).intValue
    }
  }

  /** Records a finished span; returns its id (0 if the store is off or full). */
  def add(name: String, start: Long, end: Long, parent: Long, op: Long): Long = {
    if (!enabled) return 0L
    val i = cursor.getAndIncrement()
    if (i >= capacity) { dropped.incrementAndGet(); return 0L }
    names(i) = nameId(name); starts(i) = start; ends(i) = end
    parents(i) = parent; ops(i) = op
    i + 1L
  }

  /** Opens a span whose end is set later by [[close]], so that children can
    * name it as their parent while it runs.
    */
  def open(name: String, parent: Long, op: Long): Long = {
    val t = System.nanoTime()
    add(name, t, t, parent, op)
  }

  def close(id: Long): Unit = if (id > 0) ends((id - 1).toInt) = System.nanoTime()

  /** Times `body` as a span named `name`; the body receives the span id. */
  def span[A](name: String, parent: Long, op: Long)(body: Long => A): A = {
    val id = open(name, parent, op)
    try body(id) finally close(id)
  }

  private def count: Int = math.min(cursor.get(), capacity)

  /** Self time (ns) of every span named `name`: its duration minus the part
    * of it that its child spans cover. Children of one span run one after
    * another in this benchmark, so their durations are summed.
    */
  def selfTimesNs(name: String): Array[Long] = {
    val id = Option(nameIds.get(name)).map(_.intValue).getOrElse(-1)
    if (id < 0) return Array.empty
    val n = count
    val childNs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = parents(i)
      if (p > 0 && p <= n) childNs((p - 1).toInt) += ends(i) - starts(i)
      i += 1
    }
    val out = Array.newBuilder[Long]
    i = 0
    while (i < n) {
      if (names(i) == id) out += math.max(0L, ends(i) - starts(i) - childNs(i))
      i += 1
    }
    out.result()
  }

  def spansRecorded: Int = count
  def spansDropped: Long = dropped.get()

  /** Writes every span as CSV: id,parent,op,name,start_ns,end_ns. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id,parent,op,name,start_ns,end_ns\n")
      var i = 0
      while (i < count) {
        w.write(s"${i + 1},${parents(i)},${ops(i)},${nameList.get(names(i))},${starts(i)},${ends(i)}\n")
        i += 1
      }
    } finally w.close()
  }
}

/** Order statistics over raw samples, no bucketing. `quantile` is nearest-rank. */
object Stats {
  def quantile(xs: Array[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Lock-free append-only buffer of long samples shared by executor threads. */
final class SampleBuffer(capacity: Int) {
  private val data = new Array[Long](capacity)
  private val cursor = new AtomicInteger(0)
  def add(v: Long): Unit = {
    val i = cursor.getAndIncrement()
    if (i < capacity) data(i) = v
  }
  def size: Int = math.min(cursor.get(), capacity)
  def overflowed: Boolean = cursor.get() > capacity
  def reset(): Unit = cursor.set(0)
  def toMsArray: Array[Double] = Array.tabulate(size)(i => data(i) / 1e6)
}

/** JVM-wide GC, allocation and CPU counters, read as deltas around a window. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  final case class Snap(gcMs: Long, allocBytes: Long, cpu: Map[Long, Long])

  def snap(): Snap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val tm = ManagementFactory.getThreadMXBean
    val ids = tm.getAllThreadIds
    val alloc = tm match {
      case s: com.sun.management.ThreadMXBean => s.getThreadAllocatedBytes(ids).filter(_ > 0).sum
      case _ => 0L
    }
    val cpu = ids.flatMap { id =>
      val t = tm.getThreadCpuTime(id)
      if (t >= 0) Some(id -> t) else None
    }.toMap
    Snap(gc, alloc, cpu)
  }

  /** (gc ms, allocated MB, cpu ms) between two snapshots. CPU is summed over
    * threads alive at the end; a thread born inside the window counts from 0.
    * Allocation by threads that died inside the window is not counted.
    */
  def delta(a: Snap, b: Snap): (Double, Double, Double) = {
    val cpuNs = b.cpu.iterator.map { case (id, t) => math.max(0L, t - a.cpu.getOrElse(id, 0L)) }.sum
    ((b.gcMs - a.gcMs).toDouble, math.max(0L, b.allocBytes - a.allocBytes) / 1048576.0, cpuNs / 1e6)
  }
}
