package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Session settings shared by every workload. The benchmark builds its
  * own sessions (the library has no session factory); `work` keeps every
  * file Spark writes inside the benchmark's work directory. */
object Sessions {
  def create(master: String, shufflePartitions: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Log {
  private val t0 = System.nanoTime()

  /** A progress line on standard error, with seconds since JVM start-up. */
  def phase(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")
}

object Clock {
  def now: Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  /** (result, seconds) of `f`. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = now
    val r = f
    (r, secs(t0))
  }
}

/** JVM-level probes: heap occupancy after a full collection (the live
  * set, wherever the collector left it) and accumulated GC time. */
final class JvmProbe {
  private val memory = ManagementFactory.getMemoryMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val samplesMb = mutable.ArrayBuffer[Double]()

  /** Runs a full collection and records the heap still in use after it.
    * Called between operations, outside timing. */
  def sample(): Unit = {
    System.gc()
    samplesMb += memory.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** An unrecorded full collection: garbage whose release waits on a
    * collection (Spark's cleaner frees blocks after their references are
    * collected) is gone by the next sample. */
  def settle(): Unit = System.gc()

  /** Heap in use after each sampled collection, in MB. */
  def samples: Seq[Double] = samplesMb.toSeq

  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

}

/** Spans kept in memory and returned at the end of the run. Disabled
  * (a plain call) in untraced runs. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val origin = System.nanoTime()

  /** Runs `f` inside a span named `name`; its parent is the innermost
    * open span of this thread, or `parent` when given. */
  def span[T](name: String, parent: Int = -1)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else stack.get.headOption.getOrElse(0)
      val start = System.nanoTime()
      stack.set(id :: stack.get)
      try f
      finally {
        stack.set(stack.get.tail)
        spans.add(Map("id" -> id, "name" -> name, "parent" -> p,
          "start_s" -> (start - origin) / 1e9, "end_s" -> (System.nanoTime() - origin) / 1e9))
      }
    }

  def result: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_("id").asInstanceOf[Int])
}

/** One finished task, as seen by [[TaskListener]]. */
final case class TaskRecord(tag: String, stageId: Int, failed: Boolean,
    runS: Double, cpuS: Double, schedDelayS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, shuffleReadRecords: Long,
    spillB: Long, fetchWaitS: Double)

/** Collects per-task metrics through Spark's public listener API. Jobs
  * are attributed to the `perfbench.tag` local property of the thread
  * that submitted them. */
final class TaskListener(sc: SparkContext) extends SparkListener {
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRecord]()
  private val drains = new java.util.concurrent.ConcurrentHashMap[String, CountDownLatch]()
  private val drainJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.TagKey)))
      .getOrElse("untagged")
    e.stageIds.foreach(id => stageTag.put(id, tag))
    if (drains.containsKey(tag)) drainJobs.put(e.jobId, tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(drainJobs.remove(e.jobId)).flatMap(t => Option(drains.remove(t))).foreach(_.countDown())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val tag = stageTag.getOrDefault(e.stageId, "untagged")
    if (m == null) {
      tasks.add(TaskRecord(tag, e.stageId, failed = true, 0, 0, 0, 0, 0, 0, 0, 0))
    } else {
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      tasks.add(TaskRecord(tag, e.stageId, failed = !info.successful,
        runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9,
        schedDelayS = sched / 1e3,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
        spillB = m.diskBytesSpilled,
        fetchWaitS = m.shuffleReadMetrics.fetchWaitTime / 1e3))
    }
  }

  /** Runs `f` with its jobs tagged `tag`. */
  def tagged[T](tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TaskListener.TagKey)
    sc.setLocalProperty(TaskListener.TagKey, tag)
    try f finally sc.setLocalProperty(TaskListener.TagKey, prev)
  }

  /** Blocks until every event posted before this call has reached the
    * listener: a one-task marker job's end event is queued behind them. */
  def drain(): Unit = {
    val tag = s"drain-${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    drains.put(tag, latch)
    tagged(tag)(sc.parallelize(Seq(1), 1).count())
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def records(tagPrefix: String): Seq[TaskRecord] =
    tasks.asScala.toSeq.filter(_.tag.startsWith(tagPrefix))
}

object TaskListener {
  val TagKey = "perfbench.tag"

  /** Totals over a set of tasks, in the units the benchmark reports. */
  def stageTotals(ts: Seq[TaskRecord]): Map[String, Double] = Map(
    "busy_s" -> ts.map(_.runS).sum,
    "cpu_s" -> ts.map(_.cpuS).sum,
    "sched_delay_s" -> ts.map(_.schedDelayS).sum,
    "failed" -> ts.count(_.failed).toDouble)
}

/** Minimal JSON writer for the harness's result line. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Operation accounting: an operation is a pipeline pass, a query, a
  * followed file, or a correctness check. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer()

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    attempted += 1
    if (!ok) wrong += 1
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    ok
  }

  def toMap: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "wrong" -> wrong, "checks" -> checks.toSeq)
}
