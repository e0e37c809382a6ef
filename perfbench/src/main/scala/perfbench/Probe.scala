package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval: a call into a layer's public function. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` only runs the body; enabled,
  * it records name, start, end, parent and the operation the span belongs
  * to. Spans are written out once, when the run ends.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var opId = -1

  def beginOp(): Unit = opId += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans += Span(id, parent, opId, name, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per span name: (count, total ms, self ms). Self time is the span's
    * duration minus the part of it its child spans cover.
    */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(_.ms).sum
        s.ms - covered
      }.sum
      name -> ((ss.size, total, self))
    }
  }
}

/** Spark task metrics summed per operation label. The harness runs one
  * operation at a time (a closed loop with one client) and declares it with
  * `begin`, which also sets it as the Spark job group; every job that starts
  * while it is active is charged to it, including jobs the engine launches
  * from its own thread pool.
  */
final class SparkMetrics(sc: SparkContext) extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuMs, gcMs, inputBytes, inputRecords = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  }
  @volatile private var active: String = "idle"
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()

  def begin(label: String): Unit = {
    active = label
    sc.setJobGroup(label, label, interruptOnCancel = false)
  }

  def end(): Unit = { active = "idle"; sc.clearJobGroup() }

  private def acc(label: String): Acc = accs.computeIfAbsent(label, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = active
    val a = acc(label)
    a.synchronized { a.jobs += 1; a.stages += e.stageIds.size }
    e.stageIds.foreach(stageOwner.put(_, label))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageOwner.get(e.stageId)).getOrElse(active))
    a.synchronized {
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1000000L
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Blocks until all events of finished jobs have been delivered. */
  def settle(): Unit = org.apache.spark.BusDrain(sc)

  def snapshot(label: String): Acc = {
    settle()
    val a = acc(label)
    val c = new Acc
    a.synchronized {
      c.jobs = a.jobs; c.stages = a.stages; c.tasks = a.tasks; c.failedTasks = a.failedTasks
      c.runMs = a.runMs; c.cpuMs = a.cpuMs; c.gcMs = a.gcMs; c.inputBytes = a.inputBytes
      c.inputRecords = a.inputRecords; c.shuffleReadBytes = a.shuffleReadBytes
      c.shuffleWriteBytes = a.shuffleWriteBytes; c.spillBytes = a.spillBytes
    }
    c
  }

  /** The `spark.<label>.*` per-layer metrics, summed over the traced loop. */
  def metricsFor(label: String): Seq[(String, Double)] = {
    val a = snapshot(label)
    Seq("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuMs, "gc_ms" -> a.gcMs, "input_bytes" -> a.inputBytes,
      "shuffle_read_bytes" -> a.shuffleReadBytes, "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "spill_bytes" -> a.spillBytes, "failed_tasks" -> a.failedTasks)
      .map { case (k, v) => s"spark.$label.$k" -> v.toDouble }
  }
}

/** JVM heap. */
object Heap {
  /** Heap in use right after a full collection: the live heap. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def maxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** Box-noise sentinels: fixed work whose wall time depends only on how busy
  * the machine is. Recorded before and after each run, never used as
  * end-to-end metrics: they tell a noisy run apart from a regression.
  */
object Sentinels {
  /** Single-thread xorshift spin (CPU contention); min of three. */
  def spinS(): Double = Seq.fill(3) {
    val t0 = System.nanoTime()
    var s = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; i += 1 }
    if (s == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Strided read-modify-write over a 64 MiB array, larger than any cache
    * (memory-bandwidth contention); min of three.
    */
  def memS(): Double = {
    val a = new Array[Long](8 << 20)
    Seq.fill(3) {
      val t0 = System.nanoTime()
      var pass = 0
      var acc = 0L
      while (pass < 4) {
        var i = pass
        while (i < a.length) { a(i) += i; acc += a(i); i += 8 }
        pass += 1
      }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }.min
  }
}

/** Minimal JSON writer for the harness's result file. */
object J {
  def str(s: String): String = graft.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
