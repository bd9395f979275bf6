package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task totals attributed to one key (a span, or the whole process). */
final class Totals {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var jobs = 0L
  def add(o: Totals): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; jobs += o.jobs
  }
}

/** Adds up task CPU, GC, shuffle write and spill. Always sums the
  * process-wide shuffle bytes (side jobs included); while tracing it
  * also attributes every job to the span whose key was set on the
  * submitting thread. The key is a local property of its own because
  * the program's `Fan.overlap` overwrites the job description with its
  * job group; child threads still inherit the key.
  */
final class BenchListener extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val byKey = new ConcurrentHashMap[String, Totals]()
  val global = new Totals
  /** Time spent attributing jobs and tasks to spans. */
  val attributionNs = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.KeyProp)))
    key.foreach { k =>
      val t0 = System.nanoTime()
      e.stageInfos.foreach(s => stageKey.put(s.stageId, k))
      val t = byKey.computeIfAbsent(k, _ => new Totals)
      t.synchronized(t.jobs += 1)
      attributionNs.addAndGet(System.nanoTime() - t0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      def addTo(t: Totals): Unit = t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
      }
      addTo(global)
      Option(stageKey.get(e.stageId)).foreach { k =>
        val t0 = System.nanoTime()
        addTo(byKey.computeIfAbsent(k, _ => new Totals))
        attributionNs.addAndGet(System.nanoTime() - t0)
      }
    }
  }

  def totals(key: String): Totals = Option(byKey.get(key)).getOrElse(new Totals)
  def globalShuffleBytes: Long = global.synchronized(global.shuffleBytes)
}

/** One recorded span: a call across a layer boundary. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long)

/** A call that threw, with the span it was made in. */
final case class Failure(span: String, error: String)

/** Spans, call accounting and failure capture for one process. Spans
  * are recorded only while `traced`; calls and failures are counted
  * always, so `fail_frac` is a measured figure in every run.
  */
final class Trace(spark: SparkSession, val listener: BenchListener) {
  private val sc = spark.sparkContext
  var traced = false
  var runId = ""
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[Failure]
  var attempted = 0L
  /** Driver-thread time spent opening and closing spans. */
  var spanNs = 0L

  /** Time `f` as a span named `name` (a layer, e.g. `formats.validate`). */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val a0 = System.nanoTime()
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      val prevKey = sc.getLocalProperty(Trace.KeyProp)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val key = s"$runId/$id"
      sc.setLocalProperty(Trace.KeyProp, key)
      sc.setJobDescription(s"perfbench $name [$key]")
      stack.push(id)
      val t0 = System.nanoTime()
      spanNs += t0 - a0
      try f
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, runId, t0, t1)
        stack.pop()
        sc.setLocalProperty(Trace.KeyProp, prevKey)
        sc.setJobDescription(prevDesc)
        spanNs += System.nanoTime() - t1
      }
    }

  /** One call into the program: counted, traced as `name`, and on a
    * non-fatal exception recorded with its span name and returned as
    * None so the caller can skip what depends on it.
    */
  def call[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(span(name)(f))
    catch {
      case NonFatal(e) =>
        failures += Failure(name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        System.err.println(s"[perfbench] call failed in $name: $e")
        None
    }
  }

  def recorded: Seq[Span] = spans.toSeq
  def clearSpans(): Unit = spans.clear()
}

object Trace {
  val KeyProp = "perfbench.span"

  final case class LayerStats(wallS: Double, cpuS: Double, gcS: Double, shuffleMb: Double,
                              spillMb: Double, jobs: Long)

  /** Self time of each span: its duration minus the union of its direct
    * children's intervals (children run sequentially on one thread).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => k.endNs - k.startNs).sum
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Per-layer totals over the spans of one traced cycle. */
  def layers(spans: Seq[Span], listener: BenchListener): Map[String, LayerStats] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (name, ss) =>
      val t = new Totals
      ss.foreach(s => t.add(listener.totals(s"${s.runId}/${s.id}")))
      name -> LayerStats(ss.map(s => self(s.id)).sum / 1e9, t.cpuNs / 1e9, t.gcMs / 1e3,
        t.shuffleBytes / 1e6, t.spillBytes / 1e6, t.jobs)
    }
  }
}
