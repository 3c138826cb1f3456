package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JVM-wide figures read through the platform MXBeans. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in bytes. */
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}

/** Which file source a stage scans, from the scope of its scan RDD
  * (`Scan csv `, `Scan parquet `, `Scan json `). CSV scanned by a
  * broadcast exchange's job (a dimension table such as the station CSV)
  * is kept apart from CSV scanned by the query's own jobs. */
object Source {
  val Csv = 0; val Parquet = 1; val Json = 2; val Other = 3; val CsvBroadcast = 4
  val Count = 5
  def of(si: StageInfo, broadcast: Boolean): Int = {
    val scopes = si.rddInfos.flatMap(_.scope.map(_.name.toLowerCase))
    if (scopes.exists(_.startsWith("scan csv"))) if (broadcast) CsvBroadcast else Csv
    else if (scopes.exists(_.startsWith("scan parquet"))) Parquet
    else if (scopes.exists(_.startsWith("scan json"))) Json
    else Other
  }
}

/** One traced call into a layer of the program. The counters are filled
  * by the listener thread, the times by the calling thread. */
final class Span(val id: Int, val name: String, val parent: Int, val round: Int,
    val startNs: Long) {
  @volatile var endNs: Long = 0L
  var gcMs: Long = 0L
  var heapPeakBytes: Long = 0L
  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val records: Array[AtomicLong] = Array.fill(Source.Count)(new AtomicLong)
  val bytes: Array[AtomicLong] = Array.fill(Source.Count)(new AtomicLong)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around layer calls, kept in memory. Jobs are attributed to the
  * innermost open span through a local property that Spark copies into
  * every job it starts from this thread (and from threads started inside
  * the span, such as a streaming query's). Disabled, `span` only runs
  * its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Prop

  private val byId = new ConcurrentHashMap[Int, Span]
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val t0 = System.nanoTime()

  /** Spans open only while active; the harness alternates traced and
    * untraced rounds to measure what tracing costs. */
  @volatile var active: Boolean = enabled
  var round: Int = -1

  private val listener = new SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, (Span, Int)]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.jobs.incrementAndGet()
          // a broadcast exchange tags its job and names it after itself
          val broadcast = Seq("spark.job.tags", "spark.job.description")
            .exists(k => Option(e.properties.getProperty(k)).exists(_.contains("broadcast exchange")))
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, (s, Source.of(si, broadcast))))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val hit = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (hit != null && m != null) {
        val (s, src) = hit
        s.taskMs.addAndGet(m.executorRunTime)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.records(src).addAndGet(m.inputMetrics.recordsRead)
        s.bytes(src).addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = new Span(all.size, name, parent.map(_.id).getOrElse(-1), round, System.nanoTime())
      all += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      val gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = Jvm.gcMs - gc0
        s.heapPeakBytes = math.max(s.heapPeakBytes, Jvm.heapPeakBytes)
        stack = stack.tail
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
        parent.foreach(p => p.heapPeakBytes = math.max(p.heapPeakBytes, s.heapPeakBytes))
      }
    }

  /** All spans, with every counter rolled up from children into their
    * parents, once the listener has seen every event. */
  def finish(): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    all.reverseIterator.filter(_.parent >= 0).foreach { c =>
      val p = all(c.parent)
      p.jobs.addAndGet(c.jobs.get); p.taskMs.addAndGet(c.taskMs.get)
      p.shuffleWriteBytes.addAndGet(c.shuffleWriteBytes.get)
      (0 until Source.Count).foreach { i =>
        p.records(i).addAndGet(c.records(i).get); p.bytes(i).addAndGet(c.bytes(i).get)
      }
    }
    all.toSeq
  }

  /** The spans as JSON records: name, start, end, parent and counters. */
  def toJson(spans: Seq[Span]): String = Json.write(spans.map { s =>
    ListMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "round" -> s.round,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "jobs" -> s.jobs.get, "task_ms" -> s.taskMs.get, "gc_ms" -> s.gcMs,
      "heap_peak_mb" -> s.heapPeakBytes / 1048576.0,
      "shuffle_write_bytes" -> s.shuffleWriteBytes.get,
      "input_records" -> s.records.map(_.get).sum, "input_bytes" -> s.bytes.map(_.get).sum,
      "csv_records" -> s.records(Source.Csv).get,
      "csv_broadcast_records" -> s.records(Source.CsvBroadcast).get,
      "parquet_records" -> s.records(Source.Parquet).get,
      "json_bytes" -> s.bytes(Source.Json).get)
  })
}

object Tracer { val Prop = "perfbench.span" }

/** Writes the result files' JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
