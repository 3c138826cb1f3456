package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call of the workload: a file load, a metrics call, a range
  * request, a drain, a `runOnce` call or a query. */
final class Op(val round: Int, val kind: String) {
  var seconds = 0.0
  var ok = true
  val extra = mutable.LinkedHashMap.empty[String, Any]
}

/** What a workload shares with the harness: the session, the tracer, the
  * work directory and the record of operations. */
final class Ctx(val work: Path, val cpus: Int, traceMode: Boolean) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  var round: Int = -1
  val ops = mutable.ArrayBuffer.empty[Op]

  /** (Re)starts the session exactly as the program's entry points build it. */
  def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = graft.GraftSession.build(s"local[$cpus]", cpus, "perfbench")
    tracer = new Tracer(spark.sparkContext, traceMode)
  }

  def path(rel: String): String = work.resolve(rel).toString

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Times one operation. A failure is recorded, not thrown: the round
    * goes on, so every run attempts the same operations. Operations
    * outside the timed rounds (set-up, warm-up) are not recorded. */
  def op[T](kind: String)(body: Op => T): Option[T] = {
    val o = new Op(round, kind)
    val t0 = System.nanoTime()
    val r =
      try Some(span(kind)(body(o)))
      catch {
        case e: Throwable =>
          o.ok = false
          System.err.println(s"[perfbench] $kind failed: ${e.toString.take(400)}")
          None
      }
    o.seconds = (System.nanoTime() - t0) / 1e9
    if (round >= 0) ops += o
    r
  }
}

trait Workload {
  /** Prepares the state the timed rounds start from, on a fresh session. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed calls that load the code paths the rounds use. */
  def warmup(ctx: Ctx): Unit
  def round(ctx: Ctx, r: Int): Unit
  /** Whether the inputs hold one more round. */
  def canRun(r: Int): Boolean = true
}

/** Two workloads run as one: set up, warmed up and run round by round,
  * the first then the second. */
final class Both(a: Workload, b: Workload) extends Workload {
  def setup(ctx: Ctx, rep: Int): Unit = { a.setup(ctx, rep); b.setup(ctx, rep) }
  def warmup(ctx: Ctx): Unit = { a.warmup(ctx); b.warmup(ctx) }
  def round(ctx: Ctx, r: Int): Unit = { a.round(ctx, r); b.round(ctx, r) }
  override def canRun(r: Int): Boolean = a.canRun(r) && b.canRun(r)
}

/** The benchmark's JVM side. It runs one workload, writes
  * `result.json` (and `spans.json` when traced) into the work directory
  * and leaves every check to the caller.
  *
  * Usage: perfbench.Main --workload W --work DIR --seconds S --trace 0|1
  *   --cpus N */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(o("work")).toAbsolutePath
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val ctx = new Ctx(work, o("cpus").toInt, trace)
    val w: Workload = o("workload") match {
      case "pipeline" => new Both(new RidesBatch(ctx), new StatusStreamBench(ctx))
      case "catalog" => new Catalog(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    var code = 0
    try {
      val setupS = (0 until SetupReps).map { rep =>
        val t0 = System.nanoTime()
        ctx.startSession()
        w.setup(ctx, rep)
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      ctx.tracer.active = false   // the warm-up's calls are not traced
      w.warmup(ctx)
      System.gc()
      val warmupS = (System.nanoTime() - w0) / 1e9

      val gc0 = Jvm.gcMs
      Jvm.resetHeapPeak()
      val t0 = System.nanoTime()
      // a traced run alternates untraced and traced rounds, starting and
      // ending untraced, so that its overhead is measured between the two
      val minRounds = if (trace) 3 else 1
      var r = 0
      while ((r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) && w.canRun(r)) {
        ctx.round = r
        ctx.tracer.round = r
        ctx.tracer.active = trace && r % 2 == 1
        w.round(ctx, r)
        r += 1
      }
      val timedS = (System.nanoTime() - t0) / 1e9
      val heapPeakMb = Jvm.heapPeakBytes / 1048576.0
      val gcS = (Jvm.gcMs - gc0) / 1000.0
      ctx.round = -1
      ctx.tracer.active = false
      val spans = ctx.tracer.finish()
      if (trace) write(work.resolve("spans.json"), ctx.tracer.toJson(spans))

      val ops = ctx.ops.map { op =>
        ListMap("round" -> op.round, "kind" -> op.kind, "s" -> op.seconds, "ok" -> op.ok) ++ op.extra
      }
      write(work.resolve("result.json"), Json.write(ListMap(
        "setup_s" -> setupS, "warmup_s" -> warmupS, "rounds" -> r, "timed_s" -> timedS,
        "heap_peak_mb" -> heapPeakMb, "gc_s" -> gcS, "ops" -> ops)) + "\n")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      if (ctx.spark != null) ctx.spark.stop()
    }
    System.exit(code)
  }

  def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  /** Files under a directory (recursively) whose name ends with `suffix`. */
  def files(dir: String, suffix: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[Path]
        while (it.hasNext) {
          val f = it.next()
          if (Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)) b += f
        }
        b.result()
      } finally s.close()
    }
  }

  def bytes(dir: String, suffix: String): Long = files(dir, suffix).map(Files.size).sum
}
