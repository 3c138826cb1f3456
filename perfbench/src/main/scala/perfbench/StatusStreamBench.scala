package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StatusStream

/** The status track: each round lands a backlog of Nextbike snapshots in
  * a fresh landing directory and drains it in one available-now
  * micro-batch through `StatusStream.start`, then lands the later
  * snapshots one at a time, each followed by one `StatusStream.runOnce`
  * over the whole landing directory.
  *
  * Inputs (written by the generator): the JSON files of `in/status/backlog` and
  * `in/status/later`, named so that name order is time order. */
final class StatusStreamBench(ctx: Ctx) extends Workload {
  private val in = Paths.get(ctx.path("in/status"))
  private def listed(dir: String): Seq[Path] = Main.files(in.resolve(dir).toString, ".json").sortBy(_.toString)
  private val backlog = listed("backlog")
  private val later = listed("later")

  private def land(files: Seq[Path], landing: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    files.foreach(f => Files.copy(f, Paths.get(landing, f.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
  }

  /** A fresh landing directory holding the backlog. */
  def setup(ctx: Ctx, rep: Int): Unit = land(backlog, ctx.path(s"state/setup$rep/landing"))

  def warmup(ctx: Ctx): Unit = {
    val base = ctx.path("state/warmup")
    land(backlog.take(3), s"$base/landing")
    StatusStream.start(ctx.spark, s"$base/landing", s"$base/events", s"$base/state",
      s"$base/checkpoint", Trigger.AvailableNow()).awaitTermination()
    StatusStream.runOnce(ctx.spark, s"$base/landing", s"$base/once_events")
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val base = ctx.path(s"state/round$r")
    val landing = s"$base/landing"
    land(backlog, landing)
    ctx.op("drain") { o =>
      val q = StatusStream.start(ctx.spark, landing, s"$base/events", s"$base/state",
        s"$base/checkpoint", Trigger.AvailableNow())
      q.awaitTermination()
      o.extra("batch_s") = q.recentProgress.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0).toSeq
      o.extra("snapshots") = backlog.size
      o.extra("landed_bytes") = backlog.map(Files.size).sum
    }
    ctx.ops.last.extra("event_files") = Main.files(s"$base/events", ".parquet").size
    later.foreach { f =>
      land(Seq(f), landing)
      val dirBytes = Main.bytes(landing, ".json")
      ctx.op("status-once") { o =>
        o.extra("file") = f.getFileName.toString
        o.extra("dir_bytes") = dirBytes
        o.extra("written") = StatusStream.runOnce(ctx.spark, landing, s"$base/once_events")
      }
    }
  }
}
