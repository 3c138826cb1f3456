package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, year}

import graft.ingest.{RideCsv, StationCsv}
import graft.metrics.{DailyMetrics, MetricsJson, RangeMetrics}
import graft.store.{CsvSink, RidesTable}
import graft.transform.RideTransform

/** The reference's daily cron through the CLI's code paths: each round
  * loads one new day's ride CSV, loads one stored day again, runs
  * `metrics-year` and `metrics-day`, then serves two browser-style range
  * requests over the per-day frame.
  *
  * Inputs (`in/rides/plan.txt`, written by the generator):
  * {{{
  * year 2025
  * round <new csv> <new date> <reload csv> <reload date> <range1 start> <end> <range2 start> <end>
  * }}} */
final class RidesBatch(ctx: Ctx) extends Workload {
  private val in = ctx.path("in/rides")
  private val plan = Files.readAllLines(Paths.get(in, "plan.txt"), StandardCharsets.UTF_8)
    .asScala.map(_.trim.split(" ").toSeq).filter(_.nonEmpty).toSeq
  private val yr = plan.collectFirst { case Seq("year", y) => y.toInt }.get
  private val rounds = plan.collect { case "round" +: rest => rest }
  private val stations = s"$in/stations.csv"
  private var store = ""
  private val interim = ctx.path("state/interim")
  private val yearJson = ctx.path(s"state/metrics_$yr.json")

  def setup(ctx: Ctx, rep: Int): Unit = {
    store = ctx.path(s"state/store$rep")
    RidesTable.append(ctx.spark, RideTransform(RideCsv.read(ctx.spark, s"$in/history"),
      StationCsv.read(ctx.spark, stations)), store)
  }

  /** The set-up already ran the load path three times. */
  def warmup(ctx: Ctx): Unit = {
    val Seq(_, _, _, day, _, _, _, _) = rounds.head
    MetricsJson.mergeDay(ctx.path("state/warmup.json"),
      DailyMetrics.forDay(RidesTable.read(ctx.spark, store), day))
  }

  override def canRun(r: Int): Boolean = r < rounds.size

  /** One daily load as `load-folder` runs it: scan, clean, interim CSV,
    * idempotent append. Returns the rows written. */
  private def load(ctx: Ctx, csv: String): Long = {
    val name = Paths.get(csv).getFileName.toString.stripSuffix(".csv")
    val cleaned = RideTransform(RideCsv.read(ctx.spark, csv), StationCsv.read(ctx.spark, stations))
    ctx.span("store.interim_write")(CsvSink.writeInterim(cleaned, s"$interim/${name}_clean"))
    ctx.span("store.append")(RidesTable.append(ctx.spark, cleaned, store))
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val Seq(newCsv, newDate, reload, _, s1, e1, s2, e2) = rounds(r)
    val filesBefore = Main.files(store, ".parquet").size
    ctx.op("load") { o =>
      o.extra("file") = newCsv
      o.extra("written") = load(ctx, s"$in/$newCsv")
    }
    val filesAfter = Main.files(store, ".parquet").size
    ctx.ops.last.extra("files_written") = filesAfter - filesBefore
    ctx.op("reload") { o =>
      o.extra("file") = reload
      o.extra("written") = load(ctx, s"$in/$reload")
    }
    val all = ctx.op("metrics-year") { o =>
      val all = DailyMetrics.allDaysTyped(RidesTable.read(ctx.spark, store)
        .filter(year(col("start_time")) === yr)).collect().toSeq
      ctx.span("metrics.json_merge")(MetricsJson.mergeYear(yearJson, yr, all))
      o.extra("days") = all.size
      all
    }.getOrElse(Nil)
    ctx.op("metrics-day") { o =>
      val m = DailyMetrics.forDay(RidesTable.read(ctx.spark, store), newDate)
      ctx.span("metrics.json_merge")(MetricsJson.mergeDay(yearJson, m))
      o.extra("day") = newDate
    }
    val spark = ctx.spark
    import spark.implicits._
    val daily = all.toDF()
    Seq(s1 -> e1, s2 -> e2).foreach { case (s, e) =>
      ctx.op("range") { o =>
        val series = RangeMetrics.series(daily, s, e, "total_rides").collect()
          .map(x => Seq(x.getString(0), x.getLong(1)))
        val hist = RangeMetrics.histogramAvg(daily, s, e).collect()
          .map(x => Seq(x.getInt(0), x.getLong(1)))
        val busiest = RangeMetrics.busiestStations(daily, s, e).collect()
          .map(x => Seq(x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
        val routes = RangeMetrics.topRoutes(daily, s, e).collect()
          .map(x => Seq(x.getString(0), x.getLong(1)))
        o.extra("range") = Seq(s, e)
        o.extra("result") = Map("series" -> series, "hist" -> hist,
          "busiest" -> busiest, "routes" -> routes)
      }
    }
  }
}
