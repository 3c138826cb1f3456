package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries.Tables

/** A fixed, named mix of catalog queries over generated tables, in two
  * parts: queries in the default regime, and the scale-gated family in
  * the forced regime, with the gates' bounds set to 0 so that the
  * distributed loops run. Each timed call builds a fresh plan (the query
  * function, with whatever eager jobs it runs) and materializes it with
  * `queryExecution.toRdd`, as the catalog's `Bench` does.
  *
  * Inputs: `in/catalog/tables/<table>.parquet`, the same tables at a
  * tiny scale in `in/catalog/warm` for the warm-up pass, and
  * `in/catalog/mix.txt`, one query a line in run order, a forced query
  * followed by the session confs that force it (`k=v;k=v`, as
  * `GRAFT_CONF` takes them). A forced query's operation is named
  * `<query>@forced`. The first timed pass keeps the rows it
  * materialized and writes them, untimed, to `out/<operation>`;
  * `oracle_sql.json` holds each query's oracle SQL, for the oracle check. */
final class Catalog(ctx: Ctx) extends Workload {
  private val dir = ctx.path("in/catalog/tables")
  private val warmDir = ctx.path("in/catalog/warm")

  private final case class Entry(name: String, confs: Seq[(String, String)],
      fn: (SparkSession, String) => DataFrame) {
    def kind: String = if (confs.isEmpty) name else s"$name@forced"
    /** Runs `body` with the entry's confs set on the session. */
    def within[T](spark: SparkSession)(body: => T): T = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private val mix = Files.readAllLines(Paths.get(ctx.path("in/catalog/mix.txt")),
    StandardCharsets.UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq.map { line =>
      val name = line.takeWhile(_ != ' ')
      val confs = line.drop(name.length).trim.split(";").toSeq.filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }
      Entry(name, confs, SparkEntry.queries.getOrElse(name, sys.error(s"no catalog query $name")))
    }
  Main.write(Paths.get(ctx.path("oracle_sql.json")), Json.write(ListMap(mix.map(_.name).distinct.sorted
    .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*)))

  /** Resolves every table the catalog reads, as a session serving the
    * catalog's SQL surface does. */
  def setup(ctx: Ctx, rep: Int): Unit = Tables.registerAll(ctx.spark, dir)

  /** Blocks pinned by one query are never reused by the next. */
  private def dropBlocks(spark: SparkSession): Unit = {
    graft.operators.GlobalRank.releaseCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One pass over the tiny tables: compiles the mix's code paths. */
  def warmup(ctx: Ctx): Unit = mix.foreach { e =>
    try e.within(ctx.spark)(e.fn(ctx.spark, warmDir).queryExecution.toRdd.count())
    catch { case x: Throwable => System.err.println(s"[perfbench] ${e.kind} failed: ${x.toString.take(400)}") }
    dropBlocks(ctx.spark)
  }

  def round(ctx: Ctx, r: Int): Unit = {
    mix.foreach { e =>
      val result = ctx.op(e.kind) { o =>
        e.within(ctx.spark) {
          val df = ctx.span("queries.build")(e.fn(ctx.spark, dir))
          val rows = ctx.span("exec.execute")(df.queryExecution.toRdd.map(_.copy()).collect())
          val phases = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            o.extra(s"${p}_s") = phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
          }
          (df.schema, rows)
        }
      }
      if (r == 0) result.foreach { case (schema, rows) => save(ctx.spark, schema, rows, e.kind) }
      dropBlocks(ctx.spark)
    }
    System.gc()
  }

  /** Writes materialized rows as the query's result, for the check. */
  private def save(spark: SparkSession, schema: StructType, rows: Array[InternalRow], kind: String): Unit = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(rows.map(toRow(_).asInstanceOf[Row]).toSeq.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(ctx.path(s"out/$kind"))
  }
}
