package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.analytics.Scoreboard
import graft.core.enrich.Enrich
import graft.core.parse.GameLogParser
import graft.io.Sinks
import graft.streaming.Pipeline

/** The reference pipeline: kill and damage CSV files replayed one pair per
  * micro-batch (closed loop, `Trigger.AvailableNow`) through
  * `Pipeline.playerStats` → `Enrich.backfillName` → `Sinks.historizedSink`
  * + `Sinks.parquetAppend`, then the three dashboard queries over the
  * history. One round = one full replay into a fresh checkpoint and history
  * table, then each dashboard once, written to parquet. An untimed
  * warm-up round over other files comes first. The traced run ends with
  * the catalog layer's pass (`CatalogMix`). */
object StreamScoreboard {
  final case class Inputs(dim: DataFrame, series: Seq[String])
  final case class Round(r: Int, seconds: Double, streamMs: Double)

  def inputs(spark: SparkSession, in: String): Inputs = {
    // the dimension is loaded once at start, as the reference does, and
    // kept as a local relation the sink broadcasts every batch
    val rows = GameLogParser.parsePlayers(spark.read.text(s"$in/players.csv"))
      .select(col("name"), col("steamId")).collect()
    val dim = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("name", StringType), StructField("steamId", StringType))))
    val series = scala.io.Source.fromFile(s"$in/series.txt").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    Inputs(dim, series)
  }

  /** Replay `src` (kills/, damages/) into `hist`; returns the stream's wall
    * time in ms. */
  def replay(c: Ctx, inp: Inputs, src: String, dst: String, name: String): Double = {
    val spark = c.spark
    def lines(sub: String) =
      spark.readStream.option("maxFilesPerTrigger", 1).text(s"$src/$sub")
    val stats = Pipeline.playerStats(lines("kills"), lines("damages"))
    val hist = s"$dst/history"
    val t0 = System.nanoTime()
    c.trace.span("streaming") {
      val q = Sinks.historizedSink(stats, Trigger.AvailableNow(),
          Some(s"$dst/checkpoint")) { (df, batchId) =>
        c.trace.span("io.sink", batchId) {
          Sinks.parquetAppend(
            Enrich.backfillName(df, inp.dim).withColumn("batchId", lit(batchId)),
            hist)
        }
      }.queryName(name).start()
      q.awaitTermination()
    }
    (System.nanoTime() - t0) / 1e6
  }

  def dashboards(spark: SparkSession, hist: String, inp: Inputs): Seq[(String, DataFrame)] = {
    val h = spark.read.parquet(hist)
    val latest = Scoreboard.latestPerGroup(h, Seq("steamId"), Seq(col("batchId").desc))
    val top = h.where(col("steamId").isin(inp.series: _*))
    val series = top
      .select(col("steamId"), col("batchId"), col("second"), col("kills"),
        col("deaths"), col("assists"), col("damage"), col("kdRatio"))
      .orderBy(col("steamId"), col("batchId"))
    val labels = inp.series.indices.map(i => f"p$i%02d")
    val players = spark.createDataFrame(
      java.util.Arrays.asList(inp.series.zip(labels).map { case (s, l) => Row(s, l) }: _*),
      StructType(Seq(StructField("steamId", StringType), StructField("label", StringType))))
    val grid = Scoreboard.denseGrid(top, "second", players)
    val joined = grid.join(
      top.select(col("second"), col("steamId"), col("damagePerRound").as("dpr")),
      Seq("second", "steamId"), "left")
    val filled = Scoreboard.locf(joined, Seq("steamId"), "second", "dpr", lit(0.0))
    val matrix = Scoreboard.pivotMatrix(filled, "second", "label", labels,
      max(col("dpr")), floor = Some(lit(0.0))).orderBy(col("second"))
    Seq("latest" -> latest, "series" -> series, "matrix" -> matrix)
  }

  /** Replay `src` into `dst`, then each dashboard over the history,
    * materialised as the parquet the checker reads; returns the replay's
    * wall time in ms. */
  private def round(c: Ctx, inp: Inputs, src: String, dst: String, name: String,
      r: Int): Double = {
    val streamMs = replay(c, inp, src, dst, name)
    for ((n, df) <- dashboards(c.spark, s"$dst/history", inp))
      c.trace.span(s"analytics.$n", r) {
        df.write.mode("overwrite").parquet(s"$dst/dashboards/$n")
      }
    streamMs
  }

  def run(c: Ctx): Unit = {
    val inp = inputs(c.spark, c.in)
    // untimed warm-up: a short replay of other files and the dashboards
    round(c, inp, s"${c.in}/warm", s"${c.work}/warm", "warm", -1)
    c.res.metric("setup_s", c.sinceLaunchS, "s")

    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val cpu0 = Main.cpuS()
    val done = scala.collection.mutable.ArrayBuffer.empty[Round]
    while (done.isEmpty || System.nanoTime() < deadline) {
      val r = done.size
      val streamMs = c.trace.span("round", r) {
        round(c, inp, s"${c.in}/main", s"${c.work}/round$r", s"round$r", r)
      }
      done += Round(r, c.trace.named("round").last.ms / 1000.0, streamMs)
    }
    report(c, done.toList, Main.cpuS() - cpu0)
    if (c.trace.enabled) CatalogMix.run(c, s"${c.in}/catalog")
  }

  private def report(c: Ctx, rounds: Seq[Round], cpu: Double): Unit = {
    val spark = c.spark
    val res = c.res
    val n = rounds.size
    val progress = rounds.flatMap(r => c.trace.batches(s"round${r.r}"))
    res.metric("round_s", Results.median(rounds.map(_.seconds)), "s")
    res.metric("cpu_s", cpu / n, "s")

    // ---- layer figures
    val streams = c.trace.named("streaming").drop(1) // the first is the warm-up
    Streams.figures(c, progress, streams, n)
    val sinks = c.trace.named("io.sink").filter(s => streams.exists(t =>
      s.start >= t.start && s.end <= t.end))
    res.metric("io.sink_ms_p50", Results.median(sinks.map(_.ms)), "ms")
    val state = progress.map(_.stateOperators.head)
    res.metric("core.stats.update_ms_p50",
      Results.median(state.map(_.allUpdatesTimeMs.toDouble)), "ms")
    res.metric("core.stats.commit_ms_p50",
      Results.median(state.map(_.commitTimeMs.toDouble)), "ms")
    res.metric("core.stats.state_rows", state.last.numRowsTotal.toDouble, "count")
    res.metric("core.stats.state_bytes", state.last.memoryUsedBytes.toDouble, "bytes")
    // the measured rounds' dashboards (the warm-up's carry op -1)
    def dashboard(n: String) = c.trace.named(s"analytics.$n").filter(_.op >= 0).map(_.ms)
    val names = Seq("latest", "series", "matrix")
    res.metric("analytics.dashboard_ms_p50", Results.median(names.flatMap(dashboard)), "ms")
    names.foreach(n => res.metric(s"analytics.${n}_ms", Results.median(dashboard(n)), "ms"))
    val hist = new java.io.File(s"${c.work}/round0/history")
    val files = hist.listFiles().filter(f => f.getName.endsWith(".parquet"))
    res.metric("io.history_files", files.length.toDouble, "count")
    res.metric("io.history_bytes", files.map(_.length.toDouble).sum, "bytes")
    if (c.trace.enabled) {
      // the parse layer alone: both parsers over every staged line, batch
      // mode, materialised through noop
      val parsed = GameLogParser.parseKillLines(spark.read.text(s"${c.in}/main/kills"))
        .unionByName(GameLogParser.parseDamageLines(spark.read.text(s"${c.in}/main/damages")))
      val t0 = System.nanoTime()
      c.trace.span("core.parse") {
        parsed.write.format("noop").mode("overwrite").save()
      }
      res.metric("core.parse.ms", (System.nanoTime() - t0) / 1e6, "ms")
      res.metric("streaming.events_per_s",
        parsed.count() / (Results.median(rounds.map(_.streamMs)) / 1000.0), "1/s")
    }
    res.put("rounds", Results.jsonStrings(rounds.map(r => s"${c.work}/round${r.r}")))
  }
}
