package graftbench

import scala.jdk.CollectionConverters._

import graft.streaming.{Topology, TopologyConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The CDC workloads, driven through the configured production entry:
  * `TopologyConfig.fromString` -> `Topology.start`. */
object Cdc {
  val Source = "db1"

  /** The reference's tuned topology (psql-streamer.toml): one file source
    * deduplicating on uuid, fanned out to a noop sink and a parquet sink
    * with retry; users and orders route to their topics, the rest to the
    * fallback topic. `batchSize` files make one micro-batch; a flush
    * interval of 0 starts the next batch as soon as the last commits. */
  def toml(dir: String, ckpt: String, out: String, batchSize: Int): String =
    s"""checkpointRoot = "$ckpt"
       |[source.$Source]
       |type = "file"
       |dir = "$dir"
       |batchSize = $batchSize
       |batchFlushInterval = 0
       |dedupWatermark = "10 minutes"
       |[sink.noop]
       |type = "noop"
       |sources = [ "$Source" ]
       |tableTopicMapping = { users = "t.users", orders = "t.orders" }
       |topicFallback = "t.fallback"
       |[sink.parquet]
       |type = "parquet"
       |sources = [ "$Source" ]
       |path = "$out"
       |tableTopicMapping = { users = "t.users", orders = "t.orders" }
       |topicFallback = "t.fallback"
       |""".stripMargin

  /** Per-call durations (ms) of each sink writer the traced pass wraps,
    * recorded once `on`. */
  final class SinkTimes {
    @volatile var on = false
    private val ms = new java.util.concurrent.ConcurrentHashMap[String, java.util.Vector[Double]]
    def wrap(name: String, w: DataFrame => Unit): DataFrame => Unit = { df =>
      val t = System.nanoTime
      try Spans(s"sink.$name.write")(w(df))
      finally if (on) ms.computeIfAbsent(name, _ => new java.util.Vector[Double])
        .add((System.nanoTime - t) / 1e6)
    }
    def of(name: String): Seq[Double] =
      Option(ms.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  /** The traced configuration: every sink timed, and a first subscriber
    * that only counts the persisted micro-batch. Because it runs first, it
    * pays for source -> validate -> dedup, and the real sinks then read the
    * persisted batch, so their times are their own. */
  def traced(cfg: Topology.Config, times: SinkTimes): Topology.Config = {
    val upstream = Topology.SinkConf("upstream", Seq(Source), Map.empty, Some("t.all"),
      df => { df.count(); () })
    cfg.copy(sinks = (upstream +: cfg.sinks).map(s => s.copy(writer = times.wrap(s.name, s.writer))))
  }

  final case class Run(startMs: Long, endMs: Long,
                       batches: Seq[(Long, Long, Long)], layers: Map[String, Double],
                       leaks: Seq[Leaks.Count])

  /** Start the topology on its source directory (a restart after an
    * outage), drain the whole backlog, stop. The measured window starts
    * just before `Topology.start`. */
  def run(spark: SparkSession, cfg0: Topology.Config, traced: Boolean, cores: Int): Run = {
    val progress = new Progress
    spark.streams.addListener(progress)
    val times = new SinkTimes
    val layers = new Layers
    val cfg = if (traced) Cdc.traced(cfg0, times) else cfg0
    if (traced) layers.register(spark)
    val start = System.currentTimeMillis()
    val startSpan = Clock.us
    val qs = Topology.start(spark, cfg)
    val startSpanEnd = Clock.us
    if (traced) {
      layers.on = true; Spans.enabled = true; times.on = true
      Spans.record(Spans.Span(Spans.newId(), 0, "topology.start", "", startSpan, startSpanEnd,
        Thread.currentThread.getName))
    }
    try {
      Spans("topology.processAllAvailable")(qs.foreach(_.processAllAvailable()))
    } finally qs.foreach(_.stop())
    val end = System.currentTimeMillis()
    Spans.enabled = false
    spark.streams.removeListener(progress)
    val ps = progress.since(start).filter(_.durationMs.containsKey("addBatch"))
    val layerMetrics =
      if (!traced) Map.empty[String, Double]
      else {
        layers.unregister(spark)
        val windows = ps.map { p =>
          val s = java.time.Instant.parse(p.timestamp).toEpochMilli
          s -> (s + p.durationMs.get("triggerExecution").longValue)
        }
        ps.zip(windows).foreach { case (p, (s, e)) =>
          Spans.record(Spans.Span(Spans.newId(), 0, "topology.microbatch", p.batchId.toString,
            s * 1000, e * 1000, "stream"))
        }
        streamLayers(ps, times) ++ layers.metrics((end - start) / 1000.0, cores, windows)
      }
    Run(start, end, progress.batches(start), layerMetrics, Seq(Leaks.count(spark, "stream")))
  }

  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def observed(p: StreamingQueryProgress, field: String): Double =
    Option(p.observedMetrics.get(Source)).map((r: Row) => r.getAs[Long](field).toDouble)
      .getOrElse(0.0)

  /** Per-layer metrics of `sources`, `streaming.Topology`,
    * `streaming.CdcPipeline` and `streaming.Sinks`, from the progress of
    * every executed micro-batch and the sink timers. */
  def streamLayers(ps: Seq[StreamingQueryProgress], times: SinkTimes): Map[String, Double] = {
    val withData = ps.filter(_.numInputRows > 0)
    val state = ps.flatMap(_.stateOperators.headOption)
    val events = ps.map(observed(_, "events")).sum
    val invalid = ps.map(p => observed(p, "invalid_action") + observed(p, "missing_uuid")).sum
    val sinks = Seq("noop", "parquet").flatMap { n =>
      Seq(s"sinks.$n.write_ms" -> times.of(n).sum,
          s"sinks.$n.write_ms_p90" -> Stats.pct(times.of(n), 0.9))
    }
    Map(
      "sources.latest_offset_ms" -> ps.map(d(_, "latestOffset")).sum,
      "sources.get_batch_ms" -> ps.map(d(_, "getBatch")).sum,
      "sources.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "topology.batches" -> ps.size.toDouble,
      "topology.nodata_batches" -> (ps.size - withData.size).toDouble,
      "topology.trigger_ms_p50" -> Stats.pct(ps.map(d(_, "triggerExecution")), 0.5),
      "topology.trigger_ms_p90" -> Stats.pct(ps.map(d(_, "triggerExecution")), 0.9),
      "topology.query_planning_ms" -> ps.map(d(_, "queryPlanning")).sum,
      "topology.wal_commit_ms" -> ps.map(d(_, "walCommit")).sum,
      "topology.commit_offsets_ms" -> ps.map(d(_, "commitOffsets")).sum,
      "topology.add_batch_ms" -> ps.map(d(_, "addBatch")).sum,
      "topology.rows_per_batch_p50" -> Stats.pct(withData.map(_.numInputRows.toDouble), 0.5),
      "cdcpipeline.invalid_frac" -> (if (events > 0) invalid / events else 0.0),
      "cdcpipeline.dedup_state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "cdcpipeline.dedup_state_bytes_max" ->
        (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes.toDouble).max),
      "cdcpipeline.dedup_update_ms" -> state.map(_.allUpdatesTimeMs.toDouble).sum,
      "cdcpipeline.dedup_commit_ms" -> state.map(_.commitTimeMs.toDouble).sum,
      "cdcpipeline.unique_frac" ->
        (if (events > invalid) state.map(_.numRowsUpdated.toDouble).sum / (events - invalid) else 0.0),
      "cdcpipeline.upstream_ms" -> times.of("upstream").sum,
    ) ++ sinks
  }

  def config(dir: String, ckpt: String, out: String, batchSize: Int): Topology.Config =
    TopologyConfig.fromString(toml(dir, ckpt, out, batchSize))
}
