package graftbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workload: queries from `SparkEntry.queries` in one warm
  * session, each built by its entry and written with noop, as Bench does. */
object Batch {

  /** Six TPC-H-shaped and four CDC queries, which are bound by per-query
    * fixed cost, and two iterative ones that dominate the total. */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q10_returned_items", "q18_having_in",
    "cdc_envelope", "cdc_dedup_uuid", "cdc_snapshot", "cdc_wal_gaps",
    "dedup_minhash_lsh", "pipeline_corpus")

  final case class Pass(startMs: Long, endMs: Long, times: Seq[(String, Double)],
                        layers: Map[String, Double], leaks: Seq[Leaks.Count])

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Queries)

  private def once(spark: SparkSession, data: String, name: String)
                  (write: DataFrame => Unit): Double = {
    val t = System.nanoTime
    Spans(s"operators.$name", name) {
      val df = Spans("query.build", name)(SparkEntry.queries(name)(spark, data))
      Spans("query.write", name)(write(df))
    }
    (System.nanoTime - t) / 1e9
  }

  /** Cold pass, outside the measured window: each result is written to
    * parquet for the oracle check. Returns the queries that threw. */
  def warm(spark: SparkSession, data: String, out: String, seed: Long): Seq[(String, String)] =
    order(seed, 0).flatMap { name =>
      try {
        once(spark, data, name)(_.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
        None
      } catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage).take(300)) }
    }

  /** `passes` whole passes over the queries, each in a new seeded order. */
  def measure(spark: SparkSession, data: String, seed: Long, passes: Int,
              traced: Boolean, cores: Int, firstPass: Int): Pass = {
    val layers = new Layers
    if (traced) { layers.register(spark); layers.on = true; Spans.enabled = true }
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    val leaks = mutable.ArrayBuffer.empty[Leaks.Count]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    val start = System.currentTimeMillis()
    (firstPass until firstPass + passes).foreach { pass =>
      order(seed, pass).foreach { name =>
        val ws = System.currentTimeMillis()
        times += name -> once(spark, data, name)(_.write.format("noop").mode("overwrite").save())
        windows += ws -> System.currentTimeMillis()
        leaks += Leaks.count(spark, name)
      }
    }
    val end = System.currentTimeMillis()
    Spans.enabled = false
    val layerMetrics =
      if (!traced) Map.empty[String, Double]
      else {
        layers.unregister(spark)
        val perQuery = Queries.map { q =>
          s"operators.$q.s" -> Stats.pct(times.collect { case (`q`, s) => s }.toSeq, 0.5)
        }
        perQuery.toMap ++ layers.metrics((end - start) / 1000.0, cores, windows.toSeq)
      }
    Pass(start, end, times.toSeq, layerMetrics, leaks.toSeq)
  }

  /** Oracle SQL of the measured queries, for the DuckDB check. */
  def oracles: Map[String, String] = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
}
