package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: start the session, warm up, measure
  * one untraced pass (with `--trace 1`, then a traced and another untraced
  * one), and
  * write the raw measurements as JSON for `run.py`, which checks outputs
  * and derives the reported metrics.
  *
  * Arguments (all required): --workload --seed --seconds --trace --work
  * (scratch directory holding this run's inputs) --cores --out. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    // A traced pass is bracketed by untraced ones, so that the tracing
    // overhead is not confounded with the JVM still warming up.
    val passes = if (a("trace") == "1") Seq(false, true, false) else Seq(false)
    val work = a("work")
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val baseline = Leaks.count(spark, "session")

    val (warmS, runs, errors) = workload match {
      case "cdc_catchup" =>
        // A restarted pipeline is measured, so a separate drain warms the
        // JVM up first and each measured pass starts a new query.
        val batchSize = 25
        val warmS = timed {
          Cdc.run(spark, Cdc.config(s"$work/warm", s"$work/warm-ckpt", s"$work/warm-out", batchSize),
            traced = false, cores)
        }
        val runs = passes.zipWithIndex.map { case (traced, i) =>
          val in = s"$work/in-$i"
          val r = Cdc.run(spark, Cdc.config(in, s"$work/ckpt-$i", s"$work/out-$i", batchSize),
            traced, cores)
          Map("traced" -> traced, "input" -> in, "ckpt" -> s"$work/ckpt-$i/${Cdc.Source}",
            "out" -> s"$work/out-$i", "start_ms" -> r.startMs, "end_ms" -> r.endMs,
            "batches" -> r.batches, "layers" -> r.layers, "leaks" -> r.leaks)
        }
        (warmS, runs, Seq.empty[(String, String)])
      case "batch_queries" =>
        var errors = Seq.empty[(String, String)]
        val warmS = timed { errors = Batch.warm(spark, s"$work/data", s"$work/results", seed) }
        Files.writeString(Paths.get(s"$work/results/oracle_sql.json"), Json(Batch.oracles))
        // The same work in every run: one pass over the queries (about 6 s
        // on a 4-core box) per 5 s of `seconds`. A time limit instead
        // would fit one more pass into some runs and not others.
        val queryPasses = math.max(1, math.round(seconds / 5).toInt)
        val runs = passes.zipWithIndex.map { case (traced, i) =>
          val p = Batch.measure(spark, s"$work/data", seed, queryPasses, traced, cores,
            firstPass = 1 + i * 1000)
          Map("traced" -> traced, "start_ms" -> p.startMs, "end_ms" -> p.endMs,
            "times" -> p.times, "layers" -> p.layers, "leaks" -> p.leaks)
        }
        (warmS, runs, errors)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val spans = Spans.all
    Files.write(Paths.get(s"$work/spans.jsonl"), spans.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "group" -> s.group,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "thread" -> s.thread))
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    val result = Map(
      "session_s" -> sessionS, "warm_s" -> warmS, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version, "errors" -> errors, "passes" -> runs,
      "leaks_baseline" -> baseline,
      "rss_peak_mb" -> peakRssMb)
    Files.writeString(Paths.get(a("out")), Json(result))
    spark.stop()
  }

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime
    body
    (System.nanoTime - t) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
