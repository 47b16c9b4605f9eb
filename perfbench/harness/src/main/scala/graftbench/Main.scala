package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.Snapshot

/** One benchmark process: sets up a session through the program's public
  * entry, runs passes of one workload and writes a JSON run record.
  *
  *   graftbench.Main --workload agent_session|corpus_pipeline|stats_report
  *     --seed N --data DIR --work DIR --out FILE --slots N
  *     --passes N --resetups N --trace 0|1 [--plan FILE]
  *
  * It runs a cold pass, then N warm passes, then N further set-ups after
  * stopping the session. The metrics are computed by perfbench/run.py.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val data = a("data")
    val work = a("work")
    val slots = a("slots").toInt
    val warmPasses = a("passes").toInt
    val traced = a.getOrElse("trace", "0") == "1"

    val resetups = a("resetups").toInt

    /** Session and snapshot, ready for the workload's first call. */
    def setup(): (SparkSession, Workload) = {
      val spark = GraftSession.tune(
        GraftSession.builder(s"local[$slots]", shufflePartitions = slots)
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .getOrCreate())
      val snap = Snapshot(spark, data)
      snap.registerAll()
      val wl: Workload = workload match {
        case "agent_session" => new AgentSession(spark, snap, a("plan"))
        case "corpus_pipeline" => new CorpusPipeline(spark, data, work)
        case "stats_report" => new StatsReport(spark, data, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      (spark, wl)
    }

    val (spark, wl) = setup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val runner = new Runner(spark, listener, slots)
    val cold = runner.runPass(wl.pass(runner, 0))
    for (p <- 1 to warmPasses) runner.runPass(wl.pass(runner, p))

    val record = Map(
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "setup_s" -> setupS,
      "cold_s" -> cold,
      "slots" -> slots,
      "spark_confs" -> spark.conf.getAll.toSeq.sortBy(_._1)
        .filterNot { case (k, _) => k.contains("host") || k.contains("port") || k.endsWith(".id") }.toMap,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
      "passes" -> runner.passes,
      "first_results" -> runner.firstResults.map { case (k, r) => k -> Map("cols" -> r.cols, "rows" -> r.rows) },
      "peak_rss_mb" -> JvmCounters.peakRssMb())
    spark.stop()
    // further set-ups in the same process: the session and snapshot work
    // without the JVM's class loading
    val resetupS = (1 to resetups).map { _ =>
      val t = System.nanoTime()
      val (s, _) = setup()
      val dt = (System.nanoTime() - t) / 1e9
      s.stop()
      dt
    }
    Files.writeString(Paths.get(a("out")), Json(record + ("resetup_s" -> resetupS)))
  }
}

/** Writes the DuckDB oracle SQL of the stats_report queries to a JSON file. */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)),
      Json(StatsReport.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
}
