package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** One benchmark run inside one JVM: set-up, the timed closed loop with one
  * client thread, the correctness gates, and a result file for `run.py`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  * (`declared_mix` reads its fixtures from `<work dir>/fixtures`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val t0 = System.nanoTime()
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    try {
      val trace = new Trace(traced, spark)
      val run = new Run(trace)
      val (detail, extraLayers, writeKinds) = workload match {
        case "declared_mix" =>
          val mix = new Mix(spark, run, trace, work, seed)
          mix.awaitFixtures()
          phase("fixtures")
          (1 to 3).foreach(_ => mix.setup())
          phase("setup")
          mix.correctnessPass()
          phase("correctness")
          run.measure(mix.loop(seconds))
          phase("window")
          // the mix never touches the keyed catalog
          val noCatalog = Seq("catalog.insert_accept_ratio", "catalog.pending_layers_at_read",
            "catalog.compactions", "storage.files").map(_ -> 0.0).toMap
          val queriesPerS = mix.perQuery.values.map(_.size).sum / run.windowSeconds
          (Map[String, Any]("queries" -> mix.names, "per_query_s" -> mix.perQuery.toMap,
            "queries_per_s" -> queriesPerS), noCatalog, Set.empty[String])
        case "keyed_ingest" =>
          val w = new Ingest(spark, run, trace, work, seed)
          w.setup()
          phase("setup")
          run.measure(w.loop(seconds))
          phase("window")
          w.verify()
          phase("verify")
          (w.detail(run.windowSeconds), w.layers, Keyed.WriteKinds)
        case "keyed_serve" =>
          val w = new Serve(spark, run, trace, work, seed)
          w.setup()
          phase("setup")
          run.measure(w.loop(seconds))
          phase("window")
          (w.detail, w.layers, Keyed.WriteKinds)
        case other => sys.error(s"unknown workload $other")
      }
      val layers =
        if (!traced) Map.empty[String, Double]
        else trace.layers(writeKinds, cores) ++ extraLayers ++ Map(
          "trace.latency_p50_ms" -> Stats.median(run.samples.map(_._2).toIndexedSeq))
      val result = Map(
        "attempted" -> run.attempted, "failed" -> run.failed,
        "end_to_end" -> run.endToEnd.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "per_layer" -> layers,
        "detail" -> (run.detail ++ detail ++ Map("cores" -> cores, "jvm_phases_s" -> phases.toMap)))
      Files.writeString(Paths.get(out), Json(result))
    } finally spark.stop()
  }
}
