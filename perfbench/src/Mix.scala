package perfbench

import graft.{QDef, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DecimalType, LongType, StructType}
import java.nio.file.{Files, Paths}

/** `declared_mix`: declared read-only queries over seeded sf0.1 fixtures,
  * each run to the `noop` sink, in a seeded order that changes every pass
  * so no query keeps a fixed predecessor. The timed operation is one pass.
  *
  * Before the clock starts, a correctness pass runs every query once and
  * collects its declared output (decimals cast to double, as
  * `SparkEntry.queries` does); the rows go to parquet next to each query's
  * DuckDB oracle SQL, which `run.py` compares once the JVM has exited. The
  * pass also warms the JIT and Spark's codegen cache, so the timed passes
  * measure warm queries.
  */
final class Mix(spark: SparkSession, run: Run, trace: Trace, work: String, seed: Long) {

  val names = Seq("tpch_q1", "tpch_q6", "tpch_q7", "tpch_q17", "tpch_q21",
    "tpcds_q49s_return_ratio_ranks", "a9_median", "j11_salted_join", "o6_skyline",
    "d2_minhash_cluster", "d44_curation_pipeline")
  private val queries: Seq[QDef] = {
    val declared = SparkEntry.all.map(q => q.name -> q).toMap
    names.map(n => declared.getOrElse(n, sys.error(s"query $n is not declared")))
  }
  private val fixtures = s"$work/fixtures"
  private val results = Paths.get(work, "results")
  private val fixtureTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents")

  /** Waits for `run.py` to finish writing the fixtures (it generates them
    * while this JVM starts).
    */
  def awaitFixtures(): Unit = {
    val ready = Paths.get(fixtures, "_READY")
    val deadline = System.nanoTime() + 120e9.toLong
    while (!Files.exists(ready)) {
      require(System.nanoTime() < deadline, s"no fixtures at $fixtures")
      Thread.sleep(50)
    }
  }

  /** Set-up: open every fixture table the mix reads. */
  def setup(): Unit = run.setup {
    fixtureTables.foreach(t => Tables.load(spark, fixtures, t).schema)
  }

  /** The oracle SQL with the dialect adapter of the repo's Verify tool:
    * decimal outputs compare as DOUBLE and long outputs as BIGINT.
    */
  private def adaptedOracle(q: QDef, raw: StructType): String = {
    val cols = raw.fields.map { f =>
      val qn = "\"" + f.name + "\""
      if (f.dataType.isInstanceOf[DecimalType]) s"CAST($qn AS DOUBLE) AS $qn"
      else if (f.dataType == LongType) s"CAST($qn AS BIGINT) AS $qn"
      else qn
    }
    s"SELECT ${cols.mkString(", ")} FROM (\n${q.oracle.get}\n) graft_dialect_adapter"
  }

  /** Correctness pass: run, collect and save every query's output. */
  def correctnessPass(): Unit = {
    Files.createDirectories(results)
    val oracles = queries.flatMap { q =>
      try {
        val raw = q.fn(spark, fixtures)
        val out = QDef.castDecimalOutputs(raw)
        spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
          .write.mode("overwrite").parquet(results.resolve(q.name).toString)
        Some(q.name -> adaptedOracle(q, raw.schema))
      } catch {
        // no result file: the oracle comparison counts the query as failed
        case e: Throwable =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          None
      }
    }
    Files.writeString(results.resolve("oracle_sql.json"), Json(oracles.toMap))
  }

  /** Latency samples per query, in run order (for the record line). */
  val perQuery = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()

  /** Whole passes until `seconds` have elapsed. One operation is one pass
    * over every query: the eleven queries cost 0.3-3.5 s each, so the
    * median of single-query latencies would be the time of whichever query
    * sorts sixth, and would move with that one query's noise.
    */
  def loop(seconds: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val order = rnd.shuffle(queries)
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      run.op("pass") {
        order.foreach { q =>
          val q0 = System.nanoTime()
          val df = trace.span("queries")(q.fn(spark, fixtures))
          trace.span("exec")(df.write.mode("overwrite").format("noop").save())
          times += (System.nanoTime() - q0) / 1e9
        }
      }(_ => None)
      order.zip(times).foreach { case (q, s) =>
        perQuery(q.name) = perQuery.getOrElse(q.name, Vector.empty) :+ s
        if (s > 5.0) System.err.println(f"[perfbench] SLOW ${q.name} $s%.1f s")
      }
    }
  }
}
