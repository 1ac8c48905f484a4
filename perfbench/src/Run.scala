package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** Operation accounting for one benchmark run: set-up samples, the timed
  * closed loop, correctness checks, and the failures of each.
  *
  * Every operation and every check counts as attempted; an exception or a
  * wrong answer counts as failed and is never skipped. Only operations that
  * succeeded contribute latency samples.
  */
final class Run(trace: Trace) {
  val setupSeconds = ArrayBuffer[Double]()
  /** (kind, latency ms) of every successful timed operation, in run order. */
  val samples = ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer[String]()
  private var windowNanos = 0L
  private var cpuNanos = 0L
  private var heapRetained = 0L
  private var checkNanos = 0L
  private var checkCpuNanos = 0L
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def fail(what: String, msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: $msg"
    System.err.println(s"[perfbench] FAILED $what: $msg")
  }

  /** Time one set-up repetition. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupSeconds += (System.nanoTime() - t0) / 1e9
    r
  }

  /** One timed operation. `check` runs after the clock stops and returns
    * an error message for a wrong answer; its wall and CPU time are taken
    * out of the window's totals.
    *
    * @return the operation's latency in ms
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Double = {
    attempted += 1
    trace.beginOp(kind)
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    trace.endOp()
    val (c0, w0) = (cpu.getProcessCpuTime, System.nanoTime())
    r match {
      case Left(e) =>
        fail(kind, String.valueOf(e))
        if (errors.size <= 3) e.printStackTrace(System.err)
      case Right(v) =>
        (try check(v) catch { case e: Throwable => Some(s"check threw $e") }) match {
          case Some(msg) => fail(kind, msg)
          case None => samples += kind -> ms
        }
    }
    checkNanos += System.nanoTime() - w0
    checkCpuNanos += cpu.getProcessCpuTime - c0
    ms
  }

  /** A correctness gate outside the timed loop. */
  def check(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    (try body catch { case e: Throwable =>
      e.printStackTrace(System.err); Some(String.valueOf(e)) }) match {
      case Some(msg) => fail(what, msg)
      case None => ()
    }
  }

  /** Run `loop` as the measured window: wall time and process CPU time,
    * both without the time spent checking answers. When the window closes,
    * a full collection is forced and the heap still in use is recorded:
    * the memory the run's operations left reachable.
    */
  def measure(loop: => Unit): Unit = {
    val (c0, w0) = (checkCpuNanos, checkNanos)
    val cpu0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    trace.startWindow()
    try loop finally {
      windowNanos = System.nanoTime() - t0 - (checkNanos - w0)
      cpuNanos = cpu.getProcessCpuTime - cpu0 - (checkCpuNanos - c0)
      trace.endWindow()
      // the second collection runs after Spark's context cleaner has
      // dropped the blocks of broadcasts the first one found unreachable
      System.gc()
      Thread.sleep(500)
      System.gc()
      heapRetained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  /** The measured window without answer checks, in seconds. */
  def windowSeconds: Double = windowNanos / 1e9

  def endToEnd: Seq[(String, Double, String)] = {
    val ms = samples.map(_._2).toIndexedSeq
    Seq(
      ("setup_s", Stats.median(setupSeconds.toIndexedSeq), "s"),
      ("ops_per_s", samples.size / windowSeconds, "1/s"),
      ("latency_p50_ms", Stats.median(ms), "ms"),
      ("latency_tail_ms", Stats.tail(ms)._1, "ms"),
      ("cpu_ms_per_op", cpuNanos / 1e6 / (samples.size max 1), "ms"))
  }

  /** Per-kind split and sample counts, for the record line. */
  def detail: Map[String, Any] = {
    val all = samples.map(_._2).toIndexedSeq
    val byKind = samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      val xs = v.map(_._2).toIndexedSeq
      val (tail, pct) = Stats.tail(xs)
      k -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs), "tail_ms" -> tail,
        "tail_pct" -> pct)
    }.toMap
    Map("samples" -> all.size, "tail_pct" -> Stats.tail(all)._2,
      "heap_retained_mb" -> heapRetained / 1048576.0,
      "window_s" -> windowSeconds, "setup_samples_s" -> setupSeconds.toSeq,
      "kinds" -> byKind, "errors" -> errors.toSeq)
  }
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the value
    * with ten larger samples, never below the median. Returns the value and
    * its percentile rank.
    */
  def tail(xs: IndexedSeq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN)
    val s = xs.sorted
    val i = (s.length - 11) max (s.length / 2)
    (s(i), 100.0 * (i + 1) / s.length)
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
