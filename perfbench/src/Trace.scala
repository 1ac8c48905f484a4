package perfbench

import graft.catalog.GraftStorage
import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val start: Long) {
  var end = 0L
}

/** The traced run's recorders. Spans are recorded in the benchmark's own
  * code around each call into a layer (name, start, end, parent, operation
  * id) and kept in memory until the run ends; counts are taken at the same
  * boundaries. With tracing off every method is a no-op and no listener is
  * registered, so untraced runs measure the program alone.
  *
  * Layers and their boundaries:
  *  - `queries`: a declared query's `fn(spark, dir)` until the DataFrame
  *    returns (fixture open, schema inference, analysis);
  *  - `graftsql.<kind>`: `GraftSql.execute`;
  *  - `catalog.<method>`: `KuduLikeCatalog` calls;
  *  - `connector.load`: `spark.read.format("graft").load`;
  *  - `exec`: the action that runs a plan (noop sink or collect);
  *  - `storage.<method>`: every `GraftStorage` call, through [[CountingStorage]];
  *  - Catalyst phases come from each executed query's planning tracker, and
  *    Spark execution from a listener scoped to the run's job groups.
  */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  private val spans = ArrayBuffer[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  @volatile private var active = false
  @volatile private var opId = 0
  private val opKind = mutable.Map[Int, String]()
  private var windowStart = Map.empty[String, Long]
  private var windowEnd = Map.empty[String, Long]

  def beginOp(kind: String): Unit = if (active) {
    opId += 1
    opKind(opId) = kind
    spark.sparkContext.setJobGroup(s"perfbench-$opId", kind, interruptOnCancel = false)
    push(s"op.$kind")
  }

  def endOp(): Unit = if (active) {
    pop()
    spark.sparkContext.clearJobGroup()
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      push(name)
      try body finally pop()
    }

  private def push(name: String): Unit = {
    val st = stack.get
    val s = spans.synchronized {
      val sp = new Span(spans.size, st.headOption.map(_.id).getOrElse(-1), opId, name,
        System.nanoTime())
      spans += sp
      sp
    }
    stack.set(s :: st)
  }

  private def pop(): Unit = {
    val st = stack.get
    st.head.end = System.nanoTime()
    stack.set(st.tail)
  }

  // ---- Spark execution and Catalyst, scoped to the run's job groups ----

  private val stageOwned = ConcurrentHashMap.newKeySet[Int]()
  private val counters = mutable.LinkedHashMap[String, LongAdder]()
  private def c(name: String): LongAdder = counters.synchronized {
    counters.getOrElseUpdate(name, new LongAdder)
  }
  @volatile private var countQueries = false

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith("perfbench-")) {
        c("jobs").increment()
        e.stageIds.foreach(stageOwned.add)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageOwned.contains(e.stageInfo.stageId)) c("stages").increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageOwned.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        c("tasks").increment()
        c("task_run_ms").add(m.executorRunTime)
        c("gc_ms").add(m.jvmGCTime)
        c("shuffle_read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
        c("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
        c("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c("input_bytes").add(m.inputMetrics.bytesRead)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (countQueries && (qe.sparkSession eq spark)) {
        c("queries").increment()
        qe.tracker.phases.foreach { case (phase, s) => c(s"phase_$phase").add(s.durationMs) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(execListener)
    spark.listenerManager.register(queryListener)
  }

  private def connectorCounters: Map[String, Long] = {
    import graft.sources.GraftScanStats._
    Map("read" -> rowGroupsRead.sum(), "stats" -> rowGroupsStatsSkipped.sum(),
      "bloom" -> rowGroupsBloomSkipped.sum())
  }

  def startWindow(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    windowStart = connectorCounters
    countQueries = true
    active = true
  }

  def endWindow(): Unit = if (enabled) {
    active = false
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    countQueries = false
    windowEnd = connectorCounters
  }

  /** Per-layer metrics of the traced window. `writeKinds` names the
    * operation kinds that commit; every other kind is a read.
    */
  def layers(writeKinds: Set[String], cores: Int): Map[String, Double] = {
    val done = spans.filter(_.end > 0)
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    def selfNs(s: Span) = (s.end - s.start) - childNs(s.id)
    val byName = done.groupBy(_.name)
    def calls(n: String) = byName.get(n).map(_.size).getOrElse(0)
    def selfMs(pred: String => Boolean) =
      done.filter(s => pred(s.name)).map(selfNs).sum / 1e6
    val opSpans = done.filter(_.name.startsWith("op."))
    val nOps = opSpans.size max 1
    val opWallMs = opSpans.map(s => s.end - s.start).sum / 1e6
    def perOp(v: Double) = v / nOps
    def perCall(n: String) = if (calls(n) == 0) 0.0 else selfMs(_ == n) / calls(n)
    def cnt(n: String) = counters.get(n).map(_.sum().toDouble).getOrElse(0.0)

    val m = mutable.LinkedHashMap[String, Double]()
    m("self.bench_ms") = perOp(selfMs(_.startsWith("op.")))
    m("mix.build_ms") = perOp(selfMs(_ == "queries"))
    m("catalyst.plan_ms") = perOp(cnt("phase_optimization") + cnt("phase_planning"))
    Seq("analysis", "optimization", "planning").foreach(p =>
      m(s"catalyst.${p}_ms") = perOp(cnt(s"phase_$p")))
    m("catalyst.queries") = perOp(cnt("queries"))
    m("exec.ms") = perOp(selfMs(_ == "exec"))
    Seq("jobs", "stages", "tasks", "task_run_ms", "gc_ms", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "input_bytes").foreach(k =>
      m(s"exec.$k") = perOp(cnt(k)))
    m("exec.core_busy_frac") =
      if (opWallMs == 0) 0.0 else cnt("task_run_ms") / (opWallMs * cores)

    val sqlNames = byName.keySet.filter(_.startsWith("graftsql."))
    val sqlCalls = sqlNames.toSeq.map(calls).sum
    m("graftsql.execute_ms") =
      if (sqlCalls == 0) 0.0 else selfMs(_.startsWith("graftsql.")) / sqlCalls
    m("graftsql.calls") = sqlCalls
    Seq("insert", "select").foreach { k =>
      m(s"graftsql.${k}_ms") = perCall(s"graftsql.$k")
      m(s"graftsql.${k}_calls") = calls(s"graftsql.$k")
    }
    Seq("insert", "upsert", "delete", "compact", "table", "lookup", "lookup_range")
      .foreach { k =>
        m(s"catalog.${k}_ms") = perCall(s"catalog.$k")
        m(s"catalog.${k}_calls") = calls(s"catalog.$k")
      }

    val storage = done.filter(_.name.startsWith("storage."))
    val isWrite = (s: Span) => opKind.get(s.op).exists(writeKinds)
    val commits = opSpans.count(s => writeKinds(s.name.stripPrefix("op.")))
    val reads = opSpans.size - commits
    m("storage.calls_per_commit") =
      if (commits == 0) 0.0 else storage.count(isWrite).toDouble / commits
    m("storage.calls_per_read") =
      if (reads == 0) 0.0 else storage.count(s => !isWrite(s)).toDouble / reads
    m("storage.call_ms") = perOp(storage.map(selfNs).sum / 1e6)
    Seq("exists", "list", "walkFiles", "readString", "replaceFile", "moveAtomic",
      "claimMarker").foreach(k => m(s"storage.${k}_calls") = perOp(calls(s"storage.$k")))
    m("storage.lock_calls") =
      perOp(calls("storage.lockExclusive") + calls("storage.lockShared"))

    m("connector.load_ms") = perCall("connector.load")
    def conn(k: String) = (windowEnd.getOrElse(k, 0L) - windowStart.getOrElse(k, 0L)).toDouble
    m("connector.row_groups_read") = perOp(conn("read"))
    m("connector.row_groups_stats_skipped") = perOp(conn("stats"))
    m("connector.row_groups_bloom_skipped") = perOp(conn("bloom"))
    val considered = conn("read") + conn("stats") + conn("bloom")
    m("connector.skip_ratio") =
      if (considered == 0) 0.0 else (conn("stats") + conn("bloom")) / considered
    m("trace.spans") = done.size
    m.toMap
  }
}

/** Counting `GraftStorage`: every call through the catalog's storage seam
  * becomes a `storage.<method>` span, then goes to `inner` unchanged.
  */
final class CountingStorage(inner: GraftStorage, trace: Trace) extends GraftStorage {
  private def t[T](m: String)(body: => T): T = trace.span(s"storage.$m")(body)
  override def supportsHardLink: Boolean = inner.supportsHardLink
  override def supportsAtomicRename: Boolean = inner.supportsAtomicRename
  override def supportsCrashReleasedLocks: Boolean = inner.supportsCrashReleasedLocks
  override def exists(p: Path): Boolean = t("exists")(inner.exists(p))
  override def isDirectory(p: Path): Boolean = t("isDirectory")(inner.isDirectory(p))
  override def isRegularFile(p: Path): Boolean = t("isRegularFile")(inner.isRegularFile(p))
  override def list(p: Path): Seq[Path] = t("list")(inner.list(p))
  override def walkFiles(p: Path): Seq[Path] = t("walkFiles")(inner.walkFiles(p))
  override def createDirectories(p: Path): Unit =
    t("createDirectories")(inner.createDirectories(p))
  override def claimMarker(p: Path): Unit = t("claimMarker")(inner.claimMarker(p))
  override def deleteIfExists(p: Path): Unit = t("deleteIfExists")(inner.deleteIfExists(p))
  override def deleteRecursively(p: Path): Unit =
    t("deleteRecursively")(inner.deleteRecursively(p))
  override def lastModifiedMillis(p: Path): Long =
    t("lastModifiedMillis")(inner.lastModifiedMillis(p))
  override def readString(p: Path): String = t("readString")(inner.readString(p))
  override def readAllBytes(p: Path): Array[Byte] = t("readAllBytes")(inner.readAllBytes(p))
  override def writeString(p: Path, s: String): Unit = t("writeString")(inner.writeString(p, s))
  override def replaceFile(tmp: Path, dst: Path): Unit =
    t("replaceFile")(inner.replaceFile(tmp, dst))
  override def moveAtomic(src: Path, dst: Path): Unit = t("moveAtomic")(inner.moveAtomic(src, dst))
  override def linkOrCopy(link: Path, existing: Path): Unit =
    t("linkOrCopy")(inner.linkOrCopy(link, existing))
  override def lockExclusive(lockFile: Path, timeoutMs: Long,
      owner: String): GraftStorage.Lease =
    t("lockExclusive")(inner.lockExclusive(lockFile, timeoutMs, owner))
  override def lockShared(lockFile: Path, timeoutMs: Long,
      owner: String): GraftStorage.Lease =
    t("lockShared")(inner.lockShared(lockFile, timeoutMs, owner))
}
