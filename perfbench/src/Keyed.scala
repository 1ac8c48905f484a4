package perfbench

import graft.GraftSql
import graft.catalog.{KuduLikeCatalog, NioStorage, TableDef}
import java.time.{ZoneOffset, ZonedDateTime}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, length, lit, pmod, sum}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One row of the synthetic keyed table. `cents` is the double column times
  * 100, so every value round-trips exactly through SQL literals.
  */
final case class Rec(k: Long, tenant: String, tsMs: Long, cents: Long, payload: String) {
  def row: Row = Row(k, tenant, new java.sql.Timestamp(tsMs), cents / 100.0, payload)
  def sqlValues: String = {
    val ts = java.time.Instant.ofEpochMilli(tsMs).toString.replace('T', ' ').stripSuffix("Z")
    f"($k, '$tenant', TIMESTAMP '$ts', ${cents / 100}.${cents % 100}%02d, '$payload')"
  }
}

object Keyed {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("tenant", StringType), StructField("ts", TimestampType),
    StructField("v", DoubleType), StructField("payload", StringType)))
  val Tenants = 200
  val Months = 24
  val Buckets = 8
  val WriteKinds = Set("insert", "sql_insert", "upsert", "delete", "compact")

  def monthStart(m: Int): Long =
    ZonedDateTime.of(2024, 1, 1, 0, 0, 0, 0, ZoneOffset.UTC).plusMonths(m).toInstant.toEpochMilli

  /** Bucketed on the key and range-partitioned by month, like the
    * reference's hash-plus-range Kudu tables.
    */
  def tableDef(name: String, bloomTenant: Boolean): TableDef =
    TableDef(name, schema, Seq("k"), buckets = Buckets, rangeCol = Some("ts"),
      bloomCols = if (bloomTenant) Seq("tenant") else Nil)

  def fromRow(r: Row): Rec = Rec(r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
    math.round(r.getDouble(3) * 100), r.getString(4))

  /** Order-independent checksum of a set of rows. */
  def checksum(recs: Iterable[Rec]): Long =
    recs.iterator.map(_.hashCode.toLong).sum

  def df(spark: SparkSession, recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(recs.map(_.row): _*), schema)

  def keysDf(spark: SparkSession, ks: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ks.map(Row(_)): _*),
      StructType(Seq(StructField("k", LongType, nullable = false))))

  def catalog(spark: SparkSession, root: String, trace: Trace): KuduLikeCatalog =
    if (trace.enabled) new KuduLikeCatalog(spark, root, new CountingStorage(NioStorage, trace))
    else new KuduLikeCatalog(spark, root)

  /** Pending delta layers, read through a separate session and unwrapped
    * storage so the probe itself is never traced or counted.
    */
  def pendingLayers(spark: SparkSession, root: String, table: String): Int =
    new KuduLikeCatalog(spark.newSession(), root).history(table)
      .filter(col("kind") === "delta").count().toInt

  def bytesUnder(root: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val regular = files.filter(java.nio.file.Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (regular.map(java.nio.file.Files.size).sum, regular.length.toLong)
    } finally files.close()
  }
}

/** Seeded row generator: keys ascend with seeded gaps, so new keys never
  * collide and every value is a function of the seed.
  */
final class Gen(rnd: Random) {
  private var nextKey = 0L
  def newKey(): Long = { nextKey += 1 + rnd.nextInt(3); nextKey }
  def absentKey(): Long = nextKey + 1000000L + rnd.nextInt(1000000)
  /** A row in a uniformly drawn month among `months`. */
  def rec(k: Long, months: Range = 0 until Keyed.Months): Rec = {
    val m = months(rnd.nextInt(months.size))
    val ts = Keyed.monthStart(m) + rnd.nextInt(28 * 86400) * 1000L
    val payload = Iterator.continually(rnd.nextPrintableChar())
      .filter(_.isLetterOrDigit).take(16 + rnd.nextInt(48)).mkString
    Rec(k, s"t${rnd.nextInt(Keyed.Tenants)}", ts, rnd.nextInt(10000000).toLong, payload)
  }
}

/** The benchmark's own model of a keyed table: first insert wins, upsert
  * overwrites, delete removes. Within one batch the survivor per key is the
  * row that sorts first by the non-key columns, the catalog's documented
  * in-batch rule.
  */
final class Model {
  val rows = mutable.HashMap[Long, Rec]()
  val everInserted = ArrayBuffer[Long]()
  private val order: Ordering[Rec] =
    Ordering.by((r: Rec) => (r.tenant, r.tsMs, r.cents, r.payload))

  def survivors(batch: Seq[Rec]): Seq[Rec] = batch.groupBy(_.k).values.map(_.min(order)).toSeq

  /** @return rows appended */
  def insert(batch: Seq[Rec]): Long = survivors(batch).count { r =>
    val fresh = !rows.contains(r.k)
    if (fresh) { rows(r.k) = r; everInserted += r.k }
    fresh
  }

  /** @return rows applied after in-batch dedup */
  def upsert(batch: Seq[Rec]): Long = {
    val s = survivors(batch)
    s.foreach { r => if (!rows.contains(r.k)) everInserted += r.k; rows(r.k) = r }
    s.size
  }

  /** @return keys that were live */
  def delete(ks: Seq[Long]): Long = ks.distinct.count(k => rows.remove(k).isDefined)

  def anyKey(rnd: Random): Long = everInserted(rnd.nextInt(everInserted.size))
  def liveKey(rnd: Random): Long =
    Iterator.continually(anyKey(rnd)).find(rows.contains).get
}

/** `keyed_ingest`: a fixed cycle of write batches against one keyed table,
  * with a full-table aggregate read once per cycle; afterwards a fresh
  * catalog on the same root must read back exactly the model.
  */
final class Ingest(spark: SparkSession, run: Run, trace: Trace, work: String, seed: Long) {
  private val T = "ev"
  private val rnd = new Random(seed)
  private val gen = new Gen(rnd)
  private val model = new Model
  /** Share of each batch whose key is already taken, drawn once per seed. */
  private val dupShare = 0.1 + rnd.nextDouble() * 0.2
  private var root = ""
  private var cat: KuduLikeCatalog = _
  private var offered = 0L
  private var appended = 0L
  private var compactions = 0
  private val pendingAtRead = ArrayBuffer[Int]()

  /** The initial load covers months [0, FirstMonth); after that the
    * ingest clock advances one month per cycle of batches, and each batch
    * carries the current and the previous month (late arrivals), as a
    * time-series feed does.
    */
  private val FirstMonth = 6
  private var month = FirstMonth
  private def recent: Range = (month - 1) to month

  /** Create the table and bulk-load 20,000 rows, three times into fresh
    * roots; the last one is the table the loop writes to.
    */
  def setup(): Unit = {
    val initial = Seq.fill(20000)(gen.rec(gen.newKey(), 0 until FirstMonth))
    model.insert(initial)
    (1 to 3).foreach { i =>
      root = s"$work/ingest_$i"
      val input = Keyed.df(spark, initial)
      cat = run.setup {
        val c = Keyed.catalog(spark, root, trace)
        c.createTable(Keyed.tableDef(T, bloomTenant = false))
        c.insert(T, input)
        c
      }
    }
  }

  /** `n` rows of which a `dupShare` part repeats a key: half an existing
    * key (dup-ignored), half a key earlier in the same batch.
    */
  private def batch(n: Int): Seq[Rec] = {
    val fresh = ArrayBuffer[Long]()
    rnd.shuffle((1 to n).map { _ =>
      val r = rnd.nextDouble()
      val k =
        if (r < dupShare / 2) model.anyKey(rnd)
        else if (r < dupShare && fresh.nonEmpty) fresh(rnd.nextInt(fresh.size))
        else { val k = gen.newKey(); fresh += k; k }
      gen.rec(k, recent)
    })
  }

  private def expectEq(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, model says $want")

  /** One cycle of the fixed write sequence: the inserts land in the base
    * (no deltas are pending after the previous cycle's compaction), the
    * upsert and the delete each commit a delta layer, and `maybeCompact`
    * then finds two pending layers, above its threshold of one, and folds
    * them; the aggregate read sees the compacted table.
    */
  private val cycle = Seq("insert", "sql_insert", "upsert", "delete", "compact", "read")
  private val CompactAbove = 1

  /** Whole cycles until `seconds` have elapsed. */
  def loop(seconds: Int): Unit = {
    val t0 = System.nanoTime()
    var step = 0
    while (step % cycle.size != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(step % cycle.size) match {
        case "insert" =>
          val b = batch(2000 + rnd.nextInt(3000))
          val input = Keyed.df(spark, b)
          offered += b.size
          run.op("insert")(trace.span("catalog.insert")(cat.insert(T, input))) { n =>
            appended += n
            expectEq("rows appended", n, model.insert(b))
          }
        case "sql_insert" =>
          val b = batch(20 + rnd.nextInt(21))
          val sql = s"INSERT INTO $T VALUES ${b.map(_.sqlValues).mkString(", ")}"
          offered += b.size
          run.op("sql_insert") {
            trace.span("graftsql.insert")(GraftSql.execute(spark, cat, sql)).collect()
          } { rows =>
            val n = rows.head.getAs[Number]("rows").longValue
            appended += n
            expectEq("rows appended", n, model.insert(b))
          }
        case "upsert" =>
          val b = Seq.fill(300 + rnd.nextInt(700))(gen.rec(
            if (rnd.nextDouble() < 0.7) model.liveKey(rnd) else gen.newKey(), recent))
          val input = Keyed.df(spark, b)
          run.op("upsert")(trace.span("catalog.upsert")(cat.upsert(T, input))) { n =>
            expectEq("rows upserted", n, model.upsert(b))
          }
        case "delete" =>
          val ks = Seq.fill(50 + rnd.nextInt(150))(
            if (rnd.nextDouble() < 0.9) model.liveKey(rnd) else gen.absentKey())
          val input = Keyed.keysDf(spark, ks)
          run.op("delete")(trace.span("catalog.delete")(cat.deleteKeys(T, input))) { n =>
            expectEq("rows deleted", n, model.delete(ks))
          }
        case "compact" =>
          run.op("compact")(trace.span("catalog.compact")(cat.maybeCompact(T, CompactAbove))) { did =>
            if (did) compactions += 1
            None
          }
        case "read" =>
          if (trace.enabled) pendingAtRead += Keyed.pendingLayers(spark, root, T)
          run.op("read") {
            val df = trace.span("catalog.table")(cat.table(T))
              .agg(count(lit(1)), sum(col("k")), sum(length(col("payload"))))
            trace.span("exec")(df.collect()).head
          } { r =>
            val want = (model.rows.size.toLong, model.rows.keysIterator.sum,
              model.rows.valuesIterator.map(_.payload.length.toLong).sum)
            val got = (r.getLong(0), r.getLong(1), r.getLong(2))
            if (got == want) None else Some(s"aggregate read: got $got, model says $want")
          }
      }
      step += 1
      if (step % cycle.size == 0) month = (month + 1) min (Keyed.Months - 1)
    }
  }

  /** Every acknowledged write is readable: a fresh catalog on the same root
    * returns exactly the model's rows (count and checksum).
    */
  def verify(): Unit = run.check("reopen") {
    val got = new KuduLikeCatalog(spark, root).table(T).collect().map(Keyed.fromRow)
    val want = model.rows.values
    if (got.length == want.size && Keyed.checksum(got) == Keyed.checksum(want)) None
    else Some(s"reopened table has ${got.length} rows (checksum ${Keyed.checksum(got)}), " +
      s"model has ${want.size} (checksum ${Keyed.checksum(want)})")
  }

  def detail(windowS: Double): Map[String, Any] = {
    val (bytes, files) = Keyed.bytesUnder(root)
    Map("rows_offered" -> offered, "rows_appended" -> appended,
      "rows_per_s" -> offered / windowS, "live_rows" -> model.rows.size,
      "disk_bytes" -> bytes, "files" -> files,
      "disk_bytes_per_row" -> bytes.toDouble / (model.rows.size max 1),
      "dup_share" -> dupShare, "compactions" -> compactions)
  }

  def layers: Map[String, Double] = Map(
    "catalog.insert_accept_ratio" -> (if (offered == 0) 0.0 else appended.toDouble / offered),
    "catalog.pending_layers_at_read" ->
      (if (pendingAtRead.isEmpty) 0.0 else pendingAtRead.sum.toDouble / pendingAtRead.size),
    "catalog.compactions" -> compactions.toDouble,
    "storage.files" -> Keyed.bytesUnder(root)._2.toDouble)
}

/** `keyed_serve`: short reads against a standing keyed table that has two
  * pending delta layers (an upsert and a delete) on three of its eight
  * buckets, so both the connector's delta-free path and its merge path
  * serve requests.
  */
final class Serve(spark: SparkSession, run: Run, trace: Trace, work: String, seed: Long) {
  private val T = "sv"
  private val rnd = new Random(seed)
  private val gen = new Gen(rnd)
  private val model = new Model
  private var root = ""
  private var cat: KuduLikeCatalog = _
  private var pending = 0

  def setup(): Unit = {
    val initial = Seq.fill(30000)(gen.rec(gen.newKey()))
    model.insert(initial)
    val bucketOf = Keyed.keysDf(spark, initial.map(_.k))
      .select(col("k"), pmod(hash(col("k")), lit(Keyed.Buckets))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hot = initial.map(_.k).filter(k => bucketOf(k) < 3)
    def pick(n: Int) = Seq.fill(n)(hot(rnd.nextInt(hot.size))).distinct
    val upserts = pick(1200).map(k => gen.rec(k))
    val deletes = pick(300)
    model.upsert(upserts)
    model.delete(deletes)
    (1 to 3).foreach { i =>
      root = s"$work/serve_$i"
      val input = Keyed.df(spark, initial)
      cat = run.setup {
        val c = Keyed.catalog(spark, root, trace)
        c.createTable(Keyed.tableDef(T, bloomTenant = true))
        c.insert(T, input)
        c
      }
    }
    cat.upsert(T, Keyed.df(spark, upserts))
    cat.deleteKeys(T, Keyed.keysDf(spark, deletes))
    if (trace.enabled) pending = Keyed.pendingLayers(spark, root, T)
  }

  private lazy val total = model.rows.size.toLong
  private lazy val byTenant: Map[String, (Long, Long)] =
    model.rows.values.groupBy(_.tenant).map { case (t, rs) => t -> (rs.size.toLong, rs.map(_.k).sum) }

  private def rangeWant(m: Int, len: Int): (Long, Long) = {
    val rs = model.rows.values.filter(r =>
      r.tsMs >= Keyed.monthStart(m) && r.tsMs < Keyed.monthStart(m + len))
    (rs.size.toLong, rs.map(_.k).sum)
  }

  private def graft: DataFrame =
    trace.span("connector.load")(spark.read.format("graft").option("root", root).load(T))

  private def lookupCheck(k: Long)(rows: Array[Row]): Option[String] = {
    val got = rows.map(Keyed.fromRow).toSeq
    val want = model.rows.get(k).toSeq
    if (got == want) None else Some(s"lookup $k: got $got, model says $want")
  }

  private def pairCheck(what: String, want: (Long, Long))(r: Row): Option[String] = {
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    if (got == want) None else Some(s"$what: got $got, model says $want")
  }

  /** One block of requests, run in a seeded order: each lookup path with
    * two present keys and one absent key, each range path twice, and each
    * demo statement once. A fixed block keeps the request mix identical
    * across seeds; the seed picks keys, months and order.
    */
  private val block: Seq[(String, Int)] =
    Seq.tabulate(9)(i => ("lookup", i)) ++ Seq.tabulate(4)(i => ("range", i)) ++
      Seq.tabulate(3)(i => ("demo", i))

  /** Whole blocks until `seconds` have elapsed. */
  def loop(seconds: Int): Unit = {
    val t0 = System.nanoTime()
    val agg = Seq(count(lit(1)), sum(col("k")))
    while ((System.nanoTime() - t0) / 1e9 < seconds) rnd.shuffle(block).foreach {
      case ("lookup", i) =>
        val k = if (i >= 6) gen.absentKey() else model.liveKey(rnd)
        run.op("lookup") {
          val df = i % 3 match {
            case 0 => trace.span("catalog.lookup")(cat.lookup(T, k))
            case 1 => graft.filter(col("k") === k)
            case _ => trace.span("graftsql.select")(
              GraftSql.execute(spark, cat, s"SELECT * FROM $T WHERE k = $k"))
          }
          trace.span("exec")(df.collect())
        }(lookupCheck(k))
      case ("range", i) =>
        val len = 1 + rnd.nextInt(3)
        val m = rnd.nextInt(Keyed.Months - len + 1)
        val (from, to) = (new java.sql.Timestamp(Keyed.monthStart(m)),
          new java.sql.Timestamp(Keyed.monthStart(m + len)))
        run.op("range") {
          val df =
            if (i % 2 == 0) trace.span("catalog.lookup_range")(cat.lookupRange(T, from, to))
            else graft.filter(col("ts") >= lit(from) && col("ts") < lit(to))
          trace.span("exec")(df.agg(agg.head, agg.tail: _*).collect()).head
        }(pairCheck(s"range $m+$len", rangeWant(m, len)))
      case (_, i) =>
        val tenant = s"t${rnd.nextInt(Keyed.Tenants)}"
        val sql = i match {
          case 0 => s"SELECT count(*) FROM $T"
          case 1 => s"SELECT k FROM $T WHERE tenant = '$tenant'"
          case _ => s"SELECT tenant, count(*) FROM $T GROUP BY tenant"
        }
        run.op("demo") {
          val df = trace.span("graftsql.select")(GraftSql.execute(spark, cat, sql))
          trace.span("exec")(df.collect())
        } { rows =>
          val (got, want) = i match {
            case 0 => (rows.head.getLong(0), total)
            case 1 => ((rows.length.toLong, rows.map(_.getLong(0)).sum),
              byTenant.getOrElse(tenant, (0L, 0L)))
            case _ => (rows.map(x => x.getString(0) -> x.getLong(1)).toMap,
              byTenant.map { case (t, (n, _)) => t -> n })
          }
          if (got == want) None else Some(s"$sql: got $got, model says $want")
        }
    }
  }

  def detail: Map[String, Any] = Map("live_rows" -> model.rows.size)

  def layers: Map[String, Double] = Map(
    "catalog.insert_accept_ratio" -> 0.0,
    "catalog.pending_layers_at_read" -> pending.toDouble,
    "catalog.compactions" -> 0.0,
    "storage.files" -> Keyed.bytesUnder(root)._2.toDouble)
}
