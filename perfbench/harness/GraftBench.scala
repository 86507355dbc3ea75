package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry, StealGate}
import graft.operators.{Fusion, Incremental}
import graft.sources.Sink

/** JVM side of the benchmark (see perfbench/README.md). One process,
  * one closed-loop client, one SparkSession at local[cpus]. It times
  * the public calls into graft's layers from outside and, in a traced
  * run, attaches its own SparkListener for engine counters. Everything
  * it measures goes to one JSON file; perfbench/run.py turns that into
  * metrics. After the loop it digests the expected results (parquet
  * files in <expectDir>, written by DuckDB) with the same Digest as the
  * ops, so run.py only compares digests.
  *
  * Usage:
  *   GraftBench oracles <out.json> <name>...
  *   GraftBench run <workload> <dataDir> <workDir> <out.json> <seconds>
  *                  <trace 0|1> <cpus> <expectDir> [<opsFile>]
  */
object GraftBench {

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: names =>
      val m = SparkEntry.oracleSql
      Files.write(Paths.get(out), Json(names.map(n => n -> m.get(n)).toMap)
        .getBytes(StandardCharsets.UTF_8))
    case "run" :: workload :: data :: work :: out :: secs :: trace :: cpus ::
        expect :: rest =>
      val w = Workload(workload, rest.headOption)
      val res = new Run(w, data, work, secs.toDouble, trace == "1", cpus.toInt,
        expect).apply()
      Files.write(Paths.get(out), Json(res).getBytes(StandardCharsets.UTF_8))
    case _ =>
      System.err.println("usage: GraftBench oracles|run ...")
      sys.exit(2)
  }
}

/** Order-insensitive result digest: row count plus the wrapping sum of
  * each row's MD5 prefix. Cells are canonicalized in sorted column
  * order; every number (integral, decimal or floating) becomes its
  * shortest round-tripping decimal `digits e exponent`, so 3, 3.0 and
  * DECIMAL 3.00 agree, as they do in tools/check.py.
  */
object Digest {
  def number(v: JBigDecimal): String =
    if (v.signum == 0) "0"
    else {
      val s = v.stripTrailingZeros
      (if (s.signum < 0) "-" else "") + s.unscaledValue.abs.toString + "e" + (-s.scale)
    }

  def double(d: Double): String =
    if (d.isNaN) "NULL"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else {
      val exact = new JBigDecimal(d)
      var p = 1
      var r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
      while (r.doubleValue != d) {
        p += 1
        r = exact.round(new MathContext(p, RoundingMode.HALF_EVEN))
      }
      number(r)
    }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def cell(g: SpecializedGetters, i: Int, t: DataType): String =
    if (g.isNullAt(i)) "NULL"
    else t match {
      case BooleanType => g.getBoolean(i).toString
      case ByteType => g.getByte(i).toString
      case ShortType => g.getShort(i).toString
      case IntegerType => number(JBigDecimal.valueOf(g.getInt(i).toLong))
      case LongType => number(JBigDecimal.valueOf(g.getLong(i)))
      case FloatType => double(g.getFloat(i).toDouble)
      case DoubleType => double(g.getDouble(i))
      case d: DecimalType => number(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case _: StringType => g.getUTF8String(i).toString
      case DateType => java.time.LocalDate.ofEpochDay(g.getInt(i).toLong).toString
      case TimestampType | TimestampNTZType =>
        val us = g.getLong(i)
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
          .format(tsFmt)
      case BinaryType => g.getBinary(i).map("%02x".format(_)).mkString
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        (0 until a.numElements()).map(j => cell(a, j, et)).mkString("[", ",", "]")
      case s: StructType =>
        val r = g.getStruct(i, s.length)
        s.fields.indices.map(j => cell(r, j, s.fields(j).dataType)).mkString("{", ",", "}")
      case other => g.get(i, other).toString
    }

  /** (rows, hash as unsigned decimal, sorted column names). One job,
    * run as a SQL execution as a Dataset action would be, so its plan
    * reaches the SQL listener events.
    */
  def apply(df: DataFrame): (Long, String, Seq[String]) = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(schema.fields(_).name).toArray
    val types = schema.fields.map(_.dataType)
    val qe = df.queryExecution
    val (n, h) = SQLExecution.withNewExecutionId(qe, Some("digest"))(qe.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var h = 0L
      it.foreach { row =>
        val s = order.map(i => cell(row, i, types(i))).mkString("\u001f")
        h += java.nio.ByteBuffer.wrap(md.digest(s.getBytes(StandardCharsets.UTF_8))).getLong
        n += 1
      }
      Iterator((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2)))
    (n, java.lang.Long.toUnsignedString(h), order.map(schema.fields(_).name).toSeq)
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  private def quote(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
      .quoteAsString(s)) + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Spans of the traced run, kept in memory: name, start, end (epoch
  * ms) and the op id that caused them. Untraced, a span only times.
  */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  var op: Int = -1

  def apply[A](name: String, into: mutable.Map[String, Any])(body: => A): A = {
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - n0) / 1e9
    into(s"${name}_s") = sec
    if (on) spans += Map("name" -> name, "op" -> op, "t0" -> t0,
      "t1" -> System.currentTimeMillis())
    a
  }
}

/** Spark-engine counters. Jobs and SQL executions are attributed to
  * ops later by time window, stages through the job that ran them.
  */
final class Ledger extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val open = mutable.Map.empty[Int, mutable.Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = mutable.Map[String, Any]("id" -> e.jobId, "t0" -> e.time, "t1" -> -1L,
      "stages" -> e.stageIds)
    open(e.jobId) = j
    jobs += j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_("t1") = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages += Map(
      "id" -> si.stageId, "tasks" -> si.numTasks,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_bytes" -> m.inputMetrics.bytesRead,
      "in_rows" -> m.inputMetrics.recordsRead)
  }

  /** Shuffle exchanges of every SQL execution, from its final
    * (post-AQE) plan, keyed by execution id: (start ms, exchanges).
    */
  val sql = mutable.LinkedHashMap.empty[Long, (Long, Int)]

  private def exchanges(p: SparkPlanInfo): Int =
    if (p.nodeName.startsWith("ReusedExchange")) 0
    else (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(exchanges).sum

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sql(s.executionId) = (s.time, exchanges(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        sql.get(u.executionId).foreach(v => sql(u.executionId) = (v._1, exchanges(u.sparkPlanInfo)))
      case _ =>
    }
  }

  def openJobs: Int = synchronized(open.size)
  def snapshot: (Seq[Map[String, Any]], Seq[Map[String, Any]], Seq[Map[String, Any]]) =
    synchronized((jobs.map(_.toMap).toSeq, stages.toSeq,
      sql.values.map { case (t, n) => Map[String, Any]("t0" -> t, "exchanges" -> n) }.toSeq))
}

/** The largest heap in use right after a collection, from JVM start to
  * the end of the loop: the data the engine keeps. The heap is pre-touched, so VmHWM does
  * not follow heap use; this does.
  */
object LiveHeap {
  private var max = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { max = math.max(max, after) }
      }, null, null)
    case _ =>
  }

  def peak: Long = synchronized(max)
}

/** One workload: the warm-up before the loop and the timed op. An op
  * records under "expect" the name of the expected result it must
  * equal: `<expectDir>/<name>.parquet`.
  */
trait Workload {
  def name: String
  def warm(spark: SparkSession, data: String, work: String): Unit
  def op(spark: SparkSession, i: Int, data: String, work: String, tr: Tracer,
      rec: mutable.Map[String, Any]): (Long, String, Seq[String])
  /** Ops before the loop may stop (whole cycles for a query mix). */
  def cycle: Int = 1
}

object Workload {
  def apply(name: String, opsFile: Option[String]): Workload = name match {
    case "fusion_etl" => new FusionEtl(opsFile.get)
    case "analytics_mix" => new AnalyticsMix(
      new String(Files.readAllBytes(Paths.get(opsFile.get)), StandardCharsets.UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty).toIndexedSeq)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Data files under a landed table: (files, bytes). */
  def files(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).toArray.map(_.asInstanceOf[Path])
      (fs.length.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}

/** fusion_etl: land the fusion flow partitioned by case_year, stage
  * the incoming snapshot (the landed table with op i's change feed
  * applied), reload it through Incremental.run, read the table back.
  */
final class FusionEtl(feedPath: String) extends Workload {
  val name = "fusion_etl"
  private var feeds = 0

  /** Six ops: the first compiles (about 8 s), the rest let the JIT
    * catch up; op times level off from the fifth op on.
    */
  def warm(spark: SparkSession, data: String, work: String): Unit = {
    feeds = spark.read.parquet(feedPath).select("feed_op").distinct().count().toInt
    for (i <- 0 until 6) op(spark, i, data, work, new Tracer(false), mutable.Map.empty)
  }

  def op(spark: SparkSession, i: Int, data: String, work: String, tr: Tracer,
      rec: mutable.Map[String, Any]): (Long, String, Seq[String]) = {
    val target = s"$work/fusion_target"
    val staged = s"$work/fusion_incoming"
    val fused = tr("operators.call", rec)(Fusion.fusionEtl(spark, data))
    tr("sources.write", rec)(Sink.overwrite(fused, target, Seq("case_year")))
    if (tr.on) {
      val (f, b) = Workload.files(target)
      rec("sources.output_files") = f; rec("sources.output_bytes") = b
    }
    val f = i % feeds
    rec("expect") = s"feed-$f"
    val feed = spark.read.parquet(feedPath).filter(col("feed_op") === f)
    val schema = Fusion.fusionTargetSchema.fields.toIndexedSeq
    val kept = spark.read.parquet(target)
      .join(feed.filter(col("kind") =!= "I").select("o_orderkey"), Seq("o_orderkey"), "left_anti")
    val incoming = kept.select(schema.map(c => col(c.name).cast(c.dataType)): _*)
      .unionByName(feed.filter(col("kind") =!= "D")
        .select(schema.map(c => col(c.name).cast(c.dataType)): _*))
    tr("stage", rec)(Sink.overwrite(incoming, staged))
    val (parts, rows) = tr("operators.incremental", rec)(Incremental.run(
      spark, target, spark.read.parquet(staged), Seq("o_orderkey"), "case_year"))
    rec("operators.changed_parts") = parts; rec("operators.rows_rewritten") = rows
    tr("check", rec)(Digest(spark.read.parquet(target)))
  }
}

/** analytics_mix: read-only queries in the seed's order, one per op,
  * each executed once with its rows digested in the same pass.
  */
final class AnalyticsMix(order: IndexedSeq[String]) extends Workload {
  val name = "analytics_mix"
  private val distinct = order.distinct
  override def cycle: Int = distinct.size

  def warm(spark: SparkSession, data: String, work: String): Unit =
    distinct.foreach(q => Digest(SparkEntry.queries(q)(spark, data)))

  def op(spark: SparkSession, i: Int, data: String, work: String, tr: Tracer,
      rec: mutable.Map[String, Any]): (Long, String, Seq[String]) = {
    val q = order(i % order.size)
    rec("query") = q; rec("expect") = q
    val df = tr("operators.call", rec)(SparkEntry.queries(q)(spark, data))
    // Planning forced ahead of execution, so it is timed on its own.
    tr("plans.plan", rec)(df.queryExecution.executedPlan)
    tr("execute", rec)(Digest(df))
  }
}

final class Run(w: Workload, data: String, work: String, seconds: Double,
    traced: Boolean, cpus: Int, expectDir: String) {

  private def session(): SparkSession = {
    val s = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def procStat(): (Long, Long) = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().trim.split("\\s+")
    (StealGate.stealNow(), f(5).toLong)
  } catch { case _: Exception => (-1L, -1L) }

  private def loadavg(): String = try {
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
  } catch { case _: Exception => "" }

  private def vmHwmKb(): Long = try {
    new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case _: Exception => -1L }

  /** Closed loop until `deadline` (ms) has passed and at least
    * `cycles` whole cycles are done.
    */
  private def loop(spark: SparkSession, tr: Tracer, first: Int, deadline: Long,
      cycles: Int, phase: String): Seq[Map[String, Any]] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = first
    while (System.currentTimeMillis() < deadline || i - first < cycles * w.cycle ||
        (i - first) % w.cycle != 0) {
      val rec = mutable.LinkedHashMap[String, Any]("id" -> i, "phase" -> phase)
      tr.op = i
      val s0 = StealGate.stealNow()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try {
        val (n, h, cols) = w.op(spark, i, data, work, tr, rec)
        rec("rows") = n; rec("hash") = h; rec("cols") = cols
      } catch {
        case e: Throwable =>
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
      }
      val sec = (System.nanoTime() - n0) / 1e9
      val steal = StealGate.delta(s0, StealGate.stealNow())
      rec("wall_s") = sec
      rec("t0") = t0; rec("t1") = System.currentTimeMillis()
      // StealGate's rate without its long-window floor: an op is quiet
      // when the hypervisor took less than `rate` jiffies per second.
      rec("steal_jiffies") = steal
      rec("quiet") = steal >= 0 && steal <= StealGate.rate * sec
      ops += rec.toMap
      i += 1
    }
    ops.toSeq
  }

  def apply(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    LiveHeap.install()
    val (steal0, iow0) = procStat()
    val load0 = loadavg()
    // Set-up, timed from JVM start to the first timed op: the session,
    // then a warm-up on the measured corpus, so the loop starts with
    // plans compiled, the JIT past its first tiers and caches filled.
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    w.warm(spark, data, work)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tr = new Tracer(false)
    val ms = (seconds * 1000).toLong
    val ledger = new Ledger
    // Two whole cycles at least, so a slow host cannot halve a run's
    // sample of a query mix.
    val ops = if (!traced) loop(spark, tr, 0, System.currentTimeMillis() + ms, 2, "untraced")
    else {
      // A third of the window untraced, the rest traced: the ratio of
      // their median op times is the tracing overhead.
      val a = loop(spark, tr, 0, System.currentTimeMillis() + ms / 3, 1, "untraced")
      tr.on = true
      spark.sparkContext.addSparkListener(ledger)
      val b = loop(spark, tr, a.size, System.currentTimeMillis() + ms - ms / 3, 1, "traced")
      // Drain the listener bus: every started job has ended and no
      // event arrived for half a second.
      var quiet = 0
      var seen = -1
      val give = System.currentTimeMillis() + 10000
      while (quiet < 5 && System.currentTimeMillis() < give) {
        Thread.sleep(100)
        val (j, st, q) = ledger.snapshot
        val now = j.size + st.size + q.size
        if (ledger.openJobs == 0 && now == seen) quiet += 1 else quiet = 0
        seen = now
      }
      spark.sparkContext.removeSparkListener(ledger)
      a ++ b
    }
    val (steal1, iow1) = procStat()
    val (jobs, stages, sql) = ledger.snapshot
    val peakRssKb = vmHwmKb()
    val peakLiveHeap = LiveHeap.peak
    // The expected results, digested after the loop so they cost no
    // set-up or op time and run no job inside the ledger.
    val expected = ops.flatMap(_.get("expect")).distinct.map { e =>
      val (n, h, cols) = Digest(spark.read.parquet(s"$expectDir/$e.parquet"))
      e.toString -> Map("rows" -> n, "hash" -> h, "cols" -> cols)
    }.toMap
    val res = Map[String, Any](
      "workload" -> w.name, "cpus" -> cpus, "traced" -> traced,
      "setup_s" -> setupS, "session_s" -> sessionS, "ops" -> ops,
      "expected" -> expected,
      "jobs" -> jobs, "stages" -> stages, "sql" -> sql, "spans" -> tr.spans.toSeq,
      "peak_rss_kb" -> peakRssKb, "peak_live_heap_bytes" -> peakLiveHeap,
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "steal_jiffies" -> StealGate.delta(steal0, steal1),
        "iowait_jiffies" -> (if (iow0 < 0 || iow1 < 0) -1L else iow1 - iow0),
        "loadavg_start" -> load0, "loadavg_end" -> loadavg()))
    spark.stop()
    res
  }
}
