package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What a timed op hands back for checking after its window closes. */
sealed trait Result
final case class Rows(schema: StructType, rows: Array[Row]) extends Result
final case class Written(path: String) extends Result
case object Done extends Result

/** One timed operation. `run` is the timed part; `check` turns its result
  * into the record the oracle (oracle.py) checks, outside the window.
  * `family` names the engine module doing the work, `kind` is read or
  * write; `srcBytes` is the size of the rows a write submits, the base
  * of write amplification. */
final case class Op(name: String, family: String, kind: String,
    run: Ctx => Result, check: Result => Map[String, Any], srcBytes: Long = 0L)

/** A workload: set-up and a seeded stream of passes. Every `cycle`
  * consecutive passes run the same multiset of op templates, so a
  * measured window of whole cycles has the same mix on every run. */
trait Workload {
  val cycle: Int = 1
  /** Registration, fixtures and tables. Returns ops the runner logs for
    * the oracle (the replay of a keyed table's creation). */
  def setup(ctx: Ctx): Seq[Op]
  /** The ops of pass `n`; literals, key sets and order come from `rng`. */
  def pass(ctx: Ctx, rng: scala.util.Random, n: Int): Seq[Op]
  /** Untimed end-of-run checks (for example a table's final state). */
  def finish(ctx: Ctx): Seq[(String, Map[String, Any])] = Nil
}

/** The harness's handle on the engine. Every call into an engine layer
  * goes through a named span, so the traced run can split time by layer. */
final class Ctx(val spark: SparkSession, val dir: String, val out: String,
    val trace: Trace) {
  private val sc = spark.sparkContext
  /** Id of the running op; names its output so every output survives
    * until the oracle has checked it. */
  var opId = 0L
  /** Called with every DataFrame about to be written (tracing hook). */
  var onWrite: DataFrame => Unit = _ => ()

  def span[T](name: String)(body: => T): T = trace.span(name) {
    val prev = sc.getLocalProperty(Collector.SpanKey)
    if (trace.enabled) sc.setLocalProperty(Collector.SpanKey, trace.current.toString)
    try body finally sc.setLocalProperty(Collector.SpanKey, prev)
  }

  def load(table: String): DataFrame =
    span("sources.load")(graft.sources.Tables.load(spark, dir, table))
  /** Load tables and expose them under their names to YQL. */
  def views(tables: String*): Unit = span("sources.load") {
    tables.foreach(t =>
      graft.sources.Tables.load(spark, dir, t).createOrReplaceTempView(t))
  }
  def ql(query: String, catalog: Map[String, DataFrame],
      placeholders: Map[String, Any]): DataFrame =
    span("ql.build")(graft.ql.SelectRows(spark, query, catalog, placeholders))
  def yql(query: String): DataFrame =
    span("functions.build")(graft.functions.YqlSql.sql(spark, query))
  def build[T](body: => T): T = span("operators.build")(body)

  def collect(df: DataFrame): Rows = span("exec.action")(Rows(df.schema, df.collect()))
  def write(df: DataFrame, name: String): Written = span("exec.action") {
    val p = s"$out/${name}_$opId"
    onWrite(df)
    df.write.mode("overwrite").parquet(p)
    Written(p)
  }
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  /** Heap in use after a full GC. The second GC reclaims what Spark's
    * cleaner thread released after the first (broadcast blocks, shuffle
    * state of collected plans). */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workloads(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val warmup = arg(args, "warmup").toInt
    val traced = arg(args, "trace") == "1"
    val dir = arg(args, "data")
    val out = arg(args, "out")
    val setups = arg(args, "setups").toInt
    new File(out).mkdirs()
    val opsOut = new PrintWriter(new File(out, "ops.jsonl"), "UTF-8")
    val trace = new Trace(enabled = false)

    // Set-up runs `setups` times, each on a fresh session; the first
    // one is timed from JVM start. The last set-up's records are logged,
    // since later ops (keyed-table writes) build on its effects.
    var spark: SparkSession = null
    var ctx: Ctx = null
    var setupRecs: Seq[String] = Nil
    val setupS = (0 until setups).map { i =>
      val t0 = if (i == 0) jvmStartMs * 1e6 else System.currentTimeMillis() * 1e6
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = graft.GraftSession.get()
      graft.GraftSession.tuneShuffleFor(spark, dir)
      ctx = new Ctx(spark, dir, out, trace)
      setupRecs = wl.setup(ctx).map(op => Json(Map("name" -> op.name, "warm" -> true,
        "check" -> op.check(op.run(ctx)))))
      (System.currentTimeMillis() * 1e6 - t0) / 1e9
    }
    setupRecs.foreach(opsOut.println)
    // A fixed number of untimed warm-up passes, so JIT, relation caches
    // and lazy set-up settle before timing, equally on a fast and a slow
    // host. They run the same literals and order on every seed, so the
    // JIT compiles from the same profile. Their outputs are checked like
    // any other.
    val warmRng = new scala.util.Random(0x5eedL)
    var warmOps = 0L
    (1 to warmup).foreach { wp =>
      wl.pass(ctx, warmRng, -wp).foreach { op =>
        warmOps += 1
        ctx.opId = -warmOps
        val res = try Right(op.run(ctx)) catch { case e: Throwable => Left(e) }
        opsOut.println(Json(Map("name" -> op.name, "warm" -> true) ++ outcome(op, res)))
      }
    }

    val collector = new Collector(trace)
    if (traced) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
      ctx.onWrite = df => if (trace.enabled) collector.analyzed(df.queryExecution)
    }
    val sc = spark.sparkContext
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val heap = mutable.ArrayBuffer[Double](heapAfterGcMb())
    var opId = 0L
    val t0 = System.nanoTime()
    var n = 0
    // Whole cycles until `seconds` have elapsed. Traced runs alternate
    // untraced and traced cycles and run at least one of each, so the
    // tracing overhead is measured in the same process on the same mix.
    def more = n % wl.cycle != 0 || n == 0 || (traced && n < 2 * wl.cycle) ||
      (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      val tracedPass = traced && (n / wl.cycle) % 2 == 1
      trace.enabled = tracedPass
      var passMs = 0.0
      wl.pass(ctx, rng, n).foreach { op =>
        opId += 1
        trace.currentTrace = opId
        ctx.opId = opId
        if (trace.enabled) {
          sc.setLocalProperty(Collector.OpKey, opId.toString)
          collector.take()
        }
        val gc0 = gcMs()
        val start = System.nanoTime()
        val res = try Right(trace.span("op")(op.run(ctx)))
          catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - start) / 1e6
        val gc = gcMs() - gc0
        sc.setLocalProperty(Collector.OpKey, null)
        passMs += ms
        val layers: Map[String, Any] =
          if (!trace.enabled) Map.empty
          else {
            collector.sync(spark)
            val (stats, phases) = collector.take()
            val mine = trace.spansOf(opId).filterNot(_.name.startsWith("spark."))
            phases.foreach { case (name, s, e) =>
              val parent = mine.filter(p => p.start <= s && s <= p.end)
                .sortBy(-_.start).headOption.map(_.id).getOrElse(0L)
              trace.record(trace.newId(), parent, opId, name, s, e)
            }
            res.foreach { case r: Rows => stats.add("output.rows", r.rows.length); case _ => }
            stats.add("dyn.source_bytes", op.srcBytes)
            stats.counts.toMap ++ Map("exec.task_skew" -> stats.skew)
          }
        opsOut.println(Json(Map("i" -> opId, "name" -> op.name, "family" -> op.family,
          "kind" -> op.kind, "pass" -> n, "ms" -> ms, "gc_ms" -> gc,
          "traced" -> trace.enabled, "layers" -> layers) ++ outcome(op, res)))
      }
      trace.enabled = false
      passes += Map("ms" -> passMs, "traced" -> tracedPass)
      heap += heapAfterGcMb()
      n += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    wl.finish(ctx).foreach { case (name, check) =>
      opsOut.println(Json(Map("name" -> name, "final" -> true, "check" -> check)))
    }
    opsOut.close()

    if (traced) {
      val sw = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
      trace.spans.foreach(s => sw.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start" -> s.start, "end" -> s.end))))
      sw.close()
    }
    val summary = new PrintWriter(new File(out, "summary.json"), "UTF-8")
    summary.println(Json(Map("setup_s" -> setupS, "passes" -> passes,
      "heap_after_gc_mb" -> heap, "measured_s" -> measuredS,
      "cores" -> sc.defaultParallelism)))
    summary.close()
    spark.stop()
  }

  /** The error and check fields of an op's record. */
  private def outcome(op: Op, res: Either[Throwable, Result]): Map[String, Any] = res match {
    case Left(e) =>
      Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000),
        "check" -> Map("type" -> "error"))
    case Right(r) =>
      val check = try op.check(r)
        catch { case e: Throwable => Map("type" -> "error", "message" -> s"check: $e") }
      Map("error" -> null, "check" -> check)
  }

  /** Rows as a JSON-ready check record; types use DuckDB's names. */
  def rowsRecord(r: Rows, oracle: String, extra: Map[String, Any] = Map.empty): Map[String, Any] = {
    val cols = r.schema.fields.map(f => Seq(f.name, duckType(f.dataType))).toSeq
    val rows = r.rows.map(row => r.schema.fields.indices.map(i => jsonValue(row.get(i))))
    Map("type" -> "rows", "cols" -> cols, "rows" -> rows.toSeq, "oracle" -> oracle) ++ extra
  }

  def duckType(t: DataType): String = t match {
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case DoubleType | FloatType | _: DecimalType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case _ => "VARCHAR"
  }

  /** Timestamps as epoch microseconds, dates as epoch days. */
  def jsonValue(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime =>
      jsonValue(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case n: Number => n
    case b: Boolean => b
    case other => other.toString
  }
}
