package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, DynTable, Operations, TextAnalysis}

/** The benchmark's workloads. Every op checks against DuckDB SQL over the
  * same corpus (oracle.py); the SQL below is that oracle, written with the
  * same seeded literals as the engine call. */
object Workloads {
  def apply(name: String): Workload = name match {
    case "interactive" => Interactive
    case "batch" => Batch
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rowsOp(name: String, family: String, oracle: String)(
      build: Ctx => DataFrame): Op =
    Op(name, family, "read", ctx => ctx.collect(build(ctx)),
      r => Main.rowsRecord(r.asInstanceOf[Rows], oracle))

  /** A job whose output is written; `sortedBy` asks the oracle to also
    * check the global order of the written files. */
  def writeOp(name: String, family: String, oracle: String,
      sortedBy: Seq[(String, Boolean)] = Nil)(build: Ctx => DataFrame): Op =
    Op(name, family, "write", ctx => ctx.write(build(ctx), name),
      r => Map("type" -> "parquet", "path" -> r.asInstanceOf[Written].path,
        "oracle" -> oracle,
        "sorted_by" -> sortedBy.map { case (c, desc) => Seq(c, desc) }))

  /** An approximate near-duplicate job: the oracle recomputes the
    * Jaccard similarity of every returned pair (`spec`: threshold and
    * word n-gram size). */
  def pairsOp(name: String, family: String, spec: Map[String, Any])(
      build: Ctx => DataFrame): Op =
    Op(name, family, "write", ctx => ctx.write(build(ctx), name),
      r => Map("type" -> "pairs", "path" -> r.asInstanceOf[Written].path) ++ spec)

  def sqlList(xs: Seq[Any]): String = xs.map {
    case s: String => s"'$s'"
    case x => x.toString
  }.mkString("(", ", ", ")")

  def isoDay(rng: Random, from: String, span: Int): String =
    java.time.LocalDate.parse(from).plusDays(rng.nextInt(span)).toString

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
}

import Workloads._

/** The interactive surface: short QL SelectRows and YQL queries over the
  * base corpus, beside reads and writes on a keyed table ([[KeyedTable]]).
  * A pass runs every query template once, four keyed reads, two write
  * verbs and two log ops (see [[KeyedTable.ops]]), in a seeded order with
  * seeded literals; two passes make a cycle that runs all four verbs.
  * Range literals keep a fixed width, so the seed moves which rows
  * qualify, not how many. */
object Interactive extends Workload {
  override val cycle = 2
  private val Tables = Seq("orders", "customer", "nation", "lineitem", "events")

  private def cat(ctx: Ctx, ts: String*): Map[String, DataFrame] =
    ts.map(t => s"//bench/$t" -> ctx.load(t)).toMap

  def setup(ctx: Ctx): Seq[Op] = {
    Tables.foreach(ctx.load)
    KeyedTable.setup(ctx)
  }

  def pass(ctx: Ctx, rng: Random, n: Int): Seq[Op] =
    rng.shuffle(templates ++ KeyedTable.ops(n)).map(_(rng))

  override def finish(ctx: Ctx): Seq[(String, Map[String, Any])] = KeyedTable.finish(ctx)

  private val templates: Seq[Random => Op] = Seq(
    rng => {
      val keys = Seq.fill(12)(rng.nextInt(150000).toLong).distinct
      rowsOp("ql_point_in", "ql",
        s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
           |WHERE o_orderkey IN ${sqlList(keys)}""".stripMargin) { ctx =>
        ctx.ql("o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
          "FROM [//bench/orders] WHERE o_orderkey IN {keys}",
          cat(ctx, "orders"), Map("keys" -> keys))
      }
    },
    rng => {
      val lo = isoDay(rng, "1995-01-01", 2300)
      val hi = java.time.LocalDate.parse(lo).plusDays(30).toString
      rowsOp("ql_range_order_limit", "ql",
        s"""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
           |WHERE o_orderdate >= TIMESTAMP '$lo' AND o_orderdate < TIMESTAMP '$hi'
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { ctx =>
        ctx.ql("o_orderkey, o_orderdate, o_totalprice FROM [//bench/orders] " +
          "WHERE o_orderdate >= {lo} AND o_orderdate < {hi} " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
          cat(ctx, "orders"), Map("lo" -> lo, "hi" -> hi))
      }
    },
    rng => {
      val c = rng.nextInt(12000)
      rowsOp("ql_group_totals", "ql",
        s"""SELECT o_orderpriority, SUM(o_totalprice) AS total, COUNT(*) AS cnt
           |FROM orders WHERE o_custkey BETWEEN $c AND ${c + 3000}
           |GROUP BY ROLLUP (o_orderpriority)""".stripMargin) { ctx =>
        ctx.ql("o_orderpriority, SUM(o_totalprice) AS total, SUM(1) AS cnt " +
          "FROM [//bench/orders] WHERE o_custkey BETWEEN {c} AND {c2} " +
          "GROUP BY o_orderpriority WITH TOTALS",
          cat(ctx, "orders"), Map("c" -> c, "c2" -> (c + 3000)))
      }
    },
    rng => {
      val st = Seq("F", "O", "P")(rng.nextInt(3))
      val bal = rng.nextInt(8000).toDouble
      rowsOp("ql_join_group", "ql",
        s"""SELECT c_mktsegment AS seg, SUM(o_totalprice) AS total, COUNT(*) AS cnt
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE o_orderstatus = '$st' AND c_acctbal BETWEEN $bal AND ${bal + 3000}
           |GROUP BY c_mktsegment""".stripMargin) { ctx =>
        ctx.ql("C.c_mktsegment AS seg, SUM(O.o_totalprice) AS total, SUM(1) AS cnt " +
          "FROM [//bench/orders] AS O JOIN [//bench/customer] AS C " +
          "ON O.o_custkey = C.c_custkey " +
          "WHERE O.o_orderstatus = {st} AND C.c_acctbal BETWEEN {bal} AND {bal2} " +
          "GROUP BY C.c_mktsegment",
          cat(ctx, "orders", "customer"), Map("st" -> st, "bal" -> bal, "bal2" -> (bal + 3000)))
      }
    },
    rng => {
      val et = Seq("click", "error", "purchase", "signup", "view")(rng.nextInt(5))
      val u = rng.nextInt(1000)
      rowsOp("ql_any_accessor", "ql",
        s"""SELECT CAST(json_extract(props, '$$.k') AS BIGINT) AS k, COUNT(*) AS cnt,
           |SUM(value) AS v FROM events
           |WHERE event_type = '$et' AND user_id BETWEEN $u AND ${u + 500} GROUP BY 1""".stripMargin) { ctx =>
        ctx.ql("k, SUM(1) AS cnt, SUM(value) AS v FROM [//bench/events] " +
          "WHERE event_type = {et} AND user_id BETWEEN {u} AND {u2} " +
          "GROUP BY try_get_int64(props, '/k') AS k",
          cat(ctx, "events"), Map("et" -> et, "u" -> u, "u2" -> (u + 500)))
      }
    },
    rng => {
      val seg = Segments(rng.nextInt(5))
      val sql =
        s"""SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
           |  SELECT c_nationkey, c_custkey, c_acctbal,
           |    RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
           |  FROM customer WHERE c_mktsegment = '$seg') AS t
           |WHERE rk <= 3""".stripMargin
      rowsOp("yql_window_rank", "yql", sql) { ctx =>
        ctx.views("customer"); ctx.yql(sql)
      }
    },
    rng => {
      val p = rng.nextInt(15000)
      val sql =
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, SUM(l_quantity) AS qty
           |FROM lineitem WHERE l_partkey BETWEEN $p AND ${p + 5000}
           |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin
      rowsOp("yql_rollup", "yql", sql) { ctx =>
        ctx.views("lineitem"); ctx.yql(sql)
      }
    },
    rng => {
      val x = rng.nextInt(350000)
      val range = s"o_totalprice BETWEEN $x AND ${x + 150000}"
      rowsOp("yql_some_key", "yql",
        s"""SELECT o_orderpriority AS prio, o_orderpriority AS witness, COUNT(*) AS cnt
           |FROM orders WHERE $range GROUP BY o_orderpriority""".stripMargin) { ctx =>
        ctx.views("orders")
        ctx.yql(s"""SELECT o_orderpriority AS prio, SOME(o_orderpriority) AS witness,
                   |COUNT(*) AS cnt FROM orders WHERE $range
                   |GROUP BY o_orderpriority""".stripMargin)
      }
    },
    rng => {
      val x = rng.nextInt(7000)
      val sql =
        s"""SELECT n.n_name AS n_name, COUNT(*) AS cnt, SUM(c.c_acctbal) AS bal
           |FROM customer AS c JOIN nation AS n ON c.c_nationkey = n.n_nationkey
           |WHERE c.c_acctbal BETWEEN $x AND ${x + 3000} GROUP BY n.n_name""".stripMargin
      rowsOp("yql_join", "yql", sql) { ctx =>
        ctx.views("customer", "nation"); ctx.yql(sql)
      }
    })
}

/** Batch jobs over the base corpus: the MapReduce operation family,
  * external-process pipes in both wire formats, a QL pricing summary over
  * all of lineitem, a five-way YQL join, and the LLM-pipeline operators (MinHash dedup, exact embedding dedup,
  * Gopher quality rules). A pass runs the job list in a seeded order
  * with seeded filter constants and input subsets. */
object Batch extends Workload {
  def setup(ctx: Ctx): Seq[Op] = {
    Seq("orders", "lineitem", "customer", "supplier", "nation", "region", "documents",
      "embeddings").foreach(ctx.load)
    Nil
  }

  def pass(ctx: Ctx, rng: Random, n: Int): Seq[Op] = {
    val st = Seq("F", "O", "P")(rng.nextInt(3))
    val disc = rng.nextInt(11) / 100.0
    val prio = Priorities(rng.nextInt(5))
    val flag = Seq("A", "N", "R")(rng.nextInt(3))
    val line = 1 + rng.nextInt(7)
    val region = Regions(rng.nextInt(5))
    val year = 1995 + rng.nextInt(6)
    val shipped = isoDay(rng, "2001-01-01", 365)
    val sources = rng.shuffle((0 until 20).map(i => s"src$i")).take(8).sorted
    val srcSql = sqlList(sources)
    def docs(ctx: Ctx) = ctx.load("documents").where(col("source").isin(sources: _*))
    val labels = rng.shuffle((0 until 10).toList).take(6).sorted
    rng.shuffle(Seq(
      writeOp("op_sort", "mapreduce",
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = '$st'",
        sortedBy = Seq("o_totalprice" -> true, "o_orderkey" -> false)) { ctx =>
        val in = ctx.load("orders").where(col("o_orderstatus") === st)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        ctx.build(Operations.sort(in, Seq(col("o_totalprice").desc, col("o_orderkey").asc)))
      },
      writeOp("op_map_reduce", "mapreduce",
        s"""SELECT l_suppkey % 100 AS bucket, COUNT(*) AS n,
           |SUM(CAST(l_quantity AS BIGINT)) AS qty FROM lineitem
           |WHERE l_discount = $disc GROUP BY 1""".stripMargin) { ctx =>
        val in = ctx.load("lineitem").where(col("l_discount") === disc)
          .select("l_suppkey", "l_quantity")
        val mapSchema = StructType(Seq(StructField("bucket", LongType),
          StructField("qty", LongType)))
        val outSchema = StructType(Seq(StructField("bucket", LongType),
          StructField("n", LongType), StructField("qty", LongType)))
        ctx.build(Operations.mapReduce(in,
          ((rows: Iterator[org.apache.spark.sql.Row]) => rows.map(r =>
            org.apache.spark.sql.Row(r.getLong(0) % 100, r.getDouble(1).toLong)), mapSchema),
          Seq("bucket"), Nil, None, outSchema) { (key, rows) =>
          var n = 0L; var q = 0L
          rows.foreach { r => n += 1; q += r.getLong(1) }
          Iterator(org.apache.spark.sql.Row(key.getLong(0), n, q))
        })
      },
      writeOp("op_join_reduce", "mapreduce",
        s"""SELECT l_orderkey, o_orderstatus AS status, COUNT(*) AS n_lines,
           |SUM(CAST(l_quantity AS BIGINT)) AS qty
           |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_returnflag = '$flag' GROUP BY l_orderkey, o_orderstatus""".stripMargin) { ctx =>
        val primary = ctx.load("lineitem").where(col("l_returnflag") === flag)
          .select("l_orderkey", "l_linenumber", "l_quantity")
        val foreign = ctx.load("orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
        val out = StructType(Seq(StructField("l_orderkey", LongType),
          StructField("status", StringType), StructField("n_lines", LongType),
          StructField("qty", LongType)))
        ctx.build(Operations.joinReduce(primary, foreign, Seq("l_orderkey"),
          Seq("l_linenumber"), out) { (key, rows) =>
          var n = 0L; var q = 0L; var status: String = null
          rows.foreach { r => n += 1; q += r.getDouble(2).toLong; status = r.getString(3) }
          Iterator(org.apache.spark.sql.Row(key.getLong(0), status, n, q))
        })
      },
      rowsOp("ql_pricing_summary", "ql",
        s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty,
           |SUM(l_extendedprice * (1 - l_discount)) AS revenue, COUNT(*) AS cnt
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$shipped'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin) { ctx =>
        ctx.ql("l_returnflag, l_linestatus, SUM(l_quantity) AS qty, " +
          "SUM(l_extendedprice * (1 - l_discount)) AS revenue, SUM(1) AS cnt " +
          "FROM [//bench/lineitem] WHERE l_shipdate <= {d} " +
          "GROUP BY l_returnflag, l_linestatus",
          Map("//bench/lineitem" -> ctx.load("lineitem")), Map("d" -> shipped))
      },
      writeOp("op_pipe_skiff", "pipes",
        s"""SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS qty
           |FROM lineitem WHERE l_linenumber = $line GROUP BY l_returnflag""".stripMargin) { ctx =>
        val in = ctx.load("lineitem").where(col("l_linenumber") === line)
          .select("l_orderkey", "l_returnflag", "l_quantity")
        ctx.build(graft.sources.Skiff.pipeMap(in, Seq("cat"), in.schema))
          .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
      },
      writeOp("op_pipe_protobuf", "pipes",
        s"""SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS total
           |FROM orders WHERE o_orderpriority = '$prio' GROUP BY o_orderstatus""".stripMargin) { ctx =>
        val in = ctx.load("orders").where(col("o_orderpriority") === prio)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        ctx.build(graft.sources.Proto.pipeMap(in, Seq("cat"), in.schema))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("total"))
      }, {
        val sql =
          s"""SELECT n.n_name AS n_name, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
             |COUNT(*) AS cnt
             |FROM customer AS c JOIN orders AS o ON c.c_custkey = o.o_custkey
             |JOIN lineitem AS l ON l.l_orderkey = o.o_orderkey
             |JOIN supplier AS s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
             |JOIN nation AS n ON s.s_nationkey = n.n_nationkey
             |JOIN region AS r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = '$region' AND o.o_orderdate >= TIMESTAMP '$year-01-01'
             |  AND o.o_orderdate < TIMESTAMP '${year + 1}-01-01'
             |GROUP BY n.n_name""".stripMargin
        rowsOp("yql_q5", "yql", sql) { ctx =>
          ctx.views("customer", "orders", "lineitem", "supplier", "nation", "region")
          ctx.yql(sql)
        }
      },
      pairsOp("llm_minhash", "dedup", Map("threshold" -> 0.7, "n" -> 3)) { ctx =>
        ctx.build(Dedup.minhashLsh(docs(ctx), "text", "doc_id", threshold = 0.7))
      },
      writeOp("llm_embedding_dedup", "dedup",
        s"""SELECT id_a, id_b, cos FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |    CAST(b.embedding AS DOUBLE[])), 4) AS cos
           |  FROM embeddings AS a JOIN embeddings AS b ON a.vec_id < b.vec_id
           |  WHERE a.label IN ${sqlList(labels)} AND b.label IN ${sqlList(labels)}) AS t
           |WHERE cos >= 0.95""".stripMargin) { ctx =>
        val vecs = ctx.load("embeddings").where(col("label").isin(labels: _*))
        ctx.build(Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", 0.95))
      },
      rowsOp("llm_quality", "text",
        s"""SELECT lang, COUNT(*) AS n_docs, SUM(n_words) AS words,
           |SUM(CASE WHEN n_words BETWEEN 50 AND 100000
           |  AND len_sum / n_words BETWEEN 3 AND 10 AND stops >= 2 THEN 1 ELSE 0 END) AS n_pass
           |FROM (SELECT lang, len(string_split(text, ' ')) AS n_words,
           |  list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS len_sum,
           |  len(list_distinct(list_filter(string_split(text, ' '),
           |    w -> w IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')))) AS stops
           |  FROM documents WHERE source IN $srcSql) AS t
           |GROUP BY lang""".stripMargin) { ctx =>
        val st = docs(ctx).select(col("lang"),
          ctx.build(TextAnalysis.gopherStats(col("text"))).as("g"))
        st.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(col("g.n_words")).as("words"),
          sum(when(TextAnalysis.gopherPass(col("g")), 1).otherwise(0)).as("n_pass"))
      }))
  }
}

/** A keyed table with a secondary index (YQL script DDL/DML) and a
  * versioned write log (DynTable). Writes and reads share the DynTable,
  * SecondaryIndex and sources layers; the log grows between compactions,
  * so moving merge work from writes to reads shows as a trade. */
object KeyedTable {
  private val Rows0 = 20000
  private val KeySpace = 25000
  private var ts = 1L
  private var compactedAt = 1L
  // the log is a directory of parquet files; each compaction writes a
  // new directory and drops the old one
  private var outDir = ""
  private var logDir = ""

  private def log(ctx: Ctx): DataFrame =
    ctx.span("sources.load")(ctx.spark.read.parquet(logDir))

  def setup(ctx: Ctx): Seq[Op] = {
    ts = 1L; compactedAt = 1L
    outDir = ctx.out
    logDir = s"$outDir/dyn_log_1"
    ctx.views("orders")
    graft.functions.YqlDml.dropTableDeep(ctx.spark, "kt")
    ctx.yql(s"""CREATE TABLE kt (k Int64, c Int64, v Int64, PRIMARY KEY (k));
               |INSERT INTO kt SELECT o_orderkey AS k, o_custkey AS c,
               |  o_custkey % 1000 AS v FROM orders WHERE o_orderkey < $Rows0;
               |ALTER TABLE kt ADD INDEX by_c GLOBAL ON (c);
               |SELECT COUNT(*) FROM kt""".stripMargin).collect()
    ctx.load("orders").where(col("o_orderkey") < Rows0)
      .select(col("o_orderkey").as("k"), lit(1L).as("ts"), lit(DynTable.OpUpsert).as("op"),
        col("o_custkey").as("c"), (col("o_custkey") % 1000).as("v"))
      .write.mode("overwrite").parquet(logDir)
    val init = Seq(
      s"""CREATE OR REPLACE TABLE kt (k BIGINT PRIMARY KEY, c BIGINT, v BIGINT)""",
      s"""INSERT INTO kt SELECT o_orderkey, o_custkey, o_custkey % 1000
         |FROM orders WHERE o_orderkey < $Rows0""".stripMargin,
      s"""CREATE OR REPLACE TABLE dlog AS SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS ts,
         |'upsert' AS op, o_custkey AS c, o_custkey % 1000 AS v
         |FROM orders WHERE o_orderkey < $Rows0""".stripMargin)
    Seq(Op("dyn_init", "dml", "write", _ => Done, _ => Map("type" -> "replay", "replay" -> init)))
  }

  private def keys(rng: Random, n: Int): Seq[Long] =
    Seq.fill(n)(rng.nextInt(KeySpace).toLong).distinct.sorted

  private def values(rng: Random, ks: Seq[Long]): Seq[(Long, Long, Long)] =
    ks.map(k => (k, rng.nextInt(15000).toLong, rng.nextInt(1000).toLong))

  private def valuesSql(rows: Seq[(Long, Long, Long)]): String =
    rows.map { case (k, c, v) => s"($k, $c, $v)" }.mkString(", ")

  /** Pass `n`'s ops: four reads, two script writes and two log ops. An
    * even pass writes with UPSERT and DELETE and commits twice; an odd
    * one writes with REPLACE and UPDATE, commits once and compacts the
    * whole log. So every two passes run the same mix, and the log grows
    * by three commits between compactions. */
  def ops(n: Int): Seq[Random => Op] =
    (if (n % 2 == 0) Seq(upsert, delete, commit, commit)
     else Seq(replace, update, commit, compact)) ++
      Seq(selectIn, indexRead, lookup, readAsOf)

  /** Rows of three longs, as submitted. */
  private def rowBytes(n: Int): Long = 24L * n

  private def script(name: String, yql: String, replay: Seq[String], rows: Int): Op =
    Op(name, "dml", "write", ctx => { ctx.yql(yql); Done },
      _ => Map("type" -> "replay", "replay" -> replay), rowBytes(rows))

  private val upsert: Random => Op = rng => {
    val rows = values(rng, keys(rng, 8))
    val vs = valuesSql(rows)
    script("dyn_upsert",
      s"UPSERT INTO kt (k, v) SELECT k, v FROM VALUES $vs AS t(k, c, v)",
      Seq(s"""INSERT INTO kt (k, v) SELECT k, v FROM (VALUES $vs) AS t(k, c, v)
             |ON CONFLICT (k) DO UPDATE SET v = excluded.v""".stripMargin), rows.size)
  }

  private val replace: Random => Op = rng => {
    val rows = values(rng, keys(rng, 8))
    val vs = valuesSql(rows)
    script("dyn_replace",
      s"REPLACE INTO kt (k, c, v) SELECT k, c, v FROM VALUES $vs AS t(k, c, v)",
      Seq(s"INSERT OR REPLACE INTO kt (k, c, v) SELECT k, c, v FROM (VALUES $vs) AS t(k, c, v)"),
      rows.size)
  }

  private val delete: Random => Op = rng => {
    val ks = keys(rng, 6)
    val in = sqlList(ks)
    script("dyn_delete", s"DELETE FROM kt WHERE k IN $in", Seq(s"DELETE FROM kt WHERE k IN $in"),
      ks.size)
  }

  private val update: Random => Op = rng => {
    val ks = keys(rng, 8)
    val in = sqlList(ks)
    val d = 1 + rng.nextInt(9)
    script("dyn_update", s"UPDATE kt SET v = v + $d WHERE k IN $in",
      Seq(s"UPDATE kt SET v = v + $d WHERE k IN $in"), ks.size)
  }

  /** A compaction of the whole log into a new directory. */
  private val compact: Random => Op = _ => {
    ts += 1
    compactedAt = ts
    val next = s"$outDir/dyn_log_$ts"
    Op("dyn_compact", "dyntable", "write", ctx => {
      val compacted = ctx.build(DynTable.compact(log(ctx), Seq("k")))
      ctx.span("exec.action")(compacted.write.mode("overwrite").parquet(next))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(logDir))
      logDir = next
      Done
    }, _ => Map("type" -> "replay", "replay" -> Nil))
  }

  /** A log transaction: upserts and deletes staged, committed at the
    * next timestamp, and appended to the log. */
  private val commit: Random => Op = rng => {
    ts += 1
    val commitTs = ts
    val rows = values(rng, keys(rng, 10))
    val dels = rows.take(3).map(_._1)
    val ups = rows.drop(3)
    val replay = Seq(
      s"""INSERT INTO dlog SELECT k, $commitTs, 'upsert', c, v
         |FROM (VALUES ${valuesSql(ups)}) AS t(k, c, v)""".stripMargin) ++
      (if (dels.isEmpty) Nil
       else Seq(s"""INSERT INTO dlog SELECT k, $commitTs, 'delete', NULL, NULL
                   |FROM (VALUES ${dels.map(k => s"($k)").mkString(", ")}) AS t(k)""".stripMargin))
    Op("dyn_commit", "dyntable", "write", ctx => {
      import ctx.spark.implicits._
      val staged = (ups.map { case (k, c, v) => (k, DynTable.OpUpsert, Option(c), Option(v)) } ++
        dels.map(k => (k, DynTable.OpDelete, Option.empty[Long], Option.empty[Long])))
        .toDF("k", "op", "c", "v")
      val all = ctx.build(DynTable.commitTransaction(log(ctx), staged, Seq("k"),
        lit(commitTs - 1), lit(commitTs)))
      ctx.span("exec.action")(all.where(col("ts") === commitTs)
        .write.mode("append").parquet(logDir))
      Done
    }, _ => Map("type" -> "replay", "replay" -> replay), rowBytes(rows.size))
  }

  private val latestSql = (where: String, at: Long) =>
    s"""SELECT k, c, v FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
       |FROM dlog WHERE ts <= $at AND $where) AS t WHERE rn = 1 AND op = 'upsert'""".stripMargin

  private val selectIn: Random => Op = rng => {
    val ks = sqlList(keys(rng, 10))
    rowsOp("dyn_select_in", "dml", s"SELECT k, c, v FROM kt WHERE k IN $ks") { ctx =>
      ctx.yql(s"SELECT k, c, v FROM kt WHERE k IN $ks")
    }
  }

  private val indexRead: Random => Op = rng => {
    val lo = rng.nextInt(15000)
    val hi = lo + 10
    rowsOp("dyn_index_read", "dml", s"SELECT c, k FROM kt WHERE c BETWEEN $lo AND $hi") { ctx =>
      ctx.yql(s"SELECT c, k FROM kt VIEW by_c WHERE c BETWEEN $lo AND $hi")
    }
  }

  private val lookup: Random => Op = rng => {
    val ks = keys(rng, 10)
    rowsOp("dyn_lookup", "dyntable", latestSql(s"k IN ${sqlList(ks)}", Long.MaxValue)) { ctx =>
      ctx.build(DynTable.lookup(log(ctx), Seq("k"), ks.map(Seq(_))))
    }
  }

  private val readAsOf: Random => Op = rng => {
    val lo = rng.nextInt(KeySpace - 500)
    val at = compactedAt + (if (ts > compactedAt) rng.nextInt((ts - compactedAt).toInt + 1) else 0)
    rowsOp("dyn_read_asof", "dyntable",
      latestSql(s"k BETWEEN $lo AND ${lo + 400}", at)) { ctx =>
      ctx.build(DynTable.readAsOf(
        log(ctx).where(col("k").between(lo, lo + 400)), Seq("k"), lit(at)))
    }
  }

  def finish(ctx: Ctx): Seq[(String, Map[String, Any])] = Seq(
    "final_kt" -> Main.rowsRecord(ctx.collect(ctx.yql("SELECT k, c, v FROM kt")),
      "SELECT k, c, v FROM kt"),
    "final_log" -> Main.rowsRecord(ctx.collect(DynTable.readLatest(log(ctx), Seq("k"))
      .select("k", "c", "v")), latestSql("TRUE", Long.MaxValue)))
}
