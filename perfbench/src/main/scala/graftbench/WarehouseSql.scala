package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One SQL statement of the seeded mix. `params` carries the statement's
  * inputs as JSON, so an independent engine can replay it.
  */
final case class Stmt(i: Int, kind: String, sql: String, params: String) {
  def read: Boolean = Statements.Reads.contains(kind)
}

/** The seeded statement list of `warehouse_sql`: a warm-up prefix with one
  * statement of each kind, then cycles of seven SQL reads (three point
  * lookups, two partition-pruned range aggregates, two full aggregates),
  * three SQL writes (MERGE, UPDATE and DELETE by key range) and the
  * registered analytics queries, each cycle closed by `CALL compact` and
  * `CALL vacuum`. The order of kinds is fixed, so every seed walks the table
  * through the same sequence of states; the seed draws the keys, ranges
  * and values.
  */
object Statements {
  val Table = "wh.db.orders"
  /** Registered engine queries over the read-only parquet inputs. */
  val Queries: Seq[String] = Layers.Queries
  val SqlReads = Set("point", "range_agg", "full_agg")
  val Reads: Set[String] = SqlReads ++ Queries
  val Writes = Set("merge", "update", "delete")
  val Warmup: Seq[String] = Seq("point", "range_agg", "full_agg", "merge", "update", "delete") ++ Queries
  val Cycle: Seq[String] = Seq("point", "range_agg", "merge", "point", "full_agg",
    "update", "point", "range_agg", "delete", "full_agg") ++ Queries
  val RangeWidth = 500L
  val UpdateWidth = 25L
  val DeleteWidth = 10L
  val MergeRows = 20
  private val Statuses = Seq("O", "F", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val sumPrice = "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING)"

  def generate(seed: Long, cycles: Int, nKeys: Long): Seq[Stmt] = {
    val rnd = new SplittableRandom(seed)
    var next = nKeys // fresh keys for MERGE inserts
    def price(): String = { val c = rnd.nextLong(50000000L) + 100000L; s"${c / 100}.${f"${c % 100}%02d"}" }
    def date(): String = java.time.LocalDate.of(1995, 1, 1).plusDays(rnd.nextLong(2400L)).toString
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val kinds = Warmup ++ (1 to cycles).flatMap(_ => Cycle ++ Seq("compact", "vacuum"))
    kinds.zipWithIndex.map { case (kind, i) =>
      kind match {
        case "point" =>
          val k = rnd.nextLong(next)
          Stmt(i, kind, s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
            s"o_orderpriority FROM $Table WHERE o_orderkey = $k", s"""{"k":$k}""")
        case "range_agg" =>
          val a = rnd.nextLong(next - RangeWidth); val b = a + RangeWidth - 1
          Stmt(i, kind, s"SELECT o_orderstatus, count(*) AS n, $sumPrice AS s FROM $Table " +
            s"WHERE o_orderkey BETWEEN $a AND $b GROUP BY o_orderstatus", s"""{"a":$a,"b":$b}""")
        case "full_agg" =>
          Stmt(i, kind, s"SELECT o_orderpriority, count(*) AS n, $sumPrice AS s, " +
            s"CAST(max(o_orderdate) AS STRING) AS d FROM $Table GROUP BY o_orderpriority", "{}")
        case "merge" =>
          val old = mutable.LinkedHashSet.empty[Long]
          while (old.size < MergeRows / 2) old += rnd.nextLong(nKeys)
          val fresh = (0 until MergeRows / 2).map(j => next + j)
          next += MergeRows / 2
          val rows = (old.toSeq ++ fresh).map(k =>
            (k, rnd.nextLong(1500L), pick(Statuses), price(), date(), pick(Priorities)))
          val values = rows.map { case (k, c, s, p, d, pr) =>
            s"(${k}L, ${c}L, '$s', ${p}D, DATE'$d', '$pr')" }.mkString(", ")
          val json = rows.map { case (k, c, s, p, d, pr) =>
            s"""[$k,$c,"$s",$p,"$d","$pr"]""" }.mkString("[", ",", "]")
          Stmt(i, kind, s"MERGE INTO $Table t USING (SELECT * FROM VALUES $values " +
            "AS s(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
            "o_orderpriority)) s ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", s"""{"rows":$json}""")
        case "update" =>
          val a = rnd.nextLong(next - UpdateWidth); val b = a + UpdateWidth - 1
          val p = price()
          Stmt(i, kind, s"UPDATE $Table SET o_orderstatus = 'U', o_totalprice = ${p}D " +
            s"WHERE o_orderkey BETWEEN $a AND $b", s"""{"a":$a,"b":$b,"price":$p}""")
        case "delete" =>
          val a = rnd.nextLong(next - DeleteWidth); val b = a + DeleteWidth - 1
          Stmt(i, kind, s"DELETE FROM $Table WHERE o_orderkey BETWEEN $a AND $b",
            s"""{"a":$a,"b":$b}""")
        case q if Queries.contains(q) => Stmt(i, kind, "", "{}")
        case "compact" => Stmt(i, kind, "CALL wh.system.compact('db.orders')", "{}")
        case "vacuum" => Stmt(i, kind, "CALL wh.system.vacuum('db.orders', 1)", "{}")
      }
    }
  }

  def json(stmts: Seq[Stmt]): String = Json.arr(stmts.map(s => Json.obj(Seq(
    "i" -> s.i.toString, "kind" -> Json.str(s.kind), "sql" -> Json.str(s.sql),
    "params" -> s.params))))
}

/** `warehouse_sql`: a seeded 70% read / 30% write SQL statement mix sent
  * through `spark.sql` to a `GraftCatalog` table holding the `orders` input,
  * partitioned on a key range bucket, with maintenance every cycle. Each
  * cycle also runs the registered queries in [[Statements.Queries]] over the
  * read-only parquet inputs: they touch no manifest table, so a change to
  * the commit path should leave their times unchanged. A query is consumed
  * by a `noop` write, then the cache and leftover local checkpoints are
  * cleared, as `graft.Bench` does; the warm-up runs write their results as
  * parquet for the DuckDB oracle check.
  */
final class WarehouseSql(seed: Long, seconds: Int, data: String) extends Workload {
  import WarehouseSql._

  val name = "warehouse_sql"
  private val cycles = Workload.cycles(seconds, CycleNominalS)
  val stmts: Seq[Stmt] = Statements.generate(seed, cycles, Orders)
  private val warm = stmts.take(Statements.Warmup.size)
  private val timed = stmts.drop(Statements.Warmup.size)
  private var dir: String = _
  private var spark: SparkSession = _
  private val results = mutable.Map.empty[Int, String]
  private val okByStmt = mutable.Map.empty[Int, Boolean]

  private def cell(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case d: Double => Json.num(d)
    case n: java.lang.Number => n.toString
    case o => Json.str(o.toString)
  }

  private def query(q: String, write: DataFrame => Unit): Unit =
    try write(graft.SparkEntry.queries(q)(spark, data))
    finally {
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.Checkpoints.sweep(spark)
    }

  private def exec(s: Stmt): Long =
    if (Statements.Queries.contains(s.kind)) {
      query(s.kind, _.write.format("noop").mode("overwrite").save())
      0L
    } else {
      val rows: Array[Row] = spark.sql(s.sql).collect()
      if (s.read) results(s.i) = Json.arr(rows.toSeq.map(r => Json.arr(r.toSeq.map(cell))))
      rows.length.toLong
    }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    this.spark = spark
    spark.conf.set("spark.sql.catalog.wh", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.wh.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wh.db")
    spark.sql(s"CREATE TABLE ${Statements.Table} (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING) " +
      s"PARTITIONED BY (truncate($BucketWidth, o_orderkey))")
    spark.sql(s"INSERT INTO ${Statements.Table} SELECT o_orderkey, o_custkey, o_orderstatus, " +
      s"o_totalprice, CAST(o_orderdate AS DATE), o_orderpriority FROM parquet.`$data/orders.parquet`")
  }

  def warmup(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(dir, "oracle.json"),
      Json.obj(Statements.Queries.map(q => q -> Json.str(oracle(q)))))
    warm.foreach { s =>
      if (Statements.Queries.contains(s.kind))
        query(s.kind, _.write.mode("overwrite").parquet(s"$dir/out/${s.kind}"))
      else exec(s)
    }
  }

  def run(probe: Probe): Unit = timed.foreach { s =>
    val layer = if (Statements.Queries.contains(s.kind)) "query" else "catalog"
    val r = probe.op(s.kind, s.read) {
      (probe.span(s.kind, layer)(exec(s)), true)
    }
    okByStmt(s.i) = r.ok
  }

  def stop(): Unit = ()

  def finish(spark: SparkSession, probe: Probe): Report = {
    spark.table(Statements.Table).write.parquet(s"$dir/final")
    val out = Json.obj(Seq(
      "statements" -> Statements.json(stmts),
      "results" -> Json.obj(results.toSeq.sortBy(_._1).map { case (i, r) => i.toString -> r }),
      "ok" -> Json.obj(okByStmt.toSeq.sortBy(_._1).map { case (i, ok) => i.toString -> ok.toString }),
      "final" -> Json.str(s"$dir/final")))
    Files.writeString(Paths.get(dir, "warehouse.json"), out)

    val ops = probe.ops
    val reads = ops.filter(o => Statements.SqlReads(o.kind)).map(_.seconds)
    val writes = ops.filter(o => Statements.Writes(o.kind)).map(_.seconds)
    val wall = (ops.last.endNs - ops.head.startNs) / 1e9
    val root = s"$dir/warehouse/db/orders"
    def meanOf(kinds: String*): Double = {
      val xs = ops.filter(o => kinds.contains(o.kind)).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val layers =
      if (!probe.traced) Nil
      else {
        // catalog.plan_s: from the spark.sql call to its first job start
        val jobsByOp = probe.placedJobs().flatMap { case (j, s) => s.map(_.op -> j) }
          .groupBy(_._1).map { case (op, js) => op -> js.map(_._2) }
        val sqlReads = ops.filter(o => Statements.SqlReads(o.kind))
        val plan = sqlReads.flatMap(o => jobsByOp.get(o.id).map(js =>
          (js.map(_.startMs).min - probe.epochMs(o.startNs)) / 1000.0))
        val returned = sqlReads.map(_.rows).sum
        val scanned = sqlReads.flatMap(o => jobsByOp.getOrElse(o.id, Nil)).map(_.inputRecords).sum
        Seq("catalog.plan_s" -> (if (plan.isEmpty) 0.0 else plan.sum / plan.size),
          "scan.rows_read_per_row_returned" ->
            (if (returned == 0) 0.0 else scanned.toDouble / returned)) ++
          Seq("point", "range_agg", "full_agg", "merge", "update", "delete").map(k =>
            s"sql.${k}_s" -> meanOf(k)) ++
          Statements.Queries.flatMap { q =>
            val mine = ops.filter(_.kind == q)
            Seq(s"query.${q}_s" -> meanOf(q),
              s"query.$q.jobs" -> mine.map(o => jobsByOp.get(o.id).map(_.size).getOrElse(0)).sum.toDouble / mine.size)
          } ++
          Seq("sql.maintenance_s" -> meanOf("compact", "vacuum"),
            "manifest.versions_live" -> graft.sources.ManifestTable.versions(spark, root).size.toDouble,
            "manifest.files_live" -> graft.sources.ManifestTable.detail(spark, root).map(_._3).sum.toDouble)
      }
    Report(
      latencies = ops.map(_.seconds),
      attempted = ops.size,
      opsPerS = ops.size / wall,
      named = Seq(
        "sql_read_p50_s" -> Json.num(Stats.median(reads)),
        "sql_read_tail_s" -> Workload.tailJson(reads),
        "sql_write_p50_s" -> Json.num(Stats.median(writes)),
        "sql_write_tail_s" -> Workload.tailJson(writes),
        "warehouse_stmts_per_s" -> Json.num(ops.size / wall),
        "statements" -> ops.size.toString,
        "cycles" -> cycles.toString) ++
        Statements.Queries.map(q => s"${q}_s" -> Json.num(Stats.median(
          ops.filter(_.kind == q).map(_.seconds)))),
      problems = Nil,
      failedOps = ops.count(!_.ok),
      layers = layers)
  }
}

object WarehouseSql {
  /** Rows of the `orders` input; keys are 0 until Orders. */
  val Orders = 15000L
  /** Key-range width of one partition: eight partitions at the start. */
  val BucketWidth = 2000
  /** Expected seconds per cycle on the reference box (4 cores). */
  val CycleNominalS = 14.0
}
