package perfbench

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import Tracer.OpRec

/** Read-only analytic q-family queries from the engine's `Registry` over
  * generated sf0.1 tables, in seeded rounds: every round runs each query
  * once in a fresh seeded order, so any run covers the same mix. Results
  * are materialized as `graft.Bench` does; correctness is checked after the
  * timed window against each query's DuckDB oracle (by run.py, on the
  * result files this workload writes).
  */
final class WarehouseQueries(ctx: Ctx) extends Workload {
  import WarehouseQueries._
  private val spark = ctx.spark
  private val data = ctx.runDir.resolve("data").toString
  private val fns = queries.map(n => n -> graft.SparkEntry.queries(n)).toMap
  private val rnd = new scala.util.Random(ctx.seed)
  private var round: List[String] = Nil
  private var count = 0
  private val timedRows = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  private def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def setup(rep: Int): Unit = {
    graft.Tables.views(spark, data, tables: _*)
    materialize(graft.SparkEntry.queries("q01_agg")(spark, data))
    graft.tools.Checkpoints.sweep()
  }

  override def roundDone: Boolean = round.isEmpty

  def next(): Op = {
    if (round.isEmpty) round = rnd.shuffle(queries).toList
    val name = round.head
    round = round.tail
    count += 1
    Op(s"$name#$count", "query", () => {
      val df = fns(name)(spark, data)
      val rows = materialize(df)
      if (ctx.trace) ctx.tracer.note(df.queryExecution)
      Op.Out(rows)
    }, out => {
      graft.tools.Checkpoints.sweep()
      // the same query must give the same row count every time it runs
      timedRows.get(name) match {
        case Some(r) if r != out.rows => Some(s"row count $r then ${out.rows}")
        case _ => timedRows(name) = out.rows; None
      }
    })
  }

  /** Writes each query's result once, outside the timed window, for the
    * DuckDB oracle check; a row count that differs from the timed run's
    * is a failure on its own. */
  override def finish(ops: Seq[OpRec]): Seq[String] = {
    val dir = ctx.dir("results")
    timedRows.toSeq.flatMap { case (name, rows) =>
      val df = fns(name)(spark, data)
      val out = dir.resolve(name).toString
      df.write.mode("overwrite").parquet(out)
      graft.tools.Checkpoints.sweep()
      val n = spark.read.parquet(out).count()
      graft.SparkEntry.oracleSql.get(name) match {
        case None => Some(s"$name: no DuckDB oracle")
        case Some(sql) =>
          Files.write(dir.resolve(name + ".sql"), sql.getBytes("UTF-8"))
          if (n != rows) Some(s"$name: result has $n rows, timed run counted $rows") else None
      }
    }
  }
}

object WarehouseQueries {
  /** The generated tables the queries read (perfbench/datagen.py). */
  val tables: Seq[String] = Seq("region", "nation", "customer", "orders", "lineitem")

  /** Read-only analytic q-family queries with a DuckDB oracle that read only
    * the generated tables; write-path, DDL and catalog queries are left to
    * the other workloads. */
  val queries: Seq[String] = Seq(
    "q01_agg", "q03_join_inner", "q07_join_semi", "q11_agg_distinct",
    "q13_rollup", "q19_window_rank", "q38_exists_correlated", "q40_percentile")
}
