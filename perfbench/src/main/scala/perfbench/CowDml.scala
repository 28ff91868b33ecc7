package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import Tracer.OpRec

/** Copy-on-write DML through `Engine.sql`. At set-up, generated sf0.1
  * `orders` (20k rows) and two 10k-row `lineitem` slices are copied into partitioned
  * transactional tables in parquet, SequenceFile and RCFile. The timed
  * stream mixes UPDATE, DELETE, MERGE, INSERT and INSERT OVERWRITE
  * PARTITION over small key ranges with read-back SELECTs, in rounds that
  * give every table the same mix. Every round starts from freshly built
  * tables, so each round measures the same state whatever the program's
  * speed. The harness keeps its own model of every row and predicts each
  * read-back's answer.
  */
final class CowDml(ctx: Ctx) extends Workload {
  import CowDml._
  private val spark = ctx.spark
  private val data = ctx.runDir.resolve("data").toString
  graft.Tables.views(spark, data, "orders", "lineitem")
  private val tables = Seq(
    Table("orders_pq", "PARQUET", "o_orderkey", "o_custkey", "o_orderpriority",
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE",
      "o_orderkey, o_custkey, o_orderstatus, o_totalprice", "'N', 0.0",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders " +
        "WHERE o_orderkey < 20000", 0L, 20000L),
    Table("lineitem_seq", "SEQUENCEFILE", "l_orderkey", "l_quantity", "l_returnflag",
      "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
      "l_orderkey, l_partkey, l_quantity, l_extendedprice", "0, 0.0",
      "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag FROM lineitem " +
        "WHERE l_orderkey < 2500", 0L, 2500L),
    Table("lineitem_rc", "RCFILE", "l_orderkey", "l_quantity", "l_linestatus",
      "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE",
      "l_orderkey, l_partkey, l_quantity, l_extendedprice", "0, 0.0",
      "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_linestatus FROM lineitem " +
        "WHERE l_orderkey >= 2500 AND l_orderkey < 5000", 2500L, 2500L))
  // the rows each table starts from, read once from the generated inputs
  private val initial: Map[String, Model] = tables.map { t =>
    val rows = spark.sql(s"SELECT ${t.key}, CAST(${t.qty} AS BIGINT), ${t.part} FROM (${t.select})")
      .collect()
    t.name -> Model(ArrayBuffer.from(rows.map(_.getLong(0))), ArrayBuffer.from(rows.map(_.getLong(1))),
      ArrayBuffer.from(rows.map(_.getString(2))), ArrayBuffer.fill(rows.length)(true))
  }.toMap
  private var db = ""
  // namespaces built so far (cow_r0, cow_r1, ...) and rounds started; round
  // r runs on cow_r<r>, built at set-up or just before the round starts
  private var built = 0
  private var rounds = 0
  private var models = Map.empty[String, Model]
  private val rnd = new scala.util.Random(ctx.seed)
  private var nextKey = 1000000L
  private var count = 0
  // a round: every table gets the ops in `kinds`, in seeded order
  private var round = List.empty[(Table, String)]
  // per write op: (new file bytes, changed rows, files rewritten, files before)
  private val writes = ArrayBuffer.empty[(String, Long, Long, Long, Long)]
  private var rowBytes = Map.empty[String, Double]

  private def loc(t: Table): Path = ctx.runDir.resolve(s"tables/$db/${t.name}")
  private def sql(s: String) = graft.Engine.sql(spark, data, s)

  def setup(rep: Int): Unit = {
    build()
    rowBytes = tables.map(t => t.name -> Listing(loc(t)).bytes.toDouble / initial(t.name).live).toMap
    // warm-up: one read per table
    tables.foreach(t => runRead(t, t.keyLo, t.keyLo + 100))
  }

  /** Copies the initial rows into a new namespace and makes it current. */
  private def build(): Unit = {
    db = s"cow_r$built"
    built += 1
    sql(s"CREATE DATABASE $db")
    tables.foreach { t =>
      sql(s"""CREATE TABLE $db.${t.name} (${t.cols}) PARTITIONED BY (${t.part} STRING)
              STORED AS ${t.format} LOCATION '${loc(t)}' TBLPROPERTIES ('transactional'='true')""")
      sql(s"""INSERT INTO TABLE $db.${t.name} PARTITION (${t.part})
              SELECT /*+ REPARTITION_BY_RANGE(8, ${t.key}) */ * FROM (${t.select}) src""")
    }
  }

  private def runRead(t: Table, lo: Long, hi: Long): (Long, Long) = {
    val r = sql(s"""SELECT count(*) AS n, CAST(coalesce(sum(${t.qty}), 0) AS BIGINT) AS q
                    FROM $db.${t.name} WHERE ${t.key} BETWEEN $lo AND $hi""").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  override def roundDone: Boolean = round.isEmpty
  // a round of 18 ops takes about 10 s
  override def warmupRounds: Int = 1

  def next(): Op = {
    if (round.isEmpty) {
      if (rounds == built) build()
      db = s"cow_r$rounds"
      models = initial.map { case (k, m) => k -> m.copy() }
      rounds += 1
      round = rnd.shuffle(for (t <- tables; k <- kinds) yield (t, k)).toList
    }
    val (t, kind) = round.head
    round = round.tail
    val m = models(t.name)
    val name = s"$db.${t.name}"
    val a = t.keyLo + rnd.nextLong(t.keys)
    val parts = m.parts
    count += 1
    if (kind == "read") {
      val hi = a + 200 + rnd.nextInt(800)
      val want = m.read(a, hi)
      Op(s"read#$count", "read", () => { val got = runRead(t, a, hi); Op.Out(1, got) },
        out => Checks.readBack(out.payload.asInstanceOf[(Long, Long)], want))
    } else {
      val (stmt, changed) = kind match {
        case "update" =>
          val d = 1 + rnd.nextInt(5)
          val hi = a + 2 + rnd.nextInt(6)
          (s"UPDATE $name SET ${t.qty} = ${t.qty} + $d WHERE ${t.key} BETWEEN $a AND $hi",
            () => m.update(a, hi, _ + d))
        case "delete" =>
          val hi = a + 1 + rnd.nextInt(3)
          (s"DELETE FROM $name WHERE ${t.key} BETWEEN $a AND $hi", () => m.delete(a, hi))
        case "merge" =>
          val src = (0 until 4).map { i =>
            val k = if (i < 2) a + i * 3 else { nextKey += 1; nextKey }
            (k, 1L + rnd.nextInt(50), parts(rnd.nextInt(parts.size)))
          }
          val values = src.map { case (k, q, p) => s"($k, $q, '$p')" }.mkString(", ")
          (s"""MERGE INTO $name t
                USING (SELECT * FROM VALUES $values AS v(${t.key}, ${t.qty}, ${t.part})) s
                ON t.${t.key} = s.${t.key}
                WHEN MATCHED THEN UPDATE SET ${t.qty} = s.${t.qty}
                WHEN NOT MATCHED THEN
                  INSERT VALUES (${t.insertCols(s"s.${t.key}", s"s.${t.qty}")}, s.${t.part})""",
            () => src.map { case (k, q, p) => m.upsert(k, q, p) }.sum)
        case "insert" =>
          val p = parts(rnd.nextInt(parts.size))
          val rows = (0 until 3).map { _ => nextKey += 1; (nextKey, 1L + rnd.nextInt(50)) }
          val values = rows.map { case (k, q) => s"(${t.insertCols(k.toString, q.toString)})" }
            .mkString(", ")
          (s"INSERT INTO TABLE $name PARTITION (${t.part}='$p') VALUES $values",
            () => rows.map { case (k, q) => m.insert(k, q, p) }.sum)
        case "overwrite" =>
          val hi = a + 5 + rnd.nextInt(20)
          (s"""INSERT OVERWRITE TABLE $name PARTITION (${t.part}='$overwritePart')
                SELECT ${t.insertCols(t.key, t.qty)} FROM $name
                WHERE ${t.key} BETWEEN $a AND $hi AND ${t.part} <> '$overwritePart'""",
            () => m.overwrite(a, hi, overwritePart))
      }
      val before = Listing(loc(t))
      Op(s"$kind#$count", "write", () => {
        sql(stmt)
        Op.Out(0)
      }, _ => {
        val rows = changed()
        val after = Listing(loc(t))
        val fresh = after.files.filter { case (f, _) => !before.files.contains(f) }
        writes += ((t.name, fresh.values.sum, rows,
          before.files.keys.count(f => !after.files.contains(f)).toLong, before.files.size.toLong))
        None
      })
    }
  }

  override def extras(ops: Seq[OpRec]): Map[String, Double] = {
    val w = ops.filter(_.kind == "write").map(_.ms)
    val r = ops.filter(_.kind == "read").map(_.ms)
    val changedBytes = writes.map(x => x._3 * rowBytes(x._1)).sum
    // the same rows written fresh, with the set-up's layout
    val freshBytes = tables.map { t =>
      val fresh = ctx.runDir.resolve(s"tables/fresh/${t.name}")
      sql(s"""CREATE TABLE $db.fresh_${t.name} (${t.cols}) PARTITIONED BY (${t.part} STRING)
              STORED AS ${t.format} LOCATION '$fresh'""")
      sql(s"""INSERT INTO TABLE $db.fresh_${t.name} PARTITION (${t.part})
              SELECT /*+ REPARTITION_BY_RANGE(8, ${t.key}) */ * FROM $db.${t.name}""")
      Listing(fresh).bytes
    }.sum
    Map("write_p50_ms" -> Main.pct(w, 0.5), "write_p90_ms" -> Main.pct(w, 0.9),
      "read_p50_ms" -> Main.pct(r, 0.5),
      "write_amp" -> (if (changedBytes > 0) writes.map(_._2).sum / changedBytes else 0.0),
      "space_amp" -> tables.map(t => Listing(loc(t)).bytes).sum.toDouble / freshBytes.max(1L))
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val n = ops.size.max(1).toDouble
    val ls = tables.map(t => Listing(loc(t)))
    Map("engine.stmts" -> 1.0, "engine.failed_stmts" -> ops.count(!_.ok) / n,
      "acid.table_files" -> ls.map(_.files.size).sum.toDouble,
      "acid.table_bytes" -> ls.map(_.bytes).sum.toDouble,
      "acid.files_rewritten_ratio" ->
        (if (writes.isEmpty) 0.0 else writes.map(x => x._4.toDouble / x._5.max(1L)).sum / writes.size))
  }
}

object CowDml {
  /** One round's ops per table. */
  val kinds = Seq("read", "update", "merge", "insert", "delete", "overwrite")
  val overwritePart = "ov"

  final case class Table(name: String, format: String, key: String, qty: String, part: String,
      cols: String, colNames: String, fill: String, select: String, keyLo: Long, keys: Long) {
    /** An inserted row's non-partition columns: key, qty and constants. */
    def insertCols(k: String, q: String): String =
      colNames.split(",").map(_.trim).map {
        case c if c == key => k
        case c if c == qty => q
        case c => fillFor(c)
      }.mkString(", ")
    private def fillFor(c: String): String = {
      val names = colNames.split(",").map(_.trim).filterNot(x => x == key || x == qty)
      fill.split(",").map(_.trim).apply(names.indexOf(c))
    }
  }

  /** Data files of a table directory: name -> bytes. */
  final case class Listing(files: Map[String, Long]) {
    def bytes: Long = files.values.sum
  }
  object Listing {
    def apply(dir: Path): Listing =
      if (!Files.isDirectory(dir)) Listing(Map.empty[String, Long])
      else {
        val st = Files.walk(dir)
        try Listing(st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
          .map(p => dir.relativize(p).toString -> Files.size(p)).toMap)
        finally st.close()
      }
  }

  /** The harness's copy of a table: one entry per row ever written. */
  final case class Model(key: ArrayBuffer[Long], qty: ArrayBuffer[Long], part: ArrayBuffer[String],
      alive: ArrayBuffer[Boolean]) {
    def copy(): Model = Model(key.clone(), qty.clone(), part.clone(), alive.clone())
    def live: Long = alive.count(identity).toLong
    def parts: Vector[String] = part.indices.filter(alive).map(part).distinct.sorted
      .filterNot(_ == overwritePart).toVector
    private def matching(lo: Long, hi: Long) =
      key.indices.filter(i => alive(i) && key(i) >= lo && key(i) <= hi)
    def read(lo: Long, hi: Long): (Long, Long) = {
      val m = matching(lo, hi)
      (m.size.toLong, m.map(qty).sum)
    }
    def update(lo: Long, hi: Long, f: Long => Long): Long = {
      val m = matching(lo, hi); m.foreach(i => qty(i) = f(qty(i))); m.size.toLong
    }
    def delete(lo: Long, hi: Long): Long = {
      val m = matching(lo, hi); m.foreach(i => alive(i) = false); m.size.toLong
    }
    def insert(k: Long, q: Long, p: String): Long = {
      key += k; qty += q; part += p; alive += true; 1L
    }
    /** MERGE of one source row: update every match, else insert. */
    def upsert(k: Long, q: Long, p: String): Long = {
      val m = matching(k, k)
      if (m.isEmpty) insert(k, q, p) else { m.foreach(i => qty(i) = q); m.size.toLong }
    }
    /** INSERT OVERWRITE PARTITION (p) SELECT rows of [lo, hi] outside p. */
    def overwrite(lo: Long, hi: Long, p: String): Long = {
      val src = matching(lo, hi).filter(i => part(i) != p).map(i => (key(i), qty(i)))
      val gone = key.indices.filter(i => alive(i) && part(i) == p)
      gone.foreach(i => alive(i) = false)
      src.foreach { case (k, q) => insert(k, q, p) }
      gone.size.toLong + src.size
    }
  }
}
