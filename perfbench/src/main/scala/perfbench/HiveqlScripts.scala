package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import Tracer.OpRec

/** A seeded sample of the golden `.q`-style scripts, each run through
  * `Engine.script` over the sf0.001 fixture and diffed against its `.out`
  * file exactly as the golden suite does. The sample is the corpus in
  * seeded order, cut into rounds of `roundSize` scripts; each round runs in
  * corpus order, and no script runs twice.
  */
final class HiveqlScripts(ctx: Ctx) extends Workload {
  import HiveqlScripts._
  private val spark = ctx.spark
  private val fixture = Paths.get("perfbench/fixture/sf0.001").toAbsolutePath.toString
  private val scripts: Vector[Path] = eligible(Paths.get("src/test/resources/golden"))
  private val rounds: Iterator[Vector[Path]] =
    new scala.util.Random(ctx.seed).shuffle(scripts).grouped(roundSize).map(_.sortBy(_.toString))
  private var round = Iterator.empty[Path]
  private val stmts = scala.collection.mutable.HashMap.empty[String, Int]

  private def runScript(path: Path): String = {
    val name = HiveqlScripts.name(path)
    val before = spark.conf.getAll
    try Checks.canonicalize(graft.Engine.script(spark, fixture, Files.readString(path),
      vars = Map("GOLDTMP" -> graft.tools.Tmp.dir(s"gold_$name"))))
    finally spark.conf.getAll.foreach { case (k, v) =>
      // a script's SET must not leak into the next script
      before.get(k) match {
        case Some(old) if old != v => try spark.conf.set(k, old) catch { case _: Exception => () }
        case None => try spark.conf.unset(k) catch { case _: Exception => () }
        case _ => ()
      }
    }
  }

  def setup(rep: Int): Unit = {
    graft.Tables.views(spark, fixture, graft.Tables.all: _*)
    warmup.foreach(n => runScript(Paths.get(s"src/test/resources/golden/$n.sql")))
  }

  override def hasNext: Boolean = round.hasNext || rounds.hasNext
  override def roundDone: Boolean = !round.hasNext

  def next(): Op = {
    if (!round.hasNext) round = rounds.next().iterator
    val path = round.next()
    val name = HiveqlScripts.name(path)
    val text = Files.readString(path)
    stmts(name) = Checks.statements(text)
    Op(name, "script", () => {
      val got = runScript(path)
      Op.Out(got.count(_ == '\n') - 1L, got)
    }, out => Checks.golden(out.payload.asInstanceOf[String],
      Files.readString(path.resolveSibling(s"$name.out"))))
  }

  override def layers(ops: Seq[OpRec]): Map[String, Double] = {
    val n = ops.size.max(1).toDouble
    Map("engine.stmts" -> ops.map(o => stmts.getOrElse(o.label, 0)).sum / n,
      "engine.failed_stmts" -> ops.count(!_.ok) / n)
  }
}

object HiveqlScripts {
  val roundSize = 12

  def name(p: Path): String = p.getFileName.toString.stripSuffix(".sql")

  /** Pure SELECT scripts that warm the JIT and codegen caches at set-up. */
  val warmup = Seq("g01_join_agg", "g02_windowing", "g03_grouping_sets")

  /** Scripts left out, each with its reason. */
  val excluded: Map[String, String] = Map(
    "g802_role_hierarchy_show" -> "expects roles that other scripts leave in the session")

  /** Golden scripts in corpus order, minus those that name a filesystem
    * path outside the run (`LOCATION '/tmp/...'`) and the excluded ones. */
  def eligible(dir: Path): Vector[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.filter(_.toString.endsWith(".sql")).toVector
      .sortBy(_.toString)
      .filterNot(p => excluded.contains(name(p)))
      .filterNot(p => "'/".r.findFirstIn(Files.readString(p)).nonEmpty)
    finally st.close()
  }
}
