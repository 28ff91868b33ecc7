package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** q-test-style golden runner (reference: QTestUtil.java + the 1886
  * clientpositive .q/.q.out pairs). Each resources/golden/NAME.sql runs
  * through spark.sql over the sf0.001 fixture views; the canonicalized
  * result (columns sorted by name, rows sorted, %.6g doubles, NULL
  * spelled out) is diffed against NAME.out. Regenerate with
  * GOLDEN_REGEN=1 sbt test.
  *
  * Like a .q file, a script may hold MULTIPLE statements separated by a
  * line-ending semicolon (DROP/CREATE/multi-INSERT/...); the LAST
  * statement's result is the golden. Scripts run through Engine.script,
  * whose statements reach the session's HiveQL parser through plain
  * spark.sql (HiveQlSessionSpec runs a sample on a session that has only
  * the extension).
  */
class GoldenSpec extends SparkSpec {
  import GoldenSpec.canonicalize

  private lazy val ready: Unit = Tables.views(spark, sf, Tables.all: _*)

  Files.list(GoldenSpec.dir).iterator().asScala
    .filter(_.toString.endsWith(".sql")).toSeq.sortBy(_.toString)
    .foreach { sqlPath =>
      val name = sqlPath.getFileName.toString.stripSuffix(".sql")
      test(s"golden $name") {
        ready
        // the product-surface script runner (Engine.script → Engine.ddl →
        // spark.sql), so goldens exercise the same path a migrating user's
        // .q scripts take. Confs a script SETs are restored afterwards —
        // suites share the session, so a leaked hive.merge.mapfiles=true
        // from one script can flip ANOTHER suite's insert behavior
        // mid-flight (the r17 Round11Spec flake).
        val before = spark.conf.getAll
        val got =
          try canonicalize(Engine.script(spark, sf, Files.readString(sqlPath),
            // scripts that need a scratch filesystem path (EXPORT/IMPORT,
            // LOAD) reference ${GOLDTMP}, like the negatives' ${NEGTMP}
            vars = Map("GOLDTMP" -> tools.Tmp.dir(s"gold_$name"))))
          finally spark.conf.getAll.foreach { case (k, v) =>
            before.get(k) match {
              case Some(old) if old != v =>
                try spark.conf.set(k, old) catch { case _: Exception => () }
              case None =>
                try spark.conf.unset(k) catch { case _: Exception => () }
              case _ => ()
            }
          }
        val outPath = sqlPath.resolveSibling(s"$name.out")
        if (sys.env.contains("GOLDEN_REGEN")) {
          Files.writeString(outPath, got)
        } else {
          assert(Files.exists(outPath), s"missing golden $outPath — run with GOLDEN_REGEN=1")
          val want = Files.readString(outPath)
          assert(got == want, s"golden mismatch for $name")
        }
      }
    }
}

object GoldenSpec {

  val dir: Path = {
    // prefer the source tree (so regen writes where git sees it)
    val src = Paths.get("src/test/resources/golden")
    if (Files.isDirectory(src)) src
    else Paths.get(getClass.getResource("/golden").toURI)
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString // not [B@addr
    case x => x.toString
  }

  def canonicalize(df: org.apache.spark.sql.DataFrame): String = {
    val cols = df.columns.sorted
    val proj = df.selectExpr(cols.map(c => s"`$c`"): _*)
    val rows = proj.collect()
      .map(r => (0 until r.length).map(i => canon(r.get(i))).mkString("\t"))
      .sorted
    (cols.mkString("\t") +: rows).mkString("\n") + "\n"
  }
}
