package graft

import java.io.File
import java.nio.file.Files

/** The shared DSv2 file table behind graft-seq, graft-rcfile, graft-text
  * and graft-avro: job abort leaves the table as it was. */
class FileTableSpec extends SparkSpec {

  private def listing(root: File): Seq[String] = {
    def walk(f: File, rel: String): Seq[String] =
      Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { c =>
        val r = rel + "/" + c.getName
        r +: (if (c.isDirectory) walk(c, r) else Nil)
      }
    walk(root, "")
  }

  for (fmt <- Seq("graft-seq", "graft-rcfile", "graft-text", "graft-avro")) {
    test(s"$fmt: a failed INSERT INTO or dynamic INSERT OVERWRITE leaves the table as it was") {
      val base = Files.createTempDirectory("ft_abort").toString + "/t"
      spark.sql("DROP TABLE IF EXISTS ft_abort")
      spark.sql(s"""CREATE TABLE ft_abort (id BIGINT, s STRING) USING `$fmt`
                    PARTITIONED BY (p STRING) LOCATION '$base'""")
      spark.sql("INSERT INTO ft_abort VALUES (1, 'a', 'x'), (2, 'b', 'y')")
      val root = new File(base)
      def rows = spark.table("ft_abort").orderBy("id").collect().toSeq
      val (files0, rows0) = (listing(root), rows)
      // Task 0 writes id 10 into p=x and commits. Task 1 waits until task
      // 0's file is in the table directory, gives the scheduler time to
      // take its commit message, then fails the job.
      val dirX = new File(base, "p=x")
      val before = dirX.list().toSet
      spark.udf.register("ft_fail_after_peer", (id: Long) => {
        if (id == 11) {
          val deadline = System.currentTimeMillis() + 60000
          while (!dirX.list().exists(n => n.startsWith("part-00000") && !before(n)) &&
              System.currentTimeMillis() < deadline) Thread.sleep(20)
          Thread.sleep(1500)
          throw new IllegalStateException("injected task failure")
        }
        id
      })
      val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        for (stmt <- Seq("INSERT INTO", "INSERT OVERWRITE")) {
          val e = intercept[Exception](spark.sql(s"""$stmt ft_abort
            SELECT ft_fail_after_peer(id), 'n', 'x' FROM range(10, 12, 1, 2)"""))
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("injected task failure")), e)
          assert(listing(root) == files0, stmt)
          assert(rows == rows0, stmt)
        }
      } finally {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        spark.sql("DROP TABLE ft_abort")
      }
    }
  }
}
