package graft

import graft.functions.NGrams
import graft.queries.Fns
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** Force doGenCode (no interpreted fallback) for `body`, then restore
    * whatever the session had before. */
  private def codegenOnly(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "CODEGEN_ONLY")
    spark.conf.set(keys(1), "false")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("field() returns 1-based index, 0 on miss, 0 on null needle") {
    val df = Seq(("b", "x"), ("z", "y"), (null, "z")).toDF("needle", "pad")
    val got = df.select(call_function("field", col("needle"),
      lit("a"), lit("b"), lit("c")).as("f")).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0, 0))
  }

  test("field() works from SQL text") {
    Seq("F").toDF("s").createOrReplaceTempView("field_t")
    assert(spark.sql("SELECT field(s, 'O','F','P') FROM field_t")
      .collect().head.getInt(0) == 2)
  }

  test("fused dot_product/int_dot equal the composed HOF forms bit-for-bit") {
    val e = graft.operators.Similarity.prep(Tables.t(spark, sf, "embeddings"))
    e.createOrReplaceTempView("dot_spec_e")
    codegenOnly {
      // same accumulation order → exact equality, not approximate
      val diff = spark.sql(
        """SELECT dot_product(a.emb, b.emb) AS fused,
             aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), 0D,
               (acc, v) -> acc + v) AS composed
           FROM dot_spec_e a JOIN dot_spec_e b
             ON a.vec_id < 20 AND b.vec_id < 20 AND a.vec_id < b.vec_id""")
        .filter(col("fused") =!= col("composed")).count()
      assert(diff == 0)
      val idiff = spark.sql(
        """SELECT int_dot(a.qv, b.qv) AS fused,
             aggregate(zip_with(a.qv, b.qv, (x, y) -> CAST(x * y AS BIGINT)),
               CAST(0 AS BIGINT), (acc, v) -> acc + v) AS composed
           FROM (SELECT vec_id, transform(emb,
                   x -> CAST(floor(x * 100) AS INT)) AS qv FROM dot_spec_e) a
           JOIN (SELECT vec_id, transform(emb,
                   x -> CAST(floor(x * 100) AS INT)) AS qv FROM dot_spec_e) b
             ON a.vec_id < 20 AND b.vec_id < 20 AND a.vec_id < b.vec_id""")
        .filter(col("fused") =!= col("composed")).count()
      assert(idiff == 0)
      // null semantics match the HOF fold: null array, null element,
      // length mismatch → null; empty arrays → the fold's zero
      val edge = spark.sql(
        """SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS a,
                  dot_product(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D)) AS b,
                  dot_product(array(1D), array(1D, 2D)) AS c,
                  dot_product(CAST(array() AS ARRAY<DOUBLE>),
                              CAST(array() AS ARRAY<DOUBLE>)) AS d,
                  dot_product(array(3D, 4D), array(3D, 4D)) AS e,
                  int_dot(array(3, 4), array(5, 6)) AS f,
                  int_dot(array(3), array(5, 6)) AS g""").collect().head
      assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
      assert(edge.getDouble(3) == 0.0)
      assert(edge.getDouble(4) == 25.0)
      assert(edge.getLong(5) == 39L)
      assert(edge.isNullAt(6))
    }
  }

  test("sorted_intersect_count/atleast equal the built-in set ops (codegen only)") {
    // randomized sorted distinct long sets (fixed seed), the dedup tset
    // shape: parity with array_intersect pinned exactly
    val rnd = new scala.util.Random(42)
    val sets = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(rnd.nextInt(60).toLong).distinct.sorted)
    }
    sets.toDF("id", "tset").createOrReplaceTempView("sorted_spec_t")
    codegenOnly {
      val bad = spark.sql(
        """SELECT sorted_intersect_count(a.tset, b.tset) AS fused,
                  size(array_intersect(a.tset, b.tset)) AS builtin
           FROM sorted_spec_t a JOIN sorted_spec_t b ON a.id < b.id""")
        .filter(col("fused") =!= col("builtin")).count()
      assert(bad == 0)
      // thresholded early-abort variant: equivalent to (count >= k) for
      // every k in a range spanning the abort and the early-true paths
      val badK = spark.sql(
        """SELECT sorted_intersect_atleast(a.tset, b.tset, k) AS fused,
                  size(array_intersect(a.tset, b.tset)) >= k AS builtin
           FROM sorted_spec_t a JOIN sorted_spec_t b
           LATERAL VIEW explode(array(0, 1, 2, 3, 5, 8, 13, 40)) AS k
           WHERE a.id < b.id""")
        .filter(col("fused") =!= col("builtin")).count()
      assert(badK == 0)
      // edges: empty arrays, null array
      val edge = spark.sql(
        """SELECT sorted_intersect_count(CAST(array() AS ARRAY<BIGINT>),
                    array(1L, 2L)) AS a,
                  sorted_intersect_count(CAST(NULL AS ARRAY<BIGINT>),
                    array(1L)) AS b""")
        .collect().head
      assert(edge.getInt(0) == 0)
      assert(edge.isNullAt(1))
    }
  }

  test("dedup prefix-filter bound never drops a pair the exact confirm keeps") {
    // the band-join bound (Dedup.signaturesFromSets prefixJaccard): for
    // round(jac,4) >= t the sorted prefixes of length |S|-ceil(t'|S|)+1,
    // t' = t - 0.001, must overlap. Property-checked against brute force
    // on random set pairs, same formula as the production SQL.
    val t = 0.85
    val tp = t - 0.001
    val rnd = new scala.util.Random(7)
    var checked = 0
    for (_ <- 0 until 2000) {
      val base = Seq.fill(5 + rnd.nextInt(60))(rnd.nextLong() % 100).distinct
      // overlapping pair: perturb a shared base so high-jaccard pairs occur
      val a = (base ++ Seq.fill(rnd.nextInt(4))(rnd.nextLong())).distinct.sorted
      val b = (base.drop(rnd.nextInt(3)) ++
        Seq.fill(rnd.nextInt(4))(rnd.nextLong())).distinct.sorted
      val inter = a.toSet.intersect(b.toSet).size
      val jac = inter.toDouble / (a.size + b.size - inter)
      val jacR = math.round(jac * 10000.0) / 10000.0
      if (jacR >= t) {
        val pa = a.take(a.size - math.ceil(tp * a.size).toInt + 1)
        val pb = b.take(b.size - math.ceil(tp * b.size).toInt + 1)
        assert(pa.toSet.intersect(pb.toSet).nonEmpty,
          s"prefix bound dropped a passing pair: |a|=${a.size} |b|=${b.size} jac=$jacR")
        // the confirm's early-abort intersection bound (same formula as
        // the production SQL): inter >= ceil(t'(|a|+|b|)/(1+t'))
        val k = math.ceil(tp * (a.size + b.size) / (1.0 + tp)).toInt
        assert(inter >= k,
          s"intersection bound dropped a passing pair: inter=$inter k=$k jac=$jacR")
        checked += 1
      }
    }
    assert(checked > 50) // the generator must actually exercise the bound
  }

  test("ngrams aggregator counts top-k bigrams with deterministic order") {
    val df = Seq(
      Seq("a", "b", "a", "b"), // bigrams: "a b", "b a", "a b"
      Seq("a", "b", "c")       // bigrams: "a b", "b c"
    ).toDF("ws")
    val out = df.agg(NGrams.ngrams(col("ws"), 2, 3).as("t"))
      .select(explode(col("t")).as("g"))
      .select("g.ngram", "g.freq").as[(String, Long)].collect().toSeq
    assert(out.head == ("a b", 3L))
    assert(out.toSet == Set(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("hive-style permissive coercions (Engine sets ansi off)") {
    // SURVEY §7.4 risk register: string<->numeric comparison via double,
    // null (not error) on bad casts and division by zero
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    val r = spark.sql(
      "SELECT '10.0' = 10, '10' = 10, 7 / 0, CAST('abc' AS INT)").collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.isNullAt(2) && r.isNullAt(3))
  }

  test("context_ngrams: top fillers for a wildcard context") {
    import graft.functions.NGrams
    val df = Seq(
      Seq("i", "like", "tea", "a", "lot"),
      Seq("i", "like", "coffee"),
      Seq("you", "like", "tea", "too"),
      Seq("too", "short")
    ).toDF("ws")
    val out = df.agg(NGrams.contextNGrams("ws", Seq(Some("like"), None), 2).as("t"))
      .select(explode(col("t")).as("g")).select("g.ngram", "g.freq")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("tea", 2L), ("coffee", 1L)))
  }

  test("uniontype shim: tagged struct with exactly one live field") {
    import graft.functions.UnionTypeShim._
    val df = Seq((0, "s", 7), (1, "t", 9)).toDF("tag", "sval", "ival")
      .select(createUnion(col("tag"), col("sval"), col("ival")).as("u"))
      .select(unionTag(col("u")).as("t"),
        unionExtract(col("u"), 0).as("f0"), unionExtract(col("u"), 1).as("f1"))
    val rows = df.collect().map(r => (r.getInt(0), r.get(1), r.get(2))).toSeq
    assert(rows == Seq((0, "s", null), (1, null, 9)))
  }

  /** C-style round-half-away-from-zero at 2 decimals (what DuckDB does). */
  private def cRound2(x: Double): Double = {
    val y = x * 100.0
    val r = if (y < 0) -Math.round(-y) else Math.round(y)
    r.toDouble / 100.0
  }

  test("Fns.round matches C-style rounding on adversarial doubles") {
    // 8298.675 as a double is 8298.6749..94: C rounds .67 while Spark's
    // native round(col,2) gives .68 via shortest-decimal-repr HALF_UP
    val vals = Seq(8298.675, 2.5, -2.5, 0.125, 1.005, -0.005, 123.456, 0.0)
    val got = vals.toDF("x").select(Fns.round(col("x"), 2).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == vals.map(cRound2))
  }

  test("Fns.round agrees with C rounding on 10k seeded random doubles") {
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(10000)((rnd.nextDouble() - 0.5) * 2e6)
    val got = vals.toDF("x").select(col("x"), Fns.round(col("x"), 2).as("r"))
      .collect()
    got.foreach { row =>
      val (x, r) = (row.getDouble(0), row.getDouble(1))
      assert(r == cRound2(x), s"x=$x")
    }
  }
}
