package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{round => _, _}
import graft.queries.Fns.round

/** Embedding similarity search over an `Array[Float]` column. The cosine
  * kernel is a fused custom Catalyst expression with doGenCode
  * (functions/CosineSim.scala) — one loop, no intermediate arrays — and
  * the integer dot for quantized candidates stays a codegen'd
  * zip_with/aggregate; no UDF, no collect anywhere.
  *
  * Scale design (100 TB / billions of vectors):
  *  - brute force is the exact baseline: broadcast the (small) query set,
  *    one narrow pass over the corpus, per-query top-k via window rank —
  *    compiles to WindowGroupLimit so only k rows per query survive
  *    each partition before the final shuffle;
  *  - IVF: assign every vector to its nearest centroid once (narrow pass
  *    against broadcast centroids), then probe only nProbe clusters per
  *    query — the corpus scan shrinks by ~|clusters|/nProbe. Centroid
  *    assignment is re-usable (write once, partition by cluster_id).
  */
object Similarity {

  /** Cosine similarity between two array<double> columns (by name):
    * the fused single-loop Catalyst expression (functions/CosineSim.scala)
    * — same accumulation order and null/zero-norm semantics as the
    * previous aggregate(zip_with(...)) composition, minus one intermediate
    * array allocation and three extra traversals per row pair. Resolved
    * through the session registry ("cosine_sim", registered by
    * `GraftExtensions` on every session built with it).
    */
  def cosine(a: String, b: String): org.apache.spark.sql.Column =
    call_function("cosine_sim", col(a), col(b))

  /** Cast to double once; all math in f64 for oracle-stable results. */
  def prep(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Exact brute-force cosine top-k for the given query vectors. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = broadcast(queries.select(col("vec_id").as("q_id"), col("emb").as("q_emb")))
      .crossJoin(emb)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", cosine("q_emb", "emb"))
    finishTopK(joined, k)
  }

  /** Final per-query ranking every ANN variant shares: exact-cosine order
    * with vec_id tiebreak, top-k cut, the (q_id, neighbor_id, sim, rn)
    * output shape. */
  private def finishTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rn").cast("long").as("rn"))
  }

  /** IVF-style ANN: cluster by nearest centroid, probe nProbe clusters. */
  def ivfTopK(emb: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int = 2): DataFrame = {
    val cent = broadcast(centroids.select(col("vec_id").as("c_id"), col("emb").as("c_emb")))

    def nearestClusters(vecs: DataFrame, idCol: String, vecCol: String, top: Int) = {
      val w = Window.partitionBy(idCol).orderBy(col("csim").desc, col("c_id").asc)
      vecs.crossJoin(cent)
        .withColumn("csim", cosine(vecCol, "c_emb"))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= top)
    }

    // corpus assignment: 1 cluster per vector (this is the index build; at
    // scale it is computed once and persisted, partitioned by cluster_id)
    val assigned = nearestClusters(emb, "vec_id", "emb", 1)
      .select(col("vec_id"), col("emb"), col("c_id").as("cluster_id"))
    // queries probe their nProbe nearest clusters
    val probes = nearestClusters(
      queries.select(col("vec_id").as("q_id"), col("emb").as("q_emb")),
      "q_id", "q_emb", nProbe)
      .select(col("q_id"), col("q_emb"), col("c_id").as("cluster_id"))

    val cand = broadcast(probes).join(assigned, "cluster_id")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", cosine("q_emb", "emb"))
    finishTopK(cand, k)
  }

  /** Lloyd's k-means over the embedding column, fully distributed — the
    * trained upgrade over "first k vectors as centroids" for the IVF index.
    *
    * Each iteration is two narrow-plus-one-shuffle jobs: (1) assign every
    * vector to its nearest current centroid (broadcast the k centroids,
    * codegen'd dot products, WindowGroupLimit rank-1); (2) recompute each
    * centroid as the per-dimension mean of its members (posexplode →
    * groupBy(cluster, dim) — ONE hash aggregate whose key space is
    * k × dims, tiny regardless of corpus size). The only driver-side state
    * is the k × dims centroid matrix itself (collected per iteration to
    * keep the next plan flat and broadcastable — the same metadata-sized
    * collect discipline as Acid's file list).
    *
    * Deterministic init: the k lowest vec_ids. Spherical flavor: vectors
    * are assigned by cosine, so means are direction estimates; magnitude
    * cancels in the next assignment.
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // centroids carried in DOUBLE from the start so every iteration sees
    // one element type. r17: the k×dims matrix lives in a driver variable
    // between iterations — the old per-iteration cent.collect() re-ran the
    // init subplan (a corpus TakeOrdered pass) on iteration 1 and a plan
    // round-trip on every later one, purely to recover values the driver
    // had just produced. One init collect; each iteration is exactly one
    // distributed job (the broadcast-assign + mean aggregate).
    var prev: Seq[(Long, Seq[Double])] = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("c_id"),
        col("emb").cast("array<double>").as("c_emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    var cent: DataFrame = prev.toDF("c_id", "c_emb")
    var executed = 0
    var converged = false
    for (_ <- 0 until iters if !converged) {
      executed += 1
      val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("c_id").asc)
      val assigned = emb.crossJoin(broadcast(cent))
        .withColumn("csim", cosine("emb", "c_emb"))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") === 1)
        .select(col("c_id").as("cluster_id"), col("emb"))
      val means = assigned
        .select(col("cluster_id"), posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("cluster_id", "dim").agg(avg("v").as("m"))
        .groupBy("cluster_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), x -> x.m)")
          .as("c_emb"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
      // a cluster that attracted no vectors this round keeps its PREVIOUS
      // centroid instead of silently vanishing — the caller asked for k
      // centroids, and a shrunken index would degrade probe recall with
      // no signal anywhere
      val next = prev.map { case (id, e) => (id, means.getOrElse(id, e)) }
      // fixed-point early exit: when every centroid is EXACTLY unchanged,
      // the next assignment (a deterministic function of the centroids)
      // and hence every later iteration would reproduce this state —
      // breaking is result-identical, it just stops paying corpus passes.
      // Exact equality (not an epsilon) keeps the output bit-equal to the
      // fixed-iteration loop so the oracle/recall gates are untouched.
      converged = prev == next
      prev = next
      cent = next.toDF("c_id", "c_emb")
    }
    // scale instrument (the d08 lastClusterIterations pattern): Lloyd
    // passes actually paid — each is one broadcast-assign corpus pass
    // plus one k×dims mean aggregate, so flat iterations at N× corpus
    // means total work is N× per pass, no superlinear term
    lastKmeansIterations = executed
    // expose with the (vec_id, emb) shape ivfTopK/neardupIVF expect
    cent.select(col("c_id").as("vec_id"), col("c_emb").as("emb"))
  }

  /** Lloyd passes executed by the most recent [[kmeansCentroids]] call
    * (≤ its `iters` cap; smaller when the centroids reached a fixed
    * point). Read by tools/ScaleBoard for the s05 scale notch. */
  @volatile var lastKmeansIterations: Int = 0

  /** Int8 scalar-quantized ANN: the memory-bound scale path. Every vector
    * is quantized once to int8 components (per-vector max-abs scale:
    * q_i = floor(x_i / max|x| * 127 + 0.5)) — an 8× smaller index that a
    * real deployment keeps hot while the float vectors stay on disk.
    * Candidate generation ranks by the INTEGER dot product rescaled by the
    * two exact per-vector scales (idot * mx_a * mx_b) — deliberately no
    * norms: idot is exact integer math and mx is an exact max, so the
    * candidate ranking is bit-reproducible on any engine/partitioning
    * (the property that lets the oracle mirror it), while norm sums would
    * inject summation-order float noise into a top-C cut. Exact cosine
    * then reranks only the candFactor*k survivors per query.
    */
  def quantizedTopK(emb: DataFrame, queries: DataFrame, k: Int,
                    candFactor: Int = 4): DataFrame = {
    def quantize(df: DataFrame, pfx: String) = df
      .withColumn(s"${pfx}mx", array_max(transform(col(s"${pfx}emb"), x => abs(x))))
      .withColumn(s"${pfx}qv", transform(col(s"${pfx}emb"),
        x => floor(x / col(s"${pfx}mx") * 127 + lit(0.5)).cast("int")))
    val corpus = quantize(emb.select(col("vec_id"), col("emb").as("c_emb")), "c_")
      .withColumnRenamed("c_emb", "emb")
    val qs = quantize(
      queries.select(col("vec_id").as("q_id"), col("emb").as("q_emb")), "q_")
    // fused codegen integer dot (functions/DotProduct.scala IntDot): the
    // aggregate(zip_with(...)) it replaces ran interpreted per element
    // over every (query, vector) pair — the hottest loop of this
    // operator. Same int-multiply wrap, widening, fold order and null
    // semantics, so candidate rankings are bit-identical (r17).
    val idot = call_function("int_dot", col("q_qv"), col("c_qv"))
    val scored = broadcast(qs).crossJoin(corpus)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("ord", idot.cast("double") * col("q_mx") * col("c_mx"))
    val wc = Window.partitionBy("q_id").orderBy(col("ord").desc, col("vec_id").asc)
    val cand = scored.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= k * candFactor)
    finishTopK(cand.withColumn("sim", cosine("q_emb", "emb")), k)
  }

  /** Random-hyperplane LSH ANN — the bucketed alternative to IVF for
    * corpora with no trained index: each vector's signature is the sign
    * bit of its dot product with each of `planes` hyperplanes (sign-bit
    * LSH preserves angular similarity: P[bit match] = 1 - θ/π), bits are
    * grouped into bands, and candidates are vectors sharing ANY band
    * bucket with a query. Exact cosine reranks candidates to top-k.
    *
    * Scale design: signatures are a narrow per-row pass (the planes are a
    * broadcast-sized driver matrix folded into codegen'd literal arrays —
    * same discipline as kmeans' centroid matrix); the candidate step is an
    * equi-join on (band, bucket) so shuffle is O(vectors × bands), never
    * all-pairs; per-query rerank survives WindowGroupLimit. Recall tunes
    * with bands-vs-bits exactly like MinHash banding. Determinism: dots
    * are sequential f64 folds, so bucket keys are bit-reproducible — the
    * property that lets the oracle mirror the index logic.
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, planes: DataFrame,
              k: Int, bitsPerBand: Int = 8): DataFrame = {
    // planes: metadata-sized (numPlanes × dims) — collected once, inlined
    // as literal arrays so the signature pass has no join at all
    val pl = planes.select(col("vec_id"), col("emb")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1))
    require(pl.length % bitsPerBand == 0, "planes must fill whole bands")
    val bits = pl.map { p =>
      val plit = array(p.map(lit): _*)
      // fused codegen dot (functions/DotProduct.scala) — the
      // aggregate(zip_with(...)) fold it replaces is CodegenFallback and
      // ran interpreted per element over every corpus row × plane (r17;
      // same accumulation order and null semantics, bit-identical keys)
      val dot = call_function("dot_product", col("emb"), plit)
      // sign taken on the 6-decimal rounding: engines may differ in the
      // last ulp of a float sum, never at 1e-6 scale — keeps bucket keys
      // reproducible across engines (and oracle-mirrorable)
      when(round(dot, 6) > 0, "1").otherwise("0")
    }
    def bucketize(df: DataFrame, idCol: String): DataFrame = {
      val bands = bits.grouped(bitsPerBand).zipWithIndex.map { case (bs, b) =>
        struct(lit(b).as("band"), concat(bs: _*).as("bucket"))
      }.toSeq
      df.select(col(idCol), col("emb"),
        explode(array(bands: _*)).as("bb"))
        .select(col(idCol), col("emb"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    val corpus = bucketize(emb, "vec_id")
    val qs = bucketize(
      queries.select(col("vec_id").as("q_id"), col("emb")), "q_id")
      .withColumnRenamed("emb", "q_emb")
    // sim computed BEFORE the dedup exchange (r17, guide §2.3: shuffle
    // keys and metadata, not payloads): dropDuplicates used to shuffle
    // both full embedding arrays per candidate just to recompute one
    // cosine after; sim is a pure function of (q_id, vec_id), so scoring
    // first is result-identical and the exchange now carries three
    // scalars. The extra cosines (a pair sharing >1 band scores once per
    // shared band) are narrow codegen'd work — cheaper than the array
    // bytes at any scale.
    val cand = broadcast(qs).join(corpus, Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine("q_emb", "emb").as("sim"))
      .dropDuplicates("q_id", "vec_id")
    finishTopK(cand, k)
  }

  /** Scale path for embedding near-dup: candidate pairs are vectors that
    * share an IVF cluster under multi-probe assignment (each vector joins
    * its nProbe nearest centroids), exact cosine is computed ONLY on those
    * candidates. Replaces the all-pairs cross join: shuffle is
    * O(vectors × nProbe), and the equi-join on cluster_id is the only wide
    * stage — the discipline d02/s02 already use for text/ANN.
    */
  def neardupIVF(emb: DataFrame, centroids: DataFrame, minSim: Double,
                 nProbe: Int = 2): DataFrame = {
    val cent = broadcast(centroids.select(col("vec_id").as("c_id"), col("emb").as("c_emb")))
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("c_id").asc)
    // checkpointed: the cluster self-join below would otherwise recompute
    // the whole assignment subplan (corpus scan + k dot products per
    // vector + window rank) once per alias — at 100 TB a full extra pass
    // over the embeddings. One scan at checkpoint time, both join sides
    // read the materialized rows; released by the harness sweep.
    val assigned = graft.tools.Checkpoints.local(emb.crossJoin(cent)
      .withColumn("csim", cosine("emb", "c_emb"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= nProbe)
      .select(col("vec_id"), col("emb"), col("c_id").as("cluster_id")))
    // sim computed BEFORE the dedup exchange (r17, guide §2.3): the
    // dropDuplicates on (va, vb) used to ship BOTH embedding arrays per
    // candidate pair through its shuffle just to recompute one cosine
    // after; sim is a pure function of the pair, so scoring first is
    // result-identical and the exchange carries three scalars. The
    // redundant cosines (a pair co-member in >1 probed cluster scores
    // once per shared cluster, ≤ nProbe² times) are narrow codegen'd
    // work — cheaper than the array bytes at any scale. The minSim cut
    // also now lands before the exchange, shrinking it further.
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine("a.emb", "b.emb").as("sim"))
      .filter(col("sim") >= minSim)
      .dropDuplicates("va", "vb")
      .select(col("va"), col("vb"), round(col("sim"), 6).as("sim"))
  }
}
