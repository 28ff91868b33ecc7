package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{round => _, _}
import graft.functions.{SortedIntersectAtLeast, SortedIntersectCount}
import graft.queries.Fns.round
import graft.tools.Checkpoints

/** Large-scale near-duplicate detection built entirely from codegen'd Spark
  * built-ins — no UDFs, so every stage stays inside whole-stage codegen and
  * distributes trivially.
  *
  * Scale design (100 TB corpus):
  *  - shingling + hashing are narrow per-row transforms (no shuffle);
  *  - MinHash signatures are one hash-aggregate keyed by doc_id;
  *  - LSH banding turns the quadratic all-pairs problem into an equi-join
  *    on (band, band_hash) — only colliding buckets produce candidates, so
  *    shuffle volume is O(docs × bands), not O(docs²);
  *  - SimHash uses 16-bit band exact-match as the blocking key, the
  *    standard trick for hamming-distance search at scale.
  */
object Dedup {

  /** word-level w-shingles per document, distinct per doc. */
  def shingles(docs: DataFrame, w: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$w), i -> concat_ws(' ', slice(ws, i+1, $w)))"
      ))).as("shingle"))

  /** MinHash signature: one column per hash fn. A single hash-aggregate;
    * map-side partial mins keep shuffle tiny.
    *
    * The i-th hash function is `xxhash64(i, base)` over ONE base
    * xxhash64 of the shingle string — so the variable-length string is
    * traversed once and each derived hash mixes a fixed 8-byte long
    * (a handful of ALU ops, overflow-free under ANSI). At 100 TB the
    * string traversal IS the map-side cost, so this cuts the signature
    * pass ~numHashes-fold while keeping a proper independent family.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    // materialize the base hash in a projection so codegen computes it
    // once per row; each aggregate then mixes the 8-byte column
    val based = sh.select(col("doc_id"), xxhash64(col("shingle")).as("hb"))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("hb"))).as(s"mh$i"))
    based.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signature columns computed NARROWLY from an already-hashed
    * token-set array column named `tset` (array<bigint>) — no explode, no
    * shuffle. Component values are IDENTICAL to
    * `minhashSignatures(df.select(doc_id, explode(tset) as "shingle"), n)`:
    * that path computes hb = xxhash64(element) per exploded row and then
    * min(xxhash64(i, hb)) in a hash aggregate; this one evaluates the same
    * two-level hash family inside higher-order transforms, so the
    * group-by-doc_id shuffle (and the |tset|× row blow-up feeding it)
    * disappears from the plan — the signature pass becomes part of the
    * enclosing whole-stage-codegen span. At 100 TB that is one full
    * corpus shuffle (doc_id × numHashes longs) removed per signing pass.
    * Docs with an empty tset are dropped, matching the explode path
    * (explode of an empty array emits no rows, so such docs never reach
    * the aggregate).
    */
  private def signaturesFromSets(tsets: DataFrame, numHashes: Int,
                                 preHashed: Boolean = false,
                                 withSize: Boolean = false,
                                 keepSet: Boolean = false): DataFrame = {
    // two-step projection: hbs is a higher-order function over the set, so
    // CollapseProject keeps the Projects separate (non-cheap producer used
    // numHashes times) and hbs is computed once per row, not once per
    // signature component. `preHashed` callers already store the hb values
    // themselves (shingle-hash sets), so the inner rehash is skipped.
    // `withSize` carries |tset| as `sz` so exact-confirm callers can apply
    // the size-ratio bound AT the band join (see bandCandidates); `keepSet`
    // carries the set itself for callers that confirm from the same table.
    // (The prefix-filter bound was measured and rejected, r18: hash-ordered
    // prefixes of vocabulary sets almost always overlap.)
    val carried = (if (keepSet) Seq(col("tset")) else Nil) ++
      (if (withSize) Seq(size(col("tset")).as("sz")) else Nil)
    val hb = tsets.filter(size(col("tset")) >= 1)
      .select(col("doc_id") +: carried :+
        (if (preHashed) col("tset")
         else transform(col("tset"), h => xxhash64(h))).as("hbs"): _*)
    hb.select(hb.columns.filter(_ != "hbs").toSeq.map(col) ++
      (0 until numHashes).map(i =>
        array_min(transform(col("hbs"), v => xxhash64(lit(i), v))).as(s"mh$i")): _*)
  }

  /** Sorted, distinct, hash-encoded token sets `(doc_id, tset)` — the w=1
    * shingles both exact-confirm chains sign and confirm from. Set jaccard
    * is hash-invariant (collisions are 2^-64), so the confirm ships 8-byte
    * ints instead of strings; sorting once per document makes its
    * intersection a merge scan (sorted_intersect_count) and changes no
    * set-valued result. */
  private def tokenSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_sort(array_distinct(transform(split(col("text"), " "), t => xxhash64(t))))
        .as("tset"))

  // the sorted-set kernels as Columns over their Catalyst expressions: no
  // function-registry lookup, so the operators run on any session, not
  // only on one with the function pack
  private def sortedIntersectCount(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpression(a), toExpression(b)))

  private def sortedIntersectAtLeast(a: Column, b: Column, k: Column): Column =
    toColumn(SortedIntersectAtLeast(toExpression(a), toExpression(b), toExpression(k)))

  /** The exact confirm of a candidate pair of sorted token sets: their
    * jaccard, rounded to 4 decimals, is at least `minJaccard`. Cheapest
    * test first: the size ratio bounds jaccard, so most failing pairs skip
    * the intersection; the early-abort merge scan (r18) stops once the
    * unscanned tails cannot reach inter >= ceil(t'(|a|+|b|)/(1+t')); only
    * survivors pay the exact merge-scan count. Both bounds use t' =
    * t-0.001, slack for the rounding (jac >= t-0.00005 > t'), so neither
    * drops a pair the gate keeps. */
  private def jaccardAtLeast(a: Column, b: Column, minJaccard: Double): Column = {
    val tp = minJaccard - 0.001
    val inter = sortedIntersectCount(a, b).cast("long")
    least(size(a), size(b)).cast("double") >= lit(tp) * greatest(size(a), size(b)) &&
      sortedIntersectAtLeast(a, b,
        ceil(lit(tp) * (size(a) + size(b)) / lit(1.0 + tp)).cast("int")) &&
      round(inter / (size(a) + size(b) - inter), 4) >= minJaccard
  }

  /** LSH band candidate pairs (da < db, distinct): the equi-join that
    * replaces all-pairs comparison. Shuffle is O(docs × bands).
    * The banded bucket table is checkpointed before the self-join: Spark
    * re-evaluates a subplan once per self-join alias, so without the cut
    * the signature pass (however cheap) runs twice — and the banded rows
    * are the smallest representation in the chain (doc_id, band, bh).
    */
  def minhashCandidates(sig: DataFrame, numHashes: Int, bands: Int,
                        minJaccard: Double = -1.0,
                        distinctPairs: Boolean = true): DataFrame =
    bandCandidates(graft.tools.Checkpoints.local(bandize(sig, numHashes, bands)),
      minJaccard, distinctPairs)

  /** The band-bucket self-join over an already-materialized (or cheap)
    * banded table — split out so callers whose signature table is itself
    * checkpointed can skip the second materialization.
    *
    * When the banded table carries `sz` (|tset|, see signaturesFromSets
    * withSize) and the caller gates on EXACT jaccard >= minJaccard, the
    * size-ratio bound — jac <= min(|a|,|b|)/max(|a|,|b|), with 0.001
    * slack for the confirm's 4-decimal rounding — rides IN the join
    * condition, so infeasible pairs never reach the candidate distinct
    * exchange (r17: on the d06/d11 corpora, token-set minhash bands over
    * natural-language vocabularies admit ~65% of ALL pairs — the
    * candidate shuffle, not the signature pass, is the operator's
    * dominant scale term, and this bound cuts it by the exact share the
    * confirm would discard anyway). Never drops a pair the exact confirm
    * would keep, so outputs are unchanged. Estimated-jaccard consumers
    * (minhashPairs/d02) must NOT use it: their gate is the signature
    * estimate, which can exceed the true jaccard the bound constrains. */
  private def bandCandidates(banded: DataFrame,
                             minJaccard: Double = -1.0,
                             distinctPairs: Boolean = true): DataFrame = {
    val sized = minJaccard > 0 && banded.columns.contains("sz")
    val base = col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
      col("a.doc_id") < col("b.doc_id")
    val cond = if (sized)
      base && least(col("a.sz"), col("b.sz")).cast("double") >=
        (lit(minJaccard) - lit(0.001)) * greatest(col("a.sz"), col("b.sz"))
    else base
    // distinctPairs=false (r18): exact-confirm callers run the confirm
    // BEFORE any pair distinct — a pair colliding in k bands emits k
    // duplicate rows here, but duplicates confirm identically (the
    // confirm is a pure pair function) and the post-confirm distinct
    // dedupes the few TRUE pairs instead of every band collision. The
    // r18 30× StageProbe showed this distinct's exchange owned 95% of
    // d11's shuffle records (84.66M of 89.05M): raw collisions, k̄≈3.7
    // bands per colliding pair, shipped to a reduce-side hash distinct
    // only to be discarded by the confirm anyway. Estimated-jaccard
    // consumers (d02) keep distinct-first: their estimate join is the
    // output, so duplicates there would change row multiplicity.
    //
    // The explicit keyed repartition pins the fused band-join+confirm
    // stage's parallelism: the stage EXPLODES its input (16 band rows/doc
    // → every bucket collision → a merge-scan intersect per pair), and
    // AQE's byte-based coalescing — blind to the explosion — would fold
    // the few-MB band exchange to one partition and run the whole confirm
    // on one core. User-keyed repartitions are exempt from coalescing;
    // the count comes from the session's configured shuffle parallelism
    // (local: the core count; clusters: the deployment's own knob), never
    // a constant. Keys spread well: distinct (band, bh) ≈ docs × bands.
    val parts = banded.sparkSession.sessionState.conf.numShufflePartitions
    val side = if (distinctPairs) banded
               else banded.repartition(parts, col("band"), col("bh"))
    val pairs = side.as("a")
      .join(side.as("b"), cond)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    if (distinctPairs) pairs.distinct() else pairs
  }

  /** LSH candidate pairs + estimated jaccard (fraction of matching minhash
    * components). bands*rowsPerBand == numHashes.
    */
  def minhashPairs(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
                   minEstJaccard: Double = 0.5): DataFrame = {
    // shingle-HASH sets per doc, built narrowly (array_distinct over the
    // per-doc gram hashes — the same set the old explode+distinct path
    // produced, since xxhash64 is deterministic), then the signature as a
    // narrow projection: the per-doc explode and its group-by shuffle are
    // gone from the plan. The signature table still feeds FOUR aliased
    // join sides (two in the band self-join, two in the estimate join);
    // checkpointing it caps the corpus at ONE scan instead of four (Spark
    // does not reuse exchanges across self-join aliases). Released by the
    // harness sweep.
    val w = 3
    val gsets = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(0, size(ws)-$w), i -> xxhash64(concat_ws(' ', slice(ws, i+1, $w)))))"
      ).as("tset"))
    val sig = graft.tools.Checkpoints.local(
      signaturesFromSets(gsets, numHashes, preHashed = true))
    // sig is already materialized — the band explode per self-join alias
    // reads checkpointed rows, so no second cut is needed
    val cand = bandCandidates(bandize(sig, numHashes, bands))
    val est = (0 until numHashes)
      .map(i => when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
      .reduce(_ + _) / lit(numHashes.toDouble)
    cand
      .join(sig.as("sa"), col("da") === col("sa.doc_id"))
      .join(sig.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), round(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Scale-safe dedup resolution — the full 100 TB chain composed:
    * MinHash+LSH band join for candidates, exact token-set jaccard computed
    * ONLY on candidate pairs (array_intersect on the two token sets — a
    * per-pair codegen'd expression, never an all-pairs join), then a
    * keep-list that drops the higher doc_id of each confirmed pair.
    *
    * The MinHash runs over TOKENS (w=1 shingles), not 3-word shingles: the
    * confirm step filters on token-set jaccard, and banding only has the
    * no-false-negative property when it estimates the same similarity it
    * gates (3-shingle jaccard collapses under scattered edits that leave
    * token jaccard at 0.85+). With 64 hashes / 16 bands (r=4), a pair at
    * the 0.85 threshold collides in >=1 band with p ≈ 1-(1-0.85⁴)¹⁶ ≈
    * 0.99997, so the output equals the exact all-pairs resolution — which
    * is what the oracle checks.
    */
  def resolve(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
              minJaccard: Double = 0.85): DataFrame = {
    val dupIds = confirmedPairs(docs, numHashes, bands, minJaccard)
      .select(col("db")).distinct()
    docs.join(dupIds, docs("doc_id") === dupIds("db"), "left_anti")
      .select(col("doc_id"))
  }

  /** LSH candidates confirmed by exact token-set jaccard — the (da, db)
    * pair set the resolution/clustering stages consume. Same chain as
    * `resolve` (band equi-join for candidates, per-pair codegen'd
    * array_intersect for the exact check, never an all-pairs join).
    */
  def confirmedPairs(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                     minJaccard: Double = 0.85): DataFrame = {
    // ONE scan of the corpus: the checkpointed distinct-token sets feed
    // both the MinHash signatures (the w=1 shingles ARE the token sets)
    // and the two aliased sides of the exact-jaccard confirm join. Spark
    // re-evaluates a subplan once per self-join alias, so without the
    // checkpoints this chain scanned+aggregated the corpus twice — at
    // 100 TB a full extra pass (the reference's shared-work elimination:
    // optimizer/correlation/CorrelationOptimizer.java). Checkpoint storage
    // is released by the harness sweep after the consuming action.
    val tsets = Checkpoints.local(tokenSets(docs))
    // narrow signature over the checkpointed token sets (r17): the old
    // explode + 64-min group-by — a full corpus shuffle — and its second
    // checkpoint are gone; minhashCandidates cuts the (much smaller)
    // banded bucket table instead, so the self-join still evaluates the
    // signature exactly once. withSize + minJaccard push the exact
    // size-ratio bound INTO the band join (see bandCandidates) — the
    // candidate exchange, the chain's dominant scale term, drops the
    // pairs the confirm below would discard anyway. distinctPairs=false:
    // the pair distinct moves AFTER the confirm (see bandCandidates) —
    // only confirmed near-dup pairs, not every band collision, reach an
    // exchange.
    val sig = signaturesFromSets(tsets, numHashes, withSize = true)
    val cand = minhashCandidates(sig, numHashes, bands, minJaccard,
      distinctPairs = false)
    cand
      .join(tsets.as("ta"), col("da") === col("ta.doc_id"))
      .join(tsets.as("tb"), col("db") === col("tb.doc_id"))
      .filter(jaccardAtLeast(col("ta.tset"), col("tb.tset"), minJaccard))
      // pair distinct AFTER the confirm (r18): dedupes the confirmed
      // near-dup pairs (corpus-small) instead of every raw band collision
      // — the distinct that sat before the confirm owned 95% of the
      // chain's 30× shuffle records. Same output set: the confirm is
      // deterministic per pair, so band-duplicate rows agree.
      .select(col("da"), col("db"))
      .distinct()
  }

  /** Connected components over an undirected (da, db) pair set: every node
    * is labeled with the smallest doc_id reachable through any chain of
    * pairs — the transitive closure pair-based keep-lists get wrong on
    * chains (A~B, B~C but not A~C must still collapse to ONE cluster).
    *
    * Algorithm: min-label propagation with pointer-doubling shortcuts.
    * Each round is two hash-shuffles: (1) every node takes the min of its
    * own label and its neighbors' labels; (2) labels chase one level
    * through the label table itself (label(n) := label(label(n))), which
    * halves chain depth per round, so convergence is O(log n) rounds —
    * chain graphs do NOT degrade to O(diameter). Per round the lineage is
    * cut with localCheckpoint (on a real cluster: checkpoint to durable
    * storage) and convergence is an exact changed-row count, so the loop
    * does constant rounds on already-star-shaped graphs.
    * Reference intent: Hive has no graph operator; this serves the dedup
    * resolution chain (d06/d08) the way SkewJoinHandler serves joins —
    * keep every stage a bounded equi-join.
    *
    * Output: (node, cluster_id) for every node appearing in `pairs`.
    */
  /** Iterations the most recent `clusters` call took to converge —
    * observability for the scale boards: pointer-doubling predicts
    * O(log n) rounds, so a notch run asserts the ROUND count, not just
    * wall time (a linear-propagation bug would show here first). */
  @volatile var lastClusterIterations: Int = 0

  def clusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val edges = Checkpoints.cut(
      pairs.select(col("da").as("u"), col("db").as("v"))
        .union(pairs.select(col("db").as("u"), col("da").as("v")))
        .distinct())
    var lbl = Checkpoints.cut(edges.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(lbl, edges("v") === lbl("node"))
        .groupBy(col("u")).agg(min(col("label")).as("nmin"))
      // carry the previous label through both steps so convergence is a
      // cheap filter over the checkpointed result, not an extra join
      val stepped = lbl.join(nbrMin, lbl("node") === nbrMin("u"), "left")
        .select(col("node"), col("label").as("prev"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      val shortcut = Checkpoints.cut(stepped.as("a")
        .join(stepped.as("b"), col("a.label") === col("b.node"), "left")
        .select(col("a.node").as("node"), col("a.prev").as("prev"),
          coalesce(col("b.label"), col("a.label")).as("label")))
      val changed = shortcut.filter(col("label") =!= col("prev")).count()
      // the new generation is materialized (count above forced it) — the
      // superseded label table's storage can go; otherwise every iteration
      // pins another copy of the label set for the session's lifetime
      Checkpoints.release(lbl)
      lbl = shortcut.select(col("node"), col("label"))
      converged = changed == 0
      it += 1
    }
    // edges fed only the loop; the returned plan depends on lbl alone
    Checkpoints.release(edges)
    lastClusterIterations = it
    lbl.select(col("node"), col("label").as("cluster_id"))
  }

  /** Cluster-correct dedup resolution: keep exactly one document (the
    * smallest doc_id) per connected component of confirmed near-dup pairs,
    * plus every untouched document. Strictly stronger than the pair-based
    * keep-list in `resolve`, which over-keeps on transitive chains like
    * (2,3),(1,3): pair-based keeps {1,2}, cluster-based keeps only {1}.
    */
  def resolveByCluster(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                       minJaccard: Double = 0.85): DataFrame = {
    val comp = clusters(confirmedPairs(docs, numHashes, bands, minJaccard))
    docs.join(comp, docs("doc_id") === comp("node"), "left")
      .filter(col("node").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"))
  }

  /** 64-bit SimHash per document over word-shingles. Pure aggregation:
    * per bit, sum of ±1 weighted votes; sign of the sum sets the bit.
    * Deliberately kept as explode + group-by (NOT the narrow higher-order
    * fold the minhash signatures use): the 64 ±1 sums are codegen'd
    * sum(when(...)) aggregates here, while a `transform(sequence(0,63),
    * b -> aggregate(hset, ...))` fold runs interpreted per element — an
    * r17 experiment with the narrow form measured 2.8× SLOWER on the
    * board (1.41 s vs the 0.51 s reference) and was reverted.
    */
  def simhash(docs: DataFrame, w: Int = 3): DataFrame = {
    val toks = shingles(docs, w).withColumn("h", xxhash64(col("shingle")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** Exact token-set Jaccard for every pair sharing >=1 token: explode
    * distinct tokens, self-join on token, |A∩B| / (|A|+|B|-|A∩B|).
    * Output: (da, db, jac) with da < db, jac rounded to 4.
    * Quadratic in the worst case — run on LSH candidates or a bounded
    * scope, not a raw 100 TB corpus.
    */
  def tokenJaccardPairs(docs: DataFrame): DataFrame = {
    // checkpointed: toks feeds three aliased plan legs (self-join a/b +
    // the per-doc size aggregate) — one scan instead of three; tokens are
    // hash-encoded so the token self-join shuffles/compares 8-byte ints
    val toks = graft.tools.Checkpoints.local(docs.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(split(text, ' '), t -> xxhash64(t))"))).as("w")))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    toks.as("a")
      .join(toks.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        graft.queries.Fns.round(
          col("inter") / (col("sa.sz") + col("sb.sz") - col("inter")), 4).as("jac"))
  }

  /** Near-dup pairs by hamming distance over SimHash, blocked on 16-bit
    * bands (a pair within distance 3 must agree on >=1 of 4 bands).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // checkpointed: the banded self-join would otherwise recompute the
    // full SimHash aggregation once per alias (two corpus scans)
    val sig = graft.tools.Checkpoints.local(simhash(docs))
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact shared-span duplicate pairs: every document pair sharing at
    * least one identical n-token span (the "exact substring dedup" a
    * training-data pipeline runs alongside MinHash — fuzzy dedup misses
    * verbatim quotations embedded in otherwise-different documents).
    *
    * Scale design: gram extraction is a narrow per-row transform; the pair
    * step is an equi-join on the gram (never all-pairs). `maxDf` drops
    * grams appearing in more than that many documents BEFORE the self-join
    * — boilerplate spans (headers, license text) are exactly the grams
    * that would otherwise explode the join quadratically per gram, and a
    * span shared by thousands of documents is boilerplate, not duplication.
    * The df-filter is one hash aggregate. Grams are hashed to 64 bits
    * right after extraction, so the df aggregate and the pair join move
    * 8-byte keys, never n-token strings; shared-span counts are
    * hash-invariant (collisions 2^-64).
    *
    * Output: (da, db, n_shared) with da < db — n_shared counts the
    * distinct surviving spans the pair shares.
    */
  def sharedSpanPairs(docs: DataFrame, n: Int, maxDf: Long = 50): DataFrame = {
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> xxhash64(concat_ws(' ', slice(ws, i+1, $n))))"
      ))).as("gram"))
    // checkpointed: feeds the df-aggregate plus both self-join sides
    val g = graft.tools.Checkpoints.local(grams)
    val keep = g.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("gram")
    val gk = g.join(keep, Seq("gram"), "left_semi")
    gk.as("a")
      .join(gk.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental dedup: keep only the documents of a NEW batch that are
    * not near-duplicates of the EXISTING corpus — the per-crawl ingest
    * path of a continuously-updated training corpus. Same MinHash+LSH →
    * exact-jaccard chain as `confirmedPairs`, but the band join is
    * batch-vs-corpus instead of a self-join.
    *
    * Corpus index: when the corpus is a bare file scan (its analyzed plan
    * is a `HadoopFsRelation` with no partition columns, optionally under a
    * Project of attributes), it is split into one piece per listed file,
    * keyed by (path, length, modification time) — the identity Spark's
    * file-status cache uses — plus the hash and band counts. Each piece's
    * sorted token sets, sizes and band hashes are built once and held in
    * an eager checkpoint, with its row count, for the rest of the session
    * (durable under `spark.graft.checkpointDir`; `Checkpoints.sweep`
    * leaves them alone; `release` frees them). A call builds only the
    * pieces of files it has not seen and releases those whose files left
    * the corpus, so a file rewritten in place is a new key and never
    * answers from stale bands. An ingest that appends each increment's
    * survivors as a new file therefore signs, per call, only the batch and
    * that one file. Any other corpus (filtered reads, in-memory frames) is
    * one unkeyed piece built for that call alone. A returned frame reads
    * the pieces it was built from: consume it before the next call over a
    * different file set or a sweep.
    *
    * Join shape, from the row counts the checkpoints return: when the
    * batch has no more docs than the corpus and its band rows fit Spark's
    * broadcast size rule (ingest), they are broadcast with their token
    * sets and the held corpus rows are exploded and probed in place: band
    * join and confirm run in one narrow stage, and no corpus row is
    * shuffled, broadcast or joined back. Any other batch (d11 at scale)
    * takes a keyed repartition into the band join, and only the admitted
    * candidates join back to both sides' sets; sets carried through that
    * shuffle cost 4× its bytes on d11 at 30×. Both shapes keep the
    * size-ratio bound in the band join (r17) and no candidate distinct
    * (r18): a pair colliding in k bands confirms k times, and the final
    * `b_id` distinct dedupes.
    *
    * Guarantee: with w=1 token shingles, 64 hashes / 16 bands, a pair at
    * jaccard 0.85 collides in >=1 band with p ≈ 0.99997 (see `resolve`),
    * so the output equals the exact cross-comparison the oracle runs.
    */
  def dedupIncrement(corpus: DataFrame, batch: DataFrame,
                     numHashes: Int = 64, bands: Int = 16,
                     minJaccard: Double = 0.85): DataFrame = {
    val (bt, batchDocs) = Checkpoints.counted(tokenSets(batch))
    val (index, corpusDocs, corpusSigned) = corpusIndex(corpus, numHashes, bands)
    lastIncrementSignedDocs = batchDocs + corpusSigned
    val conf = batch.sparkSession.sessionState.conf
    // Spark's plan estimate of the batch, once per band row
    val ingest = batchDocs <= corpusDocs &&
      bt.queryExecution.optimizedPlan.stats.sizeInBytes * bands <=
        conf.autoBroadcastJoinThreshold
    val bband = bandize(signaturesFromSets(bt, numHashes, withSize = true,
      keepSet = ingest), numHashes, bands)
      .withColumnsRenamed(Map("doc_id" -> "b_id", "sz" -> "b_sz", "tset" -> "b_tset"))
    val sameBucket = col("bb.band") === col("cb.band") && col("bb.bh") === col("cb.bh")
    val dup = if (ingest)
      index.select(col("doc_id").as("c_id"), col("tset").as("c_tset"),
          posexplode(col("bhs")).as(Seq("band", "bh"))).as("cb")
        .join(broadcast(bband.as("bb")),
          sameBucket && jaccardAtLeast(col("bb.b_tset"), col("cb.c_tset"), minJaccard))
    else {
      // keyed repartition: the same parallelism pin as bandCandidates
      val cand = bband.repartition(conf.numShufflePartitions, col("band"), col("bh")).as("bb")
        .join(index.select(col("doc_id").as("c_id"), col("sz").as("c_sz"),
            posexplode(col("bhs")).as(Seq("band", "bh"))).as("cb"),
          sameBucket && least(col("bb.b_sz"), col("cb.c_sz")).cast("double") >=
            (lit(minJaccard) - lit(0.001)) * greatest(col("bb.b_sz"), col("cb.c_sz")))
      cand
        .join(bt.as("tb"), col("b_id") === col("tb.doc_id"))
        .join(index.as("tc"), col("c_id") === col("tc.doc_id"))
        .filter(jaccardAtLeast(col("tb.tset"), col("tc.tset"), minJaccard))
    }
    // anti-join off the checkpointed batch token sets — the batch parquet
    // is read exactly once (at checkpoint time), like the corpus. Ingest
    // dup ids are a subset of a batch that fits a broadcast, so they go too
    val distinctIds = dup.select(col("b_id")).distinct()
    val dupIds = if (ingest) broadcast(distinctIds) else distinctIds
    bt.select(col("doc_id"))
      .join(dupIds, col("doc_id") === dupIds("b_id"), "left_anti")
  }

  /** Batch docs plus not-yet-indexed corpus docs the most recent
    * `dedupIncrement` call tokenized and signed — the per-call signing
    * work the corpus index saves. */
  @volatile var lastIncrementSignedDocs: Long = 0L

  /** One corpus file as read by a `dedupIncrement` call, plus the
    * signature shape its piece was built for. */
  private final case class PieceKey(path: String, length: Long, modified: Long,
                                    numHashes: Int, bands: Int)

  /** Per-session corpus index pieces with their row counts, see
    * `dedupIncrement`. A session's map is locked while a call refreshes
    * it; its pieces are released by later calls on that session, or all
    * at once by `release`. */
  private val indexes =
    mutable.Map.empty[SparkSession, mutable.Map[PieceKey, (DataFrame, Long)]]

  /** Free `session`'s corpus index and forget the session (`Engine.closeSession`
    * calls it). A no-op on a session without one. */
  def release(session: SparkSession): Unit =
    indexes.synchronized(indexes.remove(session)).foreach { held =>
      held.synchronized { held.values.foreach(p => Checkpoints.release(p._1)); held.clear() }
    }

  /** The corpus as `(doc_id, tset, sz, bhs)` rows — its sorted token sets,
    * their sizes and the docs' band hashes — unioned from index pieces,
    * plus its doc count and how many corpus docs this call had to sign. */
  private def corpusIndex(corpus: DataFrame, numHashes: Int,
                          bands: Int): (DataFrame, Long, Long) = {
    def piece(docs: DataFrame, keep: Boolean): (DataFrame, Long) =
      Checkpoints.counted(signaturesFromSets(tokenSets(docs), numHashes,
        withSize = true, keepSet = true)
        .select(col("doc_id"), col("tset"), col("sz"),
          array(bandHashes(numHashes, bands): _*).as("bhs")), keep)
    val indexed = corpusFiles(corpus).map { files =>
      val held = indexes.synchronized(
        indexes.getOrElseUpdate(corpus.sparkSession, mutable.Map.empty))
      held.synchronized {
        val want = files.map { case (path, len, mtime, read) =>
          PieceKey(path, len, mtime, numHashes, bands) -> read }.toMap
        (held.keySet -- want.keySet).foreach(k => Checkpoints.release(held.remove(k).get._1))
        val signed = want.toSeq.map { case (k, read) =>
          if (held.contains(k)) 0L
          else { val p = piece(read(), keep = true); held(k) = p; p._2 }
        }.sum
        (want.keys.toSeq.sortBy(_.path).map(held), signed)
      }
    }
    indexed match {
      case Some((pieces, signed)) if pieces.nonEmpty =>
        (pieces.map(_._1).reduce(_ union _), pieces.map(_._2).sum, signed)
      case _ => val (p, n) = piece(corpus, keep = false); (p, n, n)
    }
  }

  /** The files of a bare file-scan corpus — a `HadoopFsRelation` with no
    * partition columns, optionally under a Project of attributes — as
    * (path, length, modification time, reader of that file alone), from
    * the listing the frame was created with. None for any other plan, and
    * when a file path holds glob characters. */
  private def corpusFiles(corpus: DataFrame)
      : Option[Seq[(String, Long, Long, () => DataFrame)]] = {
    val relation = corpus.queryExecution.analyzed match {
      case Project(list, lr: LogicalRelation) if list.forall(_.isInstanceOf[Attribute]) =>
        Some(lr.relation)
      case lr: LogicalRelation => Some(lr.relation)
      case _ => None
    }
    relation.collect { case fs: HadoopFsRelation if fs.partitionSchema.isEmpty =>
      // the piece reader names its one file itself
      val opts = fs.options.filter { case (k, _) =>
        !Set("path", "paths", "basepath")(k.toLowerCase) }
      val reader = corpus.sparkSession.read.format(fs.fileFormat.getClass.getName)
        .schema(fs.dataSchema).options(opts)
      fs.location.listFiles(Nil, Nil).flatMap(_.files).map { f =>
        val path = f.getPath.toString
        (path, f.getLen, f.getModificationTime, () => reader.load(path))
      }
    }
      // load() expands glob patterns: a path holding glob characters
      // could read other files under its key
      .filter(_.forall { case (path, _, _, _) => !path.exists("{}[]*?\\".contains(_)) })
  }

  /** The band hashes of a signature table (`mh0` … `mh{numHashes-1}`):
    * band b hashes its r = numHashes / bands consecutive components. */
  private def bandHashes(numHashes: Int, bands: Int): Seq[Column] = {
    val r = numHashes / bands
    // xxhash64 (native, never re-registered): the SQL-name `hash` resolves
    // to HiveHash for script parity (FunctionPack), but the band hash is
    // an internal detail that must not shift with the registry
    (0 until bands).map(b =>
      xxhash64((b * r until (b + 1) * r).map(i => col(s"mh$i")): _*))
  }

  /** Explode a signature table into (doc_id, band, bh) band-bucket rows —
    * the LSH index layout both the self-join and the incremental
    * batch-vs-corpus join consume.
    */
  private def bandize(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // `sz` (exact size-ratio bound, see bandCandidates) and `tset` (the
    // set a broadcast probe side confirms from) ride along when present
    val keep = Seq("sz", "tset").filter(sig.columns.contains).map(col)
    sig.select(col("doc_id") +: keep :+
      posexplode(array(bandHashes(numHashes, bands): _*)).as(Seq("band", "bh")): _*)
  }

  /** Benchmark decontamination: drop every document that shares ANY
    * word-level n-gram with the benchmark corpus — the standard test-set
    * leakage filter a training-data pipeline runs before training.
    *
    * Scale design: gram extraction is a narrow per-row transform; the
    * benchmark side (always orders of magnitude smaller than the corpus)
    * is deduplicated and BROADCAST, so the contamination check is a
    * broadcast semi-join with no corpus shuffle at all. The final
    * keep-filter anti-join carries NO broadcast hint: `contaminated` is
    * a set of CORPUS doc ids, which under heavy leakage (precisely the
    * scenario this operator exists for) is corpus-proportional — a
    * forced broadcast would be a multi-GB driver/executor transfer on a
    * 100 TB corpus with a few-percent hit rate. AQE still picks a
    * broadcast hash join at runtime whenever the measured set is small.
    * Grams are hashed to 64 bits at extraction, shrinking the broadcast
    * ~10× vs n-token strings; the doc-level keep decision is
    * hash-invariant (collisions 2^-64).
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    def grams(df: DataFrame) =
      df.select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= n)
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(sequence(0, size(ws)-$n), i -> xxhash64(concat_ws(' ', slice(ws, i+1, $n))))"
        ))).as("gram"))
    val benchGrams = broadcast(grams(bench).select("gram").distinct())
    val contaminated = grams(docs)
      .join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Exact duplicate-SPAN removal (the "ExactSubstr" dedup of Lee et al.,
    * Deduplicating Training Data Makes Language Models Better, 2022):
    * every n-token window that occurs more than once in the corpus is
    * removed from every occurrence EXCEPT the globally-first one
    * (min (doc_id, pos)), overlapping windows merging into maximal spans.
    * Unlike document-level dedup (d01–d09) this rewrites the documents:
    * boilerplate shared across otherwise-distinct pages is cut while the
    * unique prose survives.
    *
    * Scale design: occurrences carry 8-byte gram hashes, never token
    * strings; the canonical occurrence is ONE hash-aggregate keyed by
    * gram (min over a (doc_id,pos) struct — no window over the corpus);
    * removal indices fan out ×n but collapse in a per-doc aggregate
    * bounded by document length; the rebuild is a narrow higher-order
    * `filter` over the token array. Two shuffles total (by gram, by doc).
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text).
    */
  def removeDuplicateSpans(docs: DataFrame, n: Int): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    // position-stamped window hashes; docs shorter than n emit none
    val occ = Checkpoints.local(ws.filter(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> xxhash64(concat_ws(' ', slice(ws, i+1, $n))))"
      )).as(Seq("pos", "gram"))))
    // the one surviving occurrence per duplicated gram
    val canon = occ.groupBy("gram").agg(
      count(lit(1)).as("df"),
      min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("df") >= 2)
    val rm = occ.join(canon, "gram")
      .filter(!(col("doc_id") === col("keep.doc_id") &&
        col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    // covered token indices, merged per doc (overlap dissolves in the
    // distinct). r17: aggregate the removal POSITIONS and expand each to
    // its n-token cover after the per-doc aggregate — the old explode
    // shipped n rows per removal through the doc shuffle; positions alone
    // shuffle n× fewer rows and the expansion is a narrow per-row
    // transform. Same index set (array_distinct vs collect_set — the
    // consumers only test membership and size).
    val drop = rm
      .groupBy("doc_id").agg(collect_list(col("pos")).as("poss"))
      .select(col("doc_id"), expr(
        s"array_distinct(flatten(transform(poss, p -> sequence(p, p + ${n - 1}))))"
      ).as("dropIdx"))
    ws.join(drop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        // size(NULL) is -1 under the engine's legacy (Hive) sizeOfNull —
        // branch on the null, don't coalesce the sentinel
        when(col("dropIdx").isNull, lit(0L))
          .otherwise(size(col("dropIdx")).cast("long")).as("n_removed"),
        concat_ws(" ", expr(
          "filter(ws, (t, i) -> dropIdx IS NULL OR NOT array_contains(dropIdx, i))"
        )).as("clean_text"))
  }
}
