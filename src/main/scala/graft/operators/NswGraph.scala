package graft.operators

import graft.Ckpt._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * NN-DESCENT-lite K-NN graph construction (Dong, Charikar & Li 2011,
 * "Efficient K-Nearest Neighbor Graph Construction for Generic
 * Similarity Measures", WWW — public method; the neighbor-refinement
 * core of the NSW/HNSW graph-ANN family) — r12 verdict #6: the engine's
 * ANN stack covered the quantization branch (IVF/PQ/IVFADC) but had no
 * graph branch.
 *
 * The algorithm is the one-line observation "a neighbor of my neighbor
 * is probably my neighbor": start from deterministic pseudo-random
 * neighbors, then per round score the 2-hop closure of the UNDIRECTED
 * current graph and cut back to the K best per node. This lite variant
 * keeps NN-descent's candidate generation (undirected 2-hop = Dong's
 * forward+reverse neighbor join) but not its incremental bookkeeping:
 * each round scores every candidate not in the current graph, so a pair
 * an earlier round rejected is scored again (and loses again: per-node
 * top-K is monotone). Candidate generation walks the full closure
 * (simpler, oracle-able; SURVEY §2.11). A cumulative seen-pairs table
 * measured as a net loss while the vectors broadcast (q171 2.94 → 3.67 s
 * at sf0.1, r16), and no workload exceeds the broadcast cap, so the build
 * has none. NswGraphSpec pins the build against the re-scoring
 * recurrence run driver-side.
 *
 * == Determinism / oracle ==
 * Everything is integer: vectors ride the floor(v*1024) quantization
 * bridge ([[Similarity.quantized]]), distances are exact BIGINT squared
 * L2 (one fused JVM kernel — the measured-faster form), per-node top-K
 * ties break on (d2, neighbor_id), and the init draws are q158's
 * md5-offset recipe ((i + 1 + md5(i||'_'||j) mod (n-1)) mod n — never
 * self). Fixed `rounds` unrolls in DuckDB as chained MATERIALIZED CTEs
 * (the q78/q87 discipline), so the whole build is cross-engine oracled
 * (q171) and its recall vs exact search is MEASURED data (q172, the
 * q140/q156 approximation-error-as-data theme).
 *
 * == Scale shape ==
 * Candidate volume per round is bounded by (2K)^2 per node — linear in
 * the corpus, never all-pairs; scoring is an ids-only equi-join back to
 * the checkpointed quantized table; the per-node top-K window
 * partitions by node id (N keys — the allowed high-cardinality window
 * class, never a Zipfian key); rounds ride eager localCheckpoints
 * (GraphRank's bounded-lineage trade). The sizing count doubles as the
 * checkpoint materialization (the r13 one-scan rule).
 */
object NswGraph {

  /** Exact integer squared L2 between two quantized vectors — fused
    * kernel (an interpreted zip_with/aggregate HOF form is the measured
    * 8-45x-slower shape per BASELINE.md). Takes Array[Long], NOT
    * Seq[Long]: the Seq signature makes Spark hand the kernel a boxed
    * wrapper whose per-element reads dominate (measured 2.1 s vs 0.45 s
    * for the same 466k 64-dim pairs at sf0.1 — r14); the Array
    * signature converts via one primitive bulk copy. */
  private val d2Udf = udf((a: Array[Long], b: Array[Long]) => {
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  })

  /** The kernel as a Column, for recall auditors that score candidate
    * pairs outside the build (q172). */
  def d2(a: Column, b: Column): Column = d2Udf(a, b)

  /**
   * Build the K-NN graph. Returns (vec_id, nn_rank, neighbor_id, d2)
   * with nn_rank 1..k per node ordered by (d2, neighbor_id).
   *
   * @param rounds fixed refinement rounds (oracle mode unrolls them);
   *               0 = the scored init draws only
   * @param seeds  init draws per node (before dedup/self-removal)
   */
  def nswBuild(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int = 4, rounds: Int = 2, seeds: Int = 4): DataFrame =
    project(nswBuildRounds(corpus, idCol, vecCol, k, rounds, seeds).last)

  private def project(g: DataFrame): DataFrame =
    g.select(col("a").as("vec_id"), col("rk").cast("int").as("nn_rank"),
      col("b").as("neighbor_id"), col("d2"))

  /** Vector-table broadcast gate (the `lshBitsFor` sizing-rule pattern):
    * the candidate→vector attach join broadcasts the quantized table
    * while it plausibly fits an executor (≤ this many vectors — a
    * checkpointed RDD has no stats, so without the explicit hint the
    * planner guesses huge and sort-merges 2K·n byte-light candidate
    * rows against it every round); past the cap the join falls back to
    * the shuffled equi-join, which is the correct 1e9-vector shape.
    *
    * Sized in estimated BYTES, not rows (r14 ADVICE): each row carries a
    * dim-element long array, so a row-count cap admits a ~0.5 GB
    * broadcast for 1e6 64-dim vectors (hinted on BOTH join sides each
    * refinement round — driver/executor OOM territory at the default
    * 8 GB heap) while a 1e6-row 8-dim table is fine either way. Budget:
    * 128 MiB of packed payload (dim longs + ~32 B of row overhead). */
  def broadcastVectorCapFor(n: Long, dim: Int): Boolean =
    n * (dim.toLong * 8L + 32L) <= (128L << 20)

  /**
   * Per-round graphs: element r is the graph AFTER r refinement rounds
   * (r = 0 is the scored init draws), columns (a, b, d2, rk). Each
   * round rides its own eager checkpoint and is the next round's input,
   * so asking for all rounds costs the SAME one build as asking for the
   * last (r13 verdict #4: q172 was rebuilding q171's graph only to read
   * 8 anchors' rows — now one build serves the whole recall-vs-rounds
   * curve).
   */
  def nswBuildRounds(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int, seeds: Int): Seq[DataFrame] = {
    require(k > 0 && rounds >= 0 && seeds > 0)
    val qv = corpus
      .select(col(idCol).as("vid"), Similarity.quantized(col(vecCol)).as("q"))
      .ckptLazy // consumers: sizing count + per-round scoring
    // contiguous-id contract (the q158 draw's): ids are 0..n-1
    val n = qv.count() // doubles as the checkpoint materialization
    require(n >= 2, s"graph construction needs >= 2 vectors, got $n")
    // one-row read off the already-materialized checkpoint: the byte-sized
    // broadcast gate needs the vector dimension, not just the row count
    val dim = qv.select(size(col("q"))).head().getInt(0)
    val vectorsBroadcast = broadcastVectorCapFor(n, dim)
    val hint: DataFrame => DataFrame =
      if (vectorsBroadcast) broadcast(_) else identity
    // r16 (§2.5 parallelism): on the broadcast path the candidate-pair
    // input reaches the kernel through AQE-coalesced exchanges — the
    // pairs are ids-only (~16 B/row), so AQE collapses them to 1-2
    // partitions and the d2 kernel runs nearly serial regardless of
    // cores (measured: q171 3.0 -> 2.6 s at sf0.1 with the explicit
    // spread; the 10x fixture reads 8-core/32-core ratio off the same
    // fix). The explicit numbered repartition is not coalescible and
    // the broadcast attach joins preserve it. On the shuffled-join path
    // (vectors past the broadcast cap) the join re-exchanges by key
    // anyway, so the spread would be a wasted shuffle — skipped.
    val spread: DataFrame => DataFrame =
      if (vectorsBroadcast)
        _.repartition(corpus.sparkSession.sparkContext.defaultParallelism,
          col("a"), col("b"))
      else identity
    def scored(cand: DataFrame): DataFrame =
      spread(cand)
        .join(hint(qv.select(col("vid").as("a"), col("q").as("qa"))), "a")
        .join(hint(qv.select(col("vid").as("b"), col("q").as("qb"))), "b")
        .select(col("a"), col("b"), d2Udf(col("qa"), col("qb")).as("d2"))

    val w = Window.partitionBy("a").orderBy(col("d2"), col("b"))
    def topK(sc: DataFrame): DataFrame =
      sc.withColumn("rk", row_number().over(w)).where(col("rk") <= k)

    val init = qv
      .select(col("vid").as("a"), explode(expr(s"sequence(1, $seeds)")).as("j"))
      .select(col("a"), expr(
        "pmod(a + 1 + pmod(cast(conv(substr(md5(cast(concat(a, '_', j) " +
          s"as binary)), 1, 15), 16, 10) as bigint), ${n - 1}L), ${n}L)").as("b"))
      .distinct()
    var g = topK(scored(init)).ckptEager
    val perRound = Vector.newBuilder[DataFrame]
    perRound += g
    for (_ <- 1 to rounds) {
      // undirected edges + the self-union of current edges as ONE
      // explode projection (no Union node: Catalyst's union-constraint
      // rewrite breaks on unions of renamed self-projections over
      // non-scan inputs, and the exploded form is cheaper anyway)
      val und = g.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .ckptLazy // consumers: both sides of the 2-hop join
      // 2-hop closure of the undirected graph; m-paths back to the
      // start drop via b != a. Keeping each node's own current edges in
      // the candidate set (the explode's first struct survives into
      // und, and (a,b) with m = b's reverse edge re-derives it) is what
      // makes per-node top-K monotone round over round.
      val cand = und.select(col("a"), col("b").as("m"))
        .join(und.select(col("a").as("m"), col("b")), "m")
        .select(col("a"), col("b")).where(col("b") =!= col("a"))
        .unionByName(und.select("a", "b"))
        .distinct()
      // score only candidates not in the current graph: graph pairs carry
      // their d2 from last round
      val fresh = scored(cand.join(g.select("a", "b"), Seq("a", "b"), "left_anti"))
      g = topK(fresh.unionByName(g.select("a", "b", "d2")))
        .ckptEager
      perRound += g
    }
    perRound.result()
  }
}
